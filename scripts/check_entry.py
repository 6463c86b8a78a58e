"""Local replica of the driver's correctness gate: run each
__spark_entry__.queries() entry at sf0.01 and compare against
oracle_sql() via DuckDB (row count + order-insensitive value hash)."""

from __future__ import annotations

import hashlib
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

import __spark_entry__ as entrymod
from bisque_spark.session import get_spark
from bisque_spark.util import release_caches

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

# fixture-VALUES oracles (simhash/minhash signatures) must read the
# same tables the queries run on when checking a non-default sf
import os

os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    spark = get_spark(app_name="check_entry")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    ok = fail = 0
    for name, fn in queries.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(ex).__name__}: {str(ex)[:200]}")
            fail += 1
            continue
        finally:
            # caller-owns-cache contract (util.pin): don't let one
            # query's pinned intermediates ride along for the next 46
            release_caches()
        el = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows, cols={scols} ({el:.1f}s) [rows-only]")
            ok += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error {type(ex).__name__}: {str(ex)[:200]}")
            fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} vs {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if not problems:
            hs, ho = value_hash(scols, srows), value_hash(ocols, orows)
            if hs != ho:
                problems.append(f"valuehash {hs} vs {ho}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} ({el:.1f}s)")
            # show a few differing rows for debugging
            sset = {tuple(norm_cell(v) for v in r) for r in srows}
            oset = {tuple(norm_cell(v) for v in r) for r in orows}
            for r in list(sset - oset)[:3]:
                print("    spark-only:", r)
            for r in list(oset - sset)[:3]:
                print("    duck-only: ", r)
            fail += 1
        else:
            print(f"OK    {name}: {len(srows)} rows ({el:.1f}s)")
            ok += 1
    print(f"SUMMARY ok={ok} fail={fail}")
    spark.stop()


if __name__ == "__main__":
    main()
