"""Catalog shim: create/append/merge/version semantics (Iceberg-shaped
operations on the parquet fallback)."""

import pyspark.sql.functions as F
import pytest

from bisque_spark.sources.catalog import ParquetCatalog


@pytest.fixture()
def cat(spark, tmp_path):
    return ParquetCatalog(spark, str(tmp_path / "warehouse"))


SCHEMA = "image_id string, caption string, phash long"


def test_create_append_read(spark, cat):
    cat.create_table("images", SCHEMA)
    assert cat.exists("images")
    assert cat.version("images") == 0
    df = spark.createDataFrame(
        [("a", "one", 1), ("b", "two", 2)], SCHEMA
    )
    cat.append("images", df)
    assert cat.version("images") == 1
    got = cat.read("images")
    assert got.count() == 2
    assert dict(got.dtypes)["phash"] == "bigint"


def test_merge_by_key_upsert(spark, cat):
    cat.create_table("images", SCHEMA)
    cat.append(
        "images",
        spark.createDataFrame([("a", "one", 1), ("b", "two", 2)], SCHEMA),
    )
    cat.merge_by_key(
        "images",
        spark.createDataFrame([("b", "TWO", 20), ("c", "three", 3)], SCHEMA),
        key="image_id",
    )
    rows = {r["image_id"]: (r["caption"], r["phash"]) for r in cat.read("images").collect()}
    assert rows == {"a": ("one", 1), "b": ("TWO", 20), "c": ("three", 3)}
    assert cat.version("images") == 2


def test_partitioned_table(spark, cat):
    cat.create_table("frontier", "url string, bucket int", partition_by=["bucket"])
    df = spark.range(20).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        (F.col("id") % 4).cast("int").alias("bucket"),
    )
    cat.append("frontier", df)
    got = cat.read("frontier")
    assert got.count() == 20
    # partition pruning: a bucket filter scans one partition directory
    plan = got.where(F.col("bucket") == 1)._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan


def test_time_travel_and_expire(spark, cat):
    """Snapshot manifests give Iceberg-style time travel: every retained
    version reads exactly the file set its commit recorded; expire
    drops old versions and deletes only unreferenced files."""
    cat.create_table("t", SCHEMA)
    cat.append("t", spark.createDataFrame([("a", "one", 1)], SCHEMA))  # v1
    cat.append("t", spark.createDataFrame([("b", "two", 2)], SCHEMA))  # v2
    cat.merge_by_key(  # v3: replaces 'a', keeps 'b'
        "t", spark.createDataFrame([("a", "ONE", 10)], SCHEMA), key="image_id"
    )
    assert cat.snapshots("t") == [0, 1, 2, 3]
    assert cat.read("t", version=0).count() == 0
    assert {r["image_id"] for r in cat.read("t", version=1).collect()} == {"a"}
    assert {r["image_id"] for r in cat.read("t", version=2).collect()} == {"a", "b"}
    now = {r["image_id"]: r["caption"] for r in cat.read("t").collect()}
    assert now == {"a": "ONE", "b": "two"}

    expired = cat.expire_snapshots("t", keep_last=2)
    assert expired == [0, 1]
    assert cat.snapshots("t") == [2, 3]
    # retained snapshots still read correctly after the expiry deletes
    assert {r["image_id"] for r in cat.read("t", version=2).collect()} == {"a", "b"}
    assert {r["caption"] for r in cat.read("t").collect()} == {"ONE", "two"}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cat.read("t", version=1)


def test_append_never_rewrites_files(spark, cat, tmp_path):
    """Commits are append-only at the file level (Iceberg invariant):
    an append leaves every pre-existing data file byte-identical."""
    import glob
    import hashlib
    import os

    cat.create_table("t2", SCHEMA)
    cat.append("t2", spark.createDataFrame([("a", "one", 1)], SCHEMA))
    data = os.path.join(cat.root, "t2", "data")

    def digests():
        return {
            f: hashlib.md5(open(f, "rb").read()).hexdigest()
            for f in glob.glob(os.path.join(data, "**", "*.parquet"), recursive=True)
        }

    before = digests()
    cat.append("t2", spark.createDataFrame([("b", "two", 2)], SCHEMA))
    after = digests()
    assert set(before) < set(after)  # strictly new files added
    assert all(after[f] == h for f, h in before.items())  # none rewritten


def test_expire_protects_current_snapshot(spark, cat):
    cat.create_table("t3", SCHEMA)
    cat.append("t3", spark.createDataFrame([("a", "one", 1)], SCHEMA))
    with pytest.raises(ValueError):
        cat.expire_snapshots("t3", keep_last=0)
    assert cat.read("t3").count() == 1  # untouched


def test_merge_copy_on_write_prunes_partitions(spark, cat):
    """MERGE rewrites ONLY data files whose partition values intersect
    the incoming rows' partitions (Iceberg copy-on-write shape): the
    untouched partitions' file paths are carried into the new snapshot
    BY REFERENCE — identical path lists across snapshots — and the
    merged result equals a full recompute. At 100 TB a merge touching
    one partition rewrites that partition, not the table."""
    import json
    import os

    schema = "image_id string, bucket int, caption string"
    cat.create_table("cow", schema, partition_by=["bucket"])
    base = spark.createDataFrame(
        [("a", 0, "one"), ("b", 1, "two"), ("c", 2, "three"), ("d", 1, "four")],
        schema,
    )
    cat.append("cow", base)  # v1

    delta = spark.createDataFrame(
        [("b", 1, "TWO"), ("e", 1, "five")], schema  # touches bucket=1 only
    )
    cat.merge_by_key("cow", delta, key="image_id")  # v2

    # (a) result equality with a full recompute
    rows = {r["image_id"]: (r["bucket"], r["caption"]) for r in cat.read("cow").collect()}
    assert rows == {
        "a": (0, "one"), "b": (1, "TWO"), "c": (2, "three"),
        "d": (1, "four"), "e": (1, "five"),
    }

    # (b) untouched partitions' file paths IDENTICAL across snapshots
    m = json.load(open(os.path.join(cat.root, "cow", "_manifest.json")))
    v1, v2 = set(m["snapshots"]["1"]), set(m["snapshots"]["2"])
    untouched_v1 = {f for f in v1 if "bucket=1" not in f}
    untouched_v2 = {f for f in v2 if "bucket=1" not in f}
    assert untouched_v1 == untouched_v2 and untouched_v1  # carried by reference
    touched_v1 = v1 - untouched_v1
    touched_v2 = v2 - untouched_v2
    assert touched_v1.isdisjoint(touched_v2)  # hit partition fully rewritten

    # (c) time travel still works
    old = {r["image_id"]: r["caption"] for r in cat.read("cow", version=1).collect()}
    assert old == {"a": "one", "b": "two", "c": "three", "d": "four"}


def test_merge_cow_new_partition_and_no_prune(spark, cat):
    """A merge whose keys land only in a partition the table has never
    seen rewrites NOTHING (all current files carried); prune=False
    falls back to the full-scan path and still produces the same rows."""
    import json
    import os

    schema = "image_id string, bucket int, caption string"
    cat.create_table("cow2", schema, partition_by=["bucket"])
    cat.append(
        "cow2",
        spark.createDataFrame([("a", 0, "one"), ("b", 1, "two")], schema),
    )  # v1
    cat.merge_by_key(
        "cow2",
        spark.createDataFrame([("z", 9, "nine")], schema),
        key="image_id",
    )  # v2: brand-new partition
    m = json.load(open(os.path.join(cat.root, "cow2", "_manifest.json")))
    v1, v2 = set(m["snapshots"]["1"]), set(m["snapshots"]["2"])
    assert v1 < v2  # every v1 file carried; only new files added
    assert cat.read("cow2").count() == 3

    cat.merge_by_key(
        "cow2",
        spark.createDataFrame([("a", 0, "ONE")], schema),
        key="image_id",
        prune=False,
    )  # v3: full-scan fallback
    rows = {r["image_id"]: r["caption"] for r in cat.read("cow2").collect()}
    assert rows == {"a": "ONE", "b": "two", "z": "nine"}


def test_merge_cow_file_level_stats_pruning(spark, cat):
    """With a stats_key, MERGE prunes at FILE granularity INSIDE a
    partition (Iceberg per-file column stats): a file whose [min,max]
    key range is disjoint from the incoming keys is carried by
    reference even though it lives in a touched partition."""
    import json
    import os

    schema = "image_id string, bucket int, caption string"
    cat.create_table("fstats", schema, partition_by=["bucket"],
                     stats_key="image_id")
    # two appends → two files in bucket=0 with DISJOINT key ranges
    cat.append(
        "fstats",
        spark.createDataFrame([("a1", 0, "x"), ("a2", 0, "y")], schema)
        .coalesce(1),
    )  # v1: file A keys a1..a2
    cat.append(
        "fstats",
        spark.createDataFrame([("m1", 0, "x"), ("m2", 0, "y")], schema)
        .coalesce(1),
    )  # v2: file B keys m1..m2
    m = json.load(open(os.path.join(cat.root, "fstats", "_manifest.json")))
    assert len(m["snapshots"]["2"]) == 2
    assert len(m["file_stats"]) == 2  # stats recorded at write time

    cat.merge_by_key(
        "fstats",
        spark.createDataFrame([("m1", 0, "X")], schema),
        key="image_id",
    )  # v3: touches only file B's key range
    m = json.load(open(os.path.join(cat.root, "fstats", "_manifest.json")))
    v2, v3 = set(m["snapshots"]["2"]), set(m["snapshots"]["3"])
    stats = m["file_stats"]
    file_a = next(f for f in v2 if stats[f][0] == "a1")
    file_b = next(f for f in v2 if stats[f][0] == "m1")
    assert file_a in v3  # disjoint-range file carried BY REFERENCE
    assert file_b not in v3  # overlapping file rewritten
    rows = {r["image_id"]: r["caption"] for r in cat.read("fstats").collect()}
    assert rows == {"a1": "x", "a2": "y", "m1": "X", "m2": "y"}
    # time travel unaffected
    old = {r["image_id"]: r["caption"]
           for r in cat.read("fstats", version=2).collect()}
    assert old == {"a1": "x", "a2": "y", "m1": "x", "m2": "y"}


def test_merge_cow_unpartitioned_stats_only(spark, cat):
    """An UNPARTITIONED table with a stats_key still prunes at file
    granularity (per-file key ranges alone)."""
    import json
    import os

    schema = "image_id string, caption string"
    cat.create_table("flat", schema, stats_key="image_id")
    cat.append("flat", spark.createDataFrame(
        [("a1", "x"), ("a2", "y")], schema).coalesce(1))  # file A
    cat.append("flat", spark.createDataFrame(
        [("m1", "x")], schema).coalesce(1))               # file B
    cat.merge_by_key(
        "flat", spark.createDataFrame([("m1", "X")], schema), key="image_id"
    )
    m = json.load(open(os.path.join(cat.root, "flat", "_manifest.json")))
    v2, v3 = set(m["snapshots"]["2"]), set(m["snapshots"]["3"])
    stats = m["file_stats"]
    file_a = next(f for f in v2 if stats[f][0] == "a1")
    assert file_a in v3  # carried by reference, no partitions involved
    rows = {r["image_id"]: r["caption"] for r in cat.read("flat").collect()}
    assert rows == {"a1": "x", "a2": "y", "m1": "X"}


def test_merge_on_non_stats_key_skips_stats_pruning(spark, cat):
    """Merging on a key DIFFERENT from the table's stats_key must not
    use the stats ranges for pruning: a stats-disjoint file can still
    hold a row whose MERGE-key value collides with an incoming row, and
    carrying it by reference would commit duplicate keys."""
    schema = "image_id string, caption string"
    cat.create_table("xkey", schema, stats_key="image_id")
    # file A: image_id range [a1,a2] — stats-disjoint from the delta's
    # image_id m1, but caption "x" collides with the incoming caption
    cat.append("xkey", spark.createDataFrame(
        [("a1", "x"), ("a2", "y")], schema).coalesce(1))
    cat.append("xkey", spark.createDataFrame(
        [("m1", "z")], schema).coalesce(1))
    cat.merge_by_key(
        "xkey", spark.createDataFrame([("m9", "x")], schema), key="caption"
    )
    rows = cat.read("xkey").collect()
    caps = [r["caption"] for r in rows]
    assert sorted(caps) == ["x", "y", "z"]  # exactly one "x" survives
    assert {(r["image_id"], r["caption"]) for r in rows} == {
        ("m9", "x"), ("a2", "y"), ("m1", "z"),
    }


def test_merge_cow_null_key_stats_are_conservative(spark, cat):
    """Files whose stats_key is all-null (min/max = None) must be
    conservatively rewritten, not crash the range check."""
    schema = "image_id string, caption string"
    cat.create_table("nullk", schema, stats_key="image_id")
    cat.append("nullk", spark.createDataFrame(
        [(None, "x"), (None, "y")], schema).coalesce(1))
    cat.append("nullk", spark.createDataFrame(
        [("k1", "z")], schema).coalesce(1))
    cat.merge_by_key(
        "nullk", spark.createDataFrame([("k1", "Z")], schema), key="image_id"
    )
    rows = {(r["image_id"], r["caption"]) for r in cat.read("nullk").collect()}
    assert rows == {(None, "x"), (None, "y"), ("k1", "Z")}


def test_compact_folds_small_files(spark, cat):
    """Compaction (Iceberg rewriteDataFiles shape): N appends leave N
    files per partition; compact() folds them to one per partition in
    a NEW snapshot with identical content, while prior snapshots keep
    reading their original files."""
    import json
    import os

    schema = "image_id string, bucket int, caption string"
    cat.create_table("cmp", schema, partition_by=["bucket"],
                     stats_key="image_id")
    for i in range(4):  # 4 appends → ≥4 files per bucket
        cat.append(
            "cmp",
            spark.createDataFrame(
                [(f"k{i}-{b}", b, f"c{i}") for b in (0, 1)], schema
            ).coalesce(1),
        )
    m = json.load(open(os.path.join(cat.root, "cmp", "_manifest.json")))
    before_files = m["snapshots"][str(m["version"])]
    assert len(before_files) >= 8
    before_rows = {(r["image_id"], r["caption"])
                   for r in cat.read("cmp").collect()}

    v = cat.compact("cmp")
    m = json.load(open(os.path.join(cat.root, "cmp", "_manifest.json")))
    after_files = m["snapshots"][str(v)]
    assert len(after_files) == 2  # one per bucket
    assert {(r["image_id"], r["caption"]) for r in cat.read("cmp").collect()} \
        == before_rows
    # stats recomputed for the compacted files
    assert all(f in m["file_stats"] for f in after_files)
    # time travel: the pre-compaction snapshot still reads
    assert {(r["image_id"], r["caption"])
            for r in cat.read("cmp", version=v - 1).collect()} == before_rows
    # and a subsequent merge prunes against the compacted layout
    cat.merge_by_key(
        "cmp",
        spark.createDataFrame([("k0-0", 0, "NEW")], schema),
        key="image_id",
    )
    rows = {r["image_id"]: r["caption"] for r in cat.read("cmp").collect()}
    assert rows["k0-0"] == "NEW" and len(rows) == 8


def test_compact_single_partition_scope(spark, cat):
    """partition_values scopes compaction to one partition; the others
    carry by reference."""
    import json
    import os

    schema = "image_id string, bucket int, caption string"
    cat.create_table("cmp2", schema, partition_by=["bucket"])
    for i in range(3):
        cat.append(
            "cmp2",
            spark.createDataFrame(
                [(f"x{i}-{b}", b, "c") for b in (0, 1)], schema
            ).coalesce(1),
        )
    m = json.load(open(os.path.join(cat.root, "cmp2", "_manifest.json")))
    v0 = m["version"]
    before = set(m["snapshots"][str(v0)])
    v = cat.compact("cmp2", partition_values={"bucket": 1})
    m = json.load(open(os.path.join(cat.root, "cmp2", "_manifest.json")))
    after = set(m["snapshots"][str(v)])
    untouched = {f for f in before if "bucket=1" not in f}
    assert untouched <= after  # bucket=0 files carried by reference
    assert len([f for f in after if "bucket=1" in f]) == 1
    assert cat.read("cmp2").count() == 6


def test_concurrent_commits_never_lose_updates(spark, cat):
    """The commit lock serializes writers: interleaved appends from two
    threads (plus an expire_snapshots in the middle, the r3-advice
    lost-update race) must all land — final version = total commits,
    every row present, no orphaned snapshot pointers."""
    import threading

    schema = "image_id string, caption string"
    cat.create_table("conc", schema)
    n_each = 4
    errors = []

    def writer(tag):
        try:
            for i in range(n_each):
                cat.append(
                    "conc",
                    spark.createDataFrame([(f"{tag}-{i}", "x")], schema),
                )
                if tag == "a" and i == 1:
                    cat.expire_snapshots("conc", keep_last=2)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    rows = {r["image_id"] for r in cat.read("conc").collect()}
    assert rows == {f"{t}-{i}" for t in ("a", "b") for i in range(n_each)}
    assert cat.version("conc") == 2 * n_each  # no lost version bumps


def test_read_as_of_timestamp(spark, cat):
    """Iceberg's TIMESTAMP AS OF: commit timestamps are recorded per
    snapshot; as_of reads the newest snapshot at or before the
    instant (legacy snapshots without timestamps read as epoch 0)."""
    import time as _t

    schema = "image_id string, caption string"
    cat.create_table("tt", schema)
    cat.append("tt", spark.createDataFrame([("a", "one")], schema))
    t_mid = _t.time()
    _t.sleep(0.05)
    cat.append("tt", spark.createDataFrame([("b", "two")], schema))

    assert cat.read("tt", as_of=t_mid).count() == 1
    assert cat.read("tt", as_of=_t.time()).count() == 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="version OR as_of"):
        cat.read("tt", version=1, as_of=t_mid)


@pytest.mark.slow
def test_catalog_model_based_random_op_sequences(spark, tmp_path):
    """Stateful model check: random append/merge/compact/expire
    sequences applied to BOTH the ParquetCatalog and a pure-Python
    model; after every op the live table equals the model, and every
    retained snapshot equals the model's history. Deterministic op
    stream (seeded) — catches cross-op interactions no single-op test
    covers (e.g. merge-after-compact, expire-then-merge)."""
    import random

    from bisque_spark.sources.catalog import ParquetCatalog

    rng = random.Random(1234)
    cat = ParquetCatalog(spark, str(tmp_path / "model-wh"))
    schema = "image_id string, bucket int, caption string"
    cat.create_table("m", schema, partition_by=["bucket"],
                     stats_key="image_id")

    model: dict[str, tuple[int, str]] = {}  # key -> (bucket, caption)
    history = {0: {}}
    version = 0
    next_key = 0

    def fresh_rows(n, update_frac=0.5):
        nonlocal next_key
        rows = []
        for _ in range(n):
            if model and rng.random() < update_frac:
                k = rng.choice(sorted(model))
                b = model[k][0]  # key keeps its partition (CoW contract)
            else:
                k = f"k{next_key}"
                next_key += 1
                b = rng.randrange(3)
            rows.append((k, b, f"c{rng.randrange(1000)}"))
        # one row per key per batch (last-writer-wins inside a batch is
        # ambiguous for both sides)
        dedup = {}
        for k, b, c in rows:
            dedup[k] = (k, b, c)
        return list(dedup.values())

    for _step in range(14):
        op = rng.choice(
            ["append", "merge", "merge", "compact", "expire", "delete"]
        )
        if op == "append":
            rows = fresh_rows(rng.randrange(1, 4), update_frac=0.0)
            cat.append("m", spark.createDataFrame(rows, schema))
            for k, b, c in rows:
                model[k] = (b, c)
            version += 1
        elif op == "merge":
            rows = fresh_rows(rng.randrange(1, 4))
            cat.merge_by_key("m", spark.createDataFrame(rows, schema),
                             key="image_id")
            for k, b, c in rows:
                model[k] = (b, c)
            version += 1
        elif op == "compact":
            new_v = cat.compact("m")
            if new_v == version:  # empty table: no-op
                continue
            version = new_v
        elif op == "delete":
            if not model:
                continue
            k = rng.choice(sorted(model))
            n = cat.delete_where("m", f"image_id = '{k}'")
            assert n == 1
            del model[k]
            version += 1
        else:
            cat.expire_snapshots("m", keep_last=2)
            history_keys = sorted(history)
            for v in history_keys[:-1]:
                if v < version - 1:
                    del history[v]
        history[version] = dict(model)

        got = {
            r["image_id"]: (r["bucket"], r["caption"])
            for r in cat.read("m").collect()
        }
        assert got == model, f"live mismatch after {op} (v{version})"
        for v in cat.snapshots("m"):
            if v in history:
                snap = {
                    r["image_id"]: (r["bucket"], r["caption"])
                    for r in cat.read("m", version=v).collect()
                }
                assert snap == history[v], f"snapshot v{v} mismatch"


def test_schema_evolution_add_and_drop(spark, cat):
    """ADD/DROP COLUMN are metadata-only commits: no data file is
    rewritten, old rows read the new column as NULL, and time travel
    is schema-faithful (pre-change snapshots keep their own schema)."""
    import json
    import os

    schema = "image_id string, caption string"
    cat.create_table("evo", schema)
    cat.append("evo", spark.createDataFrame(
        [("a", "x"), ("b", "y")], schema).coalesce(1))   # v1
    m1 = json.load(open(os.path.join(cat.root, "evo", "_manifest.json")))
    v1_files = set(m1["snapshots"]["1"])

    cat.add_column("evo", "score double")                # v2, metadata-only
    m2 = json.load(open(os.path.join(cat.root, "evo", "_manifest.json")))
    assert set(m2["snapshots"]["2"]) == v1_files         # same physical files
    cur = cat.read("evo")
    assert cur.columns == ["image_id", "caption", "score"]
    assert {r["score"] for r in cur.collect()} == {None}  # null backfill
    # time travel to v1 reads with the OLD schema
    assert cat.read("evo", version=1).columns == ["image_id", "caption"]

    # new writes carry the column; old files still project NULL
    cat.append("evo", spark.createDataFrame(
        [("c", "z", 0.5)], "image_id string, caption string, score double"
    ).coalesce(1))                                       # v3
    rows = {r["image_id"]: r["score"] for r in cat.read("evo").collect()}
    assert rows == {"a": None, "b": None, "c": 0.5}

    cat.drop_column("evo", "caption")                    # v4, metadata-only
    cur = cat.read("evo")
    assert cur.columns == ["image_id", "score"]
    assert cat.read("evo", version=3).columns == [
        "image_id", "caption", "score"
    ]  # pre-drop snapshot still sees it
    with pytest.raises(ValueError, match="already exists"):
        cat.add_column("evo", "score double")
    with pytest.raises(ValueError, match="no column"):
        cat.drop_column("evo", "nope")


def test_delete_where_copy_on_write(spark, cat):
    """DELETE ... WHERE rewrites ONLY files containing matching rows
    (others carried by reference); previous snapshots keep the rows."""
    import json
    import os

    schema = "image_id string, n int"
    cat.create_table("del", schema, stats_key="image_id")
    cat.append("del", spark.createDataFrame(
        [("a1", 1), ("a2", 2)], schema).coalesce(1))     # file A
    cat.append("del", spark.createDataFrame(
        [("m1", 3), ("m2", 4)], schema).coalesce(1))     # file B
    n = cat.delete_where("del", "n >= 3 AND image_id = 'm1'")
    assert n == 1
    m = json.load(open(os.path.join(cat.root, "del", "_manifest.json")))
    v2, v3 = set(m["snapshots"]["2"]), set(m["snapshots"]["3"])
    stats = m["file_stats"]
    file_a = next(f for f in v2 if stats[f][0] == "a1")
    assert file_a in v3                                   # carried untouched
    rows = {(r["image_id"], r["n"]) for r in cat.read("del").collect()}
    assert rows == {("a1", 1), ("a2", 2), ("m2", 4)}
    # time travel: the deleted row is still in snapshot 2
    old = {(r["image_id"], r["n"]) for r in cat.read("del", version=2).collect()}
    assert ("m1", 3) in old
    # no-match delete is a no-op (no new snapshot)
    assert cat.delete_where("del", "n > 100") == 0
    assert cat.version("del") == 3


def test_bucketed_catalog_zero_exchange_join_with_time_travel(spark, cat):
    """VERDICT r5 #6: bucketed layout composes with the snapshot
    catalog — a catalog-managed bucketed table joins another
    same-bucketed table with ZERO shuffle exchanges, through append,
    MERGE (CoW rewrite) and time travel alike."""
    from plan_checks import exchange_count

    ddl = "url_hash long, url string, score double"
    cat.create_table("seen_b", ddl, bucket_by=("url_hash", 8))
    cat.create_table("rank_b", ddl, bucket_by=("url_hash", 8))
    rows = [(i * 7, f"http://h{i}.test/", float(i)) for i in range(200)]
    cat.append("seen_b", spark.createDataFrame(rows, ddl))
    cat.append("rank_b", spark.createDataFrame(rows[:150], ddl))
    # MERGE rewrites files — they must come back bucketed
    upd = [(i * 7, f"http://h{i}.test/u", float(-i)) for i in range(50)]
    cat.merge_by_key("seen_b", spark.createDataFrame(upd, ddl), "url_hash")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = cat.read_bucketed("seen_b")
        b = cat.read_bucketed("rank_b")
        j = a.join(b.select("url_hash"), "url_hash")
        assert exchange_count(j) == 0
        # same join via plain read(): pays the shuffles
        plain = cat.read("seen_b").join(
            cat.read("rank_b").select("url_hash"), "url_hash"
        )
        assert exchange_count(plain) >= 2
        assert sorted(map(tuple, j.collect())) == sorted(
            map(tuple, plain.collect())
        )
        # time travel to the pre-merge snapshot, still zero-exchange
        a1 = cat.read_bucketed("seen_b", version=1)
        j1 = a1.join(b.select("url_hash"), "url_hash")
        assert exchange_count(j1) == 0
        assert j1.count() == 150
        got = {
            (r["url_hash"], r["url"]) for r in a1.collect()
        }
        assert got == {(h, u) for (h, u, _s) in rows}
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_catalog_agg_free_and_delete_where(spark, cat):
    from plan_checks import exchange_count

    ddl = "url_hash long, url string, score double"
    cat.create_table("t_b", ddl, bucket_by=("url_hash", 4))
    rows = [(i, f"http://x{i}.test/", float(i % 10)) for i in range(100)]
    cat.append("t_b", spark.createDataFrame(rows, ddl))
    n = cat.delete_where("t_b", "score >= 5.0")
    assert n == sum(1 for r in rows if r[2] >= 5.0)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = cat.read_bucketed("t_b")
        # groupBy on the bucket key needs no exchange either
        agg = df.groupBy("url_hash").count()
        assert exchange_count(agg) == 0
        assert df.count() == sum(1 for r in rows if r[2] < 5.0)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_rejects_partition_combo(cat):
    with pytest.raises(ValueError):
        cat.create_table(
            "bad_b",
            "a long, b string",
            partition_by=["b"],
            bucket_by=("a", 4),
        )
