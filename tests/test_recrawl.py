"""Recrawl scheduling (operators/recrawl.py): DuckDB hash-verified
in-process — the same hard signal the driver applies to graded
queries — plus the cuckoo re-open flow end to end."""

import duckdb
import pyspark.sql.functions as F

from bisque_spark.operators.recrawl import (
    DEFAULT_POLICY,
    due_for_refresh,
    policy_table,
    reopen_for_refetch,
)


def _seen_df(spark, n=400):
    """Deterministic synthetic seen table spanning hosts/epochs/hints."""
    return spark.range(n).select(
        F.xxhash64("id").alias("url_hash"),
        F.concat(F.lit("http://h"), (F.col("id") % 13).cast("string"),
                 F.lit(".test/p"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("id") % 13).cast("string"),
                 F.lit(".test")).alias("host"),
        (F.col("id") % 9).cast("int").alias("fetched_epoch"),
        (F.col("id") % 4).cast("int").alias("change_hint"),
    )


def _oracle(rows, now_epoch, limit_per_host=None):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE seen (url_hash BIGINT, url VARCHAR, host VARCHAR, "
        "fetched_epoch INT, change_hint INT)"
    )
    con.executemany("INSERT INTO seen VALUES (?,?,?,?,?)", rows)
    con.execute(
        "CREATE TABLE policy (change_hint INT, refresh_interval INT, "
        "weight DOUBLE)"
    )
    con.executemany("INSERT INTO policy VALUES (?,?,?)", DEFAULT_POLICY)
    base = f"""
        SELECT s.url_hash, s.url, s.host,
               {now_epoch} - s.fetched_epoch AS age,
               ({now_epoch} - s.fetched_epoch) * p.weight AS priority
        FROM seen s JOIN policy p USING (change_hint)
        WHERE {now_epoch} - s.fetched_epoch >= p.refresh_interval
    """
    if limit_per_host is not None:
        base = f"""
            SELECT url_hash, url, host, age, priority FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY host
                    ORDER BY priority DESC, url_hash ASC) AS rk
                FROM ({base})
            ) WHERE rk <= {limit_per_host}
        """
    return con.execute(base).fetchall()


def test_due_for_refresh_matches_duckdb_oracle(spark):
    seen = _seen_df(spark)
    rows = [
        (r["url_hash"], r["url"], r["host"], r["fetched_epoch"],
         r["change_hint"])
        for r in seen.collect()
    ]
    for now_epoch, cap in ((9, None), (12, None), (9, 3)):
        got = {
            (r["url_hash"], r["url"], r["host"], r["age"],
             round(r["priority"], 6))
            for r in due_for_refresh(
                seen, now_epoch, policy_table(spark), limit_per_host=cap
            ).collect()
        }
        want = {
            (u, url, h, a, round(p, 6))
            for u, url, h, a, p in _oracle(rows, now_epoch, cap)
        }
        assert got == want, (now_epoch, cap)
    # policy semantics: volatile pages (hint 3) due after 1 epoch,
    # static (hint 0) not due until 8
    d = due_for_refresh(seen, 9, policy_table(spark))
    hints = {
        r["change_hint"]
        for r in d.join(seen.select("url_hash", "change_hint"), "url_hash")
        .select("change_hint").distinct().collect()
    }
    assert 3 in hints


def test_reopen_flow_feeds_frontier_again(spark):
    """due → cuckoo delete + exact-table drop → filter_unseen with the
    cuckoo kernel re-admits exactly the re-opened URLs."""
    from bisque_spark.operators.seen import (
        CUCKOO,
        Cuckoo,
        build_shards,
        filter_unseen,
    )

    seen = _seen_df(spark, n=200)
    hashes = seen.select("url_hash")
    shards = build_shards(hashes, n_buckets=8, kernel=Cuckoo(nb=1 << 9))

    due = due_for_refresh(seen, 9, policy_table(spark), limit_per_host=2)
    shards2, exact2 = reopen_for_refetch(due, shards, hashes, buckets=8)

    # the whole original URL set presented as candidates: exactly the
    # re-opened ones come out schedulable
    out = filter_unseen(hashes, shards2, exact2, n_buckets=8, kernel=CUCKOO)
    got = {r["url_hash"] for r in out.collect()}
    want = {r["url_hash"] for r in due.collect()}
    assert got == want


def test_world_hosts_memo_matches_loop():
    """r8: page_status's host-membership set is memoized per World —
    same contents as the per-call set comprehension it replaced, and
    status decisions are unchanged on member/non-member hosts."""
    from bisque_spark.synth import World, _world_hosts, page_status

    world = World(n_hosts=23, pages_per_host=9)
    assert _world_hosts(world) == {world.host(i) for i in range(world.n_hosts)}
    assert _world_hosts(world) is _world_hosts(World(n_hosts=23, pages_per_host=9))
    assert page_status(world, f"http://{world.host(3)}/p0.html") == 200
    assert page_status(world, "http://h9999.example3.test/p0.html") == 404
