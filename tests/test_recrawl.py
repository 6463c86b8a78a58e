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


def test_annotate_preserves_learned_aimd_hints(spark):
    """ADVICE r5: annotation must never clobber AIMD state learned via
    apply_refresh_observations — change_hint = greatest(prior, sitemap
    hint); an unlisted URL keeps its learned bucket and prior boost."""
    from bisque_spark.hashing import xxhash64_str
    from bisque_spark.operators.recrawl import annotate_seen_from_sitemap

    listed = "http://a.test/listed"
    unlisted = "http://a.test/unlisted"
    seen = spark.createDataFrame(
        [
            (xxhash64_str(listed), listed, "a.test", 1, 3, 1.5),
            (xxhash64_str(unlisted), unlisted, "a.test", 1, 2, 0.8),
        ],
        "url_hash long, url string, host string, fetched_epoch int,"
        " change_hint int, boost double",
    )
    # sitemap lists `listed` as static (hint 0, priority 0.1 → ×0.2)
    entries = spark.createDataFrame(
        [("a.test", listed, None, None, 0.1)],
        "host string, loc string, lastmod string, changefreq string,"
        " priority double",
    )
    ann = {
        r["url"]: (r["change_hint"], round(r["boost"], 6))
        for r in annotate_seen_from_sitemap(seen, entries, "2026-08-17")
        .collect()
    }
    # learned hint 3 survives the weaker sitemap hint; sitemap boost
    # replaces the prior boost for listed URLs only
    assert ann[listed] == (3, 0.2)
    assert ann[unlisted] == (2, 0.8)


def test_sitemap_refresh_composition_matches_oracle(spark):
    """sitemap entries → annotate_seen_from_sitemap → due_for_refresh,
    hash-verified against an independent python+DuckDB oracle: hints
    and boosts recomputed from the raw sitemap XML via the python
    twins (parse_sitemap / canonicalize_url / xxhash64_str), the
    schedule by SQL with the boost folded into priority."""
    from datetime import date, datetime

    from bisque_spark.functions.robots import fetch_robots
    from bisque_spark.functions.sitemap import sitemap_seed_locs
    from bisque_spark.functions.urlnorm import canonicalize_url
    from bisque_spark.hashing import xxhash64_str
    from bisque_spark.operators.recrawl import annotate_seen_from_sitemap
    from bisque_spark.synth import World
    from bisque_spark.util import release_caches

    world = World(n_hosts=10, n_seeds=12)
    hosts = spark.createDataFrame(
        [(world.host(i),) for i in range(world.n_hosts)], "host string"
    )
    ent_rows = [
        (r["host"], r["loc"], r["lastmod"], r["changefreq"], r["priority"])
        for r in sitemap_seed_locs(fetch_robots(hosts, world), world).collect()
    ]
    release_caches()
    entries = spark.createDataFrame(
        ent_rows,
        "host string, loc string, lastmod string, changefreq string,"
        " priority double",
    )

    NOW = "2026-08-17"
    listed = sorted({c for (_, loc, _, _, _) in ent_rows
                     if (c := canonicalize_url(loc))})
    urls = listed + [f"http://unlisted{i}.test/p{i}" for i in range(40)]
    seen_rows = [
        (xxhash64_str(u), u, u.split("/")[2], i % 9)
        for i, u in enumerate(urls)
    ]
    seen = spark.createDataFrame(
        seen_rows, "url_hash long, url string, host string, fetched_epoch int"
    )

    ann = annotate_seen_from_sitemap(seen, entries, NOW)
    got_ann = {
        r["url_hash"]: (r["change_hint"], round(r["boost"], 6))
        for r in ann.collect()
    }

    # --- python twin of the annotation ------------------------------
    def hint_lm(lm):
        if lm is None:
            return 0
        try:
            d = datetime.strptime(lm[:10], "%Y-%m-%d").date()
        except ValueError:
            return 0
        age = (date(2026, 8, 17) - d).days
        return 3 if age < 7 else 2 if age < 30 else 1 if age < 180 else 0

    CF = {"always": 3, "hourly": 3, "daily": 3, "weekly": 2,
          "monthly": 1, "yearly": 0, "never": 0}

    want_hints: dict[int, tuple[int, float]] = {}
    for (_, loc, lm, cf, pri) in ent_rows:
        c = canonicalize_url(loc)
        if c is None:
            continue
        h = xxhash64_str(c)
        hint = max(hint_lm(lm), CF.get((cf or "").strip().lower(), 0))
        boost = 2.0 * min(max(pri if pri is not None else 0.5, 0.0), 1.0)
        old = want_hints.get(h, (-1, -1.0))
        want_hints[h] = (max(old[0], hint), max(old[1], boost))
    want_ann = {
        uh: want_hints.get(uh, (0, 1.0)) for (uh, _, _, _) in seen_rows
    }
    assert got_ann == {
        k: (h, round(b, 6)) for k, (h, b) in want_ann.items()
    }
    # the corpus must exercise every branch: unlisted (static, x1),
    # listed boosted and de-boosted, changefreq- and lastmod-driven
    assert {h for h, _ in want_ann.values()} >= {0, 1, 2, 3}
    boosts = {b for _, b in want_ann.values()}
    assert any(b > 1.0 for b in boosts) and any(0 < b < 1.0 for b in boosts)

    # --- schedule over the annotation, DuckDB oracle ----------------
    got = {
        (r["url_hash"], r["age"], round(r["priority"], 6))
        for r in due_for_refresh(
            ann, 9, policy_table(spark), limit_per_host=3
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE seen (url_hash BIGINT, url VARCHAR, host VARCHAR,"
        " fetched_epoch INT, change_hint INT, boost DOUBLE)"
    )
    con.executemany(
        "INSERT INTO seen VALUES (?,?,?,?,?,?)",
        [
            (uh, u, h, fe, want_ann[uh][0], want_ann[uh][1])
            for (uh, u, h, fe) in seen_rows
        ],
    )
    con.execute(
        "CREATE TABLE policy (change_hint INT, refresh_interval INT,"
        " weight DOUBLE)"
    )
    con.executemany("INSERT INTO policy VALUES (?,?,?)", DEFAULT_POLICY)
    want = set(
        con.execute(
            """
        SELECT url_hash, age, round(priority, 6) FROM (
            SELECT s.url_hash, s.host,
                   9 - s.fetched_epoch AS age,
                   (9 - s.fetched_epoch) * p.weight * s.boost AS priority,
                   row_number() OVER (
                       PARTITION BY s.host
                       ORDER BY (9 - s.fetched_epoch) * p.weight * s.boost
                                DESC, s.url_hash ASC) AS rk
            FROM seen s JOIN policy p USING (change_hint)
            WHERE 9 - s.fetched_epoch >= p.refresh_interval
        ) WHERE rk <= 3
        """
        ).fetchall()
    )
    assert got == want


def test_adaptive_refresh_matches_python_twin(spark):
    """The full adaptive loop — due_for_refresh → refetch at the
    world's deterministic page version → AIMD hint update — stepped
    three cycles, the whole seen state equal to a pure-python twin
    after each cycle; hint distribution must track the true per-URL
    change period (Cho & Garcia-Molina adaptivity)."""
    from bisque_spark.hashing import to_i64, xxh64, xxhash64_str
    from bisque_spark.operators.recrawl import (
        apply_refresh_observations,
        refetch_fingerprints,
    )
    from bisque_spark.synth import (
        World,
        page_bytes,
        page_change_period,
        page_status,
        page_url,
        page_version,
    )

    world = World(n_hosts=6, n_seeds=8)
    urls = [
        page_url(world, i, n)
        for i in range(world.n_hosts)
        for n in range(world.host_count_pages(world.host(i)))
    ]

    def fp_at(url, epoch):
        if page_status(world, url) != 200:
            return None
        _, content = page_bytes(
            world, url, version=page_version(world, url, epoch)
        )
        return to_i64(xxh64(content))

    # python twin state: url -> [fetched_epoch, hint, fingerprint]
    state = {u: [0, 1, fp_at(u, 0)] for u in urls}
    pol = {h: (iv, w) for h, iv, w in DEFAULT_POLICY}

    seen = spark.createDataFrame(
        [
            (xxhash64_str(u), u, u.split("/")[2], fe, h, fp)
            for u, (fe, h, fp) in state.items()
        ],
        "url_hash long, url string, host string, fetched_epoch int,"
        " change_hint int, fingerprint long",
    )

    saw_changed = saw_unchanged = False
    for now in (4, 8, 12):
        due = due_for_refresh(seen, now, policy_table(spark))
        obs = refetch_fingerprints(due, world, now)
        seen = apply_refresh_observations(seen, obs, now).localCheckpoint()

        # twin cycle
        for u, st in state.items():
            fe, h, fp = st
            if now - fe < pol[h][0]:
                continue
            fp_new = fp_at(u, now)
            if fp_new == fp:
                st[1] = max(0, h - 1)
                saw_unchanged = True
            else:
                st[1] = min(3, h + 1)
                saw_changed = True
            st[0] = now
            st[2] = fp_new if fp_new is not None else fp

        got = {
            (r["url_hash"], r["fetched_epoch"], r["change_hint"],
             r["fingerprint"])
            for r in seen.collect()
        }
        want = {
            (xxhash64_str(u), fe, h, fp)
            for u, (fe, h, fp) in state.items()
        }
        assert got == want, f"cycle now={now}"
    assert saw_changed and saw_unchanged

    # adaptivity: volatile (period 1) pages must end hotter than
    # near-static (period 8) ones, and both ladder ends are reached
    import statistics

    by_period = {1: [], 8: []}
    for u, (_, h, _) in state.items():
        p = page_change_period(world, u)
        if p in by_period and page_status(world, u) == 200:
            by_period[p].append(h)
    assert statistics.mean(by_period[1]) > statistics.mean(by_period[8])
    hints = {h for _, h, _ in state.values()}
    assert 3 in hints and 0 in hints


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
