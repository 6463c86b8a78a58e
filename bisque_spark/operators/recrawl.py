"""Recrawl / refresh scheduling: which seen URLs are due for a
re-fetch, and with what priority.

The north_star's frontier dedups against the URL-seen set; a real
crawl also RE-visits: pages change, and the refresh queue competes
with discovery for the politeness budget. This operator turns the
seen table (url_hash, host, fetched_epoch, change_hint) into refresh
candidates with a deterministic priority — composing with the rest of
the chain:

- candidates flow into the SAME politeness window rank
  (operators/schedule.py) as discovered URLs;
- re-opening a URL for refetch = delete it from the cuckoo seen
  filter + exact set (operators/seen.delete_from_shards) so the
  frontier accepts it again — the deletion capability is exactly why
  the cuckoo kernel exists.

Policy (pure Column expressions — JVM-side, no UDF, hash-partition
friendly at 10^10 rows):

    age        = now_epoch - fetched_epoch
    due        = age >= interval(change_hint)
    priority   = age * weight(change_hint)     (older + faster-changing
                                                pages first)
    tie-break  = url_hash                      (total determinism,
                                                crawl.py contract)

``change_hint`` buckets (0 = static … 3 = volatile) map to refresh
intervals/weights via a small broadcast dim table so the policy is
data, not code. Everything is expressible in ANSI SQL — the pytest
suite hash-verifies the operator against an in-process DuckDB oracle,
the same hard signal the driver applies to the graded queries.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# change_hint bucket → (refresh interval in epochs, priority weight).
# Volatile pages refresh every epoch at high weight; static pages
# wait 8 epochs and yield to discovery.
DEFAULT_POLICY = [
    (0, 8, 1.0),  # static
    (1, 4, 2.0),
    (2, 2, 4.0),
    (3, 1, 8.0),  # volatile
]


def policy_table(spark: SparkSession, policy=None) -> DataFrame:
    rows = policy if policy is not None else DEFAULT_POLICY
    return spark.createDataFrame(
        rows, "change_hint int, refresh_interval int, weight double"
    )


def due_for_refresh(
    seen: DataFrame,
    now_epoch: int,
    policy: DataFrame,
    limit_per_host: int | None = None,
) -> DataFrame:
    """seen(url_hash long, url string, host string, fetched_epoch int,
    change_hint int) → refresh candidates (url_hash, url, host,
    age, priority), deterministically ordered per the crawl contract.

    ``limit_per_host`` caps refreshes per host per epoch (a refresh
    storm on one host would starve its discovery budget) — top-k by
    (priority desc, url_hash) inside each host via window rank, the
    same shape as the politeness rank so AQE/salting applies
    unchanged.

    Rows whose change_hint is absent from the policy table are
    DROPPED by the inner join (an unknown bucket has no interval to
    evaluate) — policies must cover the hint domain.

    A ``boost`` column, when present (annotate_seen_from_sitemap puts
    the sitemap <priority> multiplier there), scales the refresh
    priority: priority = age · weight · boost. Absent column → ×1,
    so plain seen tables behave exactly as before.
    """
    from pyspark.sql import Window

    boost = F.col("boost") if "boost" in seen.columns else F.lit(1.0)
    aged = (
        seen.join(F.broadcast(policy), "change_hint")
        .withColumn("age", F.lit(now_epoch) - F.col("fetched_epoch"))
        .where(F.col("age") >= F.col("refresh_interval"))
        .withColumn("priority", F.col("age") * F.col("weight") * boost)
        .select("url_hash", "url", "host", "age", "priority")
    )
    if limit_per_host is None:
        return aged
    w = Window.partitionBy("host").orderBy(
        F.desc("priority"), F.asc("url_hash")
    )
    return (
        aged.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= limit_per_host)
        .drop("rk")
    )


def reopen_for_refetch(
    due: DataFrame,
    cuckoo_shards: DataFrame,
    seen_exact: DataFrame,
    buckets: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """Remove the due URLs from the seen state so the frontier accepts
    them again: cuckoo shards support deletion (Bloom does not — this
    is the operation the cuckoo kernel exists for), and the exact
    table drops the rows by anti-join. Returns (shards', seen_exact').
    """
    from bisque_spark.operators.seen import delete_from_shards

    keys = due.select("url_hash")
    return (
        delete_from_shards(cuckoo_shards, keys, n_buckets=buckets),
        seen_exact.join(keys, "url_hash", "left_anti"),
    )


def make_refetch_fingerprint(world, epoch: int):
    """mapInPandas body factory (lazy — the crawl's no-module-level-UDF
    contract): (url_hash, url) → (url_hash, fingerprint), where
    fingerprint = signed xxh64 of the page bytes at the page's content
    version for ``epoch`` (synth.page_version — the deterministic
    change model), NULL when the fetch is non-200. One Arrow pass, no
    parse: change detection needs bytes identity only."""
    import pandas as pd

    from bisque_spark.hashing import to_i64, xxh64
    from bisque_spark.synth import page_bytes, page_version

    def fn(batches):
        for pdf in batches:
            fps = []
            for url in pdf["url"]:
                v = page_version(world, url, epoch)
                _, content = page_bytes(world, url, version=v)
                fps.append(
                    to_i64(xxh64(content)) if content is not None else None
                )
            # nullable Int64, NOT a plain list: ints + None would
            # coerce to float64 and round the low bits off the hash
            yield pd.DataFrame(
                {
                    "url_hash": pdf["url_hash"],
                    "fingerprint": pd.array(fps, dtype="Int64"),
                }
            )

    return fn


def refetch_fingerprints(due: DataFrame, world, epoch: int) -> DataFrame:
    """Refetch the due URLs at ``epoch`` and fingerprint the bytes —
    the observation half of the adaptive-refresh loop."""
    return due.select("url_hash", "url").mapInPandas(
        make_refetch_fingerprint(world, epoch),
        schema="url_hash long, fingerprint long",
    )


def apply_refresh_observations(
    seen: DataFrame,
    observed: DataFrame,
    now_epoch: int,
) -> DataFrame:
    """Fold refetch observations back into the seen table — the
    adaptive-refresh estimator (Cho & Garcia-Molina, "Effective page
    refresh policies for web crawlers", TODS 2003: adapt the revisit
    rate to the OBSERVED change rate, additive-increase /
    additive-decrease on the hint ladder):

        changed   (fingerprint differs, or fetch now failing)
                  → change_hint = min(3, hint + 1)
        unchanged → change_hint = max(0, hint - 1)
        unobserved (not due this cycle) → untouched

    Observed rows also get fetched_epoch = now_epoch and the new
    fingerprint (NULL-safe: a failed refetch keeps the old one so a
    later success still compares against real bytes).

    seen(url_hash, …, fetched_epoch, change_hint, fingerprint) LEFT
    JOIN observed(url_hash, fingerprint) on the hash-partitioned key —
    one co-partitioned shuffle, all-Column arithmetic, no state on the
    driver; at 10^10 rows the observed side is the (capped) due set,
    orders of magnitude smaller."""
    obs = observed.select(
        "url_hash", F.col("fingerprint").alias("fp_new"),
        F.lit(True).alias("observed"),
    )
    joined = seen.join(obs, "url_hash", "left")
    changed = F.col("observed").isNotNull() & ~F.col("fp_new").eqNullSafe(
        F.col("fingerprint")
    )
    unchanged = F.col("observed").isNotNull() & F.col("fp_new").eqNullSafe(
        F.col("fingerprint")
    )
    return (
        joined.withColumn(
            "change_hint",
            F.when(changed, F.least(F.lit(3), F.col("change_hint") + 1))
            .when(unchanged, F.greatest(F.lit(0), F.col("change_hint") - 1))
            .otherwise(F.col("change_hint"))
            .cast("int"),
        )
        .withColumn(
            "fetched_epoch",
            F.when(F.col("observed").isNotNull(), F.lit(now_epoch))
            .otherwise(F.col("fetched_epoch"))
            .cast("int"),
        )
        .withColumn(
            "fingerprint",
            F.coalesce("fp_new", "fingerprint"),
        )
        .drop("fp_new", "observed")
    )


def change_hint_from_changefreq(changefreq: str | F.Column) -> F.Column:
    """Sitemap <changefreq> enumeration (sitemaps.org spec, parsed by
    functions/sitemap.py) → change_hint bucket:

        always/hourly/daily → 3   weekly → 2   monthly → 1
        yearly/never → 0          absent/unknown token → NULL

    NULL (not 0) for absent so :func:`change_hint_from_sitemap` can
    fall back to the lastmod-derived hint via greatest()."""
    c = F.col(changefreq) if isinstance(changefreq, str) else changefreq
    lc = F.lower(F.trim(c))
    return (
        F.when(lc.isin("always", "hourly", "daily"), F.lit(3))
        .when(lc == "weekly", F.lit(2))
        .when(lc == "monthly", F.lit(1))
        .when(lc.isin("yearly", "never"), F.lit(0))
        .otherwise(F.lit(None))
        .cast("int")
    )


def change_hint_from_sitemap(
    lastmod: str | F.Column,
    changefreq: str | F.Column,
    now_date: str,
) -> F.Column:
    """Combined freshness prior from a sitemap entry: the OPTIMISTIC
    max of the lastmod-recency hint and the declared changefreq hint.
    Max, not min: a page declaring <changefreq>daily</changefreq> gets
    its declared cadence even if lastmod is stale (the site knows its
    own publishing schedule), and a recently-modified page refreshes
    fast even when the site conservatively declares monthly — the
    per-host cap in due_for_refresh bounds the cost of optimism."""
    return F.greatest(
        change_hint_from_lastmod(lastmod, now_date),
        F.coalesce(change_hint_from_changefreq(changefreq), F.lit(0)),
    )


def sitemap_boost_col(priority: str | F.Column) -> F.Column:
    """Sitemap <priority> (0.0-1.0, spec default 0.5) → a refresh
    priority multiplier: 2·p, so the default is the neutral ×1, a
    priority-1.0 page refreshes at double weight, a 0.1 page at ×0.2.
    NULL-safe (absent → 0.5 → ×1) and clamped to the spec's domain so
    a hostile sitemap can't inflate its own budget past ×2."""
    c = F.col(priority) if isinstance(priority, str) else priority
    return 2.0 * F.least(
        F.greatest(F.coalesce(c, F.lit(0.5)), F.lit(0.0)), F.lit(1.0)
    )


def annotate_seen_from_sitemap(
    seen: DataFrame,
    entries: DataFrame,
    now_date: str,
) -> DataFrame:
    """Fold a crawl's discovered sitemap entries (host, loc, lastmod,
    changefreq, priority — functions/sitemap.sitemap_seed_locs
    schema) onto the seen table: canonicalize each loc, hash it with
    the frontier's own url_hash (determinism contract: everything
    derives from url_hash), and LEFT-join the per-URL hints —

        change_hint = greatest(prior hint, sitemap hint) — AIMD state
                      learned via apply_refresh_observations is never
                      clobbered; an unlisted URL keeps its learned
                      bucket (first-seed default 0 = slowest)
        boost       = 2·priority, else the prior boost (default ×1)

    Scale shape: seen is 10^10 rows hash-partitioned by url_hash; the
    sitemap side is ~pages-per-site × hosts, same key, so this is one
    co-partitioned shuffle join, no driver state. Duplicate locs (a
    URL listed in two sitemap files) collapse deterministically to
    the max hint / max boost before the join so the seen key stays
    unique."""
    from bisque_spark.functions.urlnorm import url_hash_col, with_canonical

    hints = (
        with_canonical(entries, url_col="loc", out_col="canon")
        .where(F.col("canon").isNotNull())
        .select(
            url_hash_col("canon").alias("url_hash"),
            change_hint_from_sitemap("lastmod", "changefreq", now_date)
            .alias("sm_hint"),
            sitemap_boost_col("priority").alias("sm_boost"),
        )
        .groupBy("url_hash")
        .agg(
            F.max("sm_hint").alias("sm_hint"),
            F.max("sm_boost").alias("sm_boost"),
        )
    )
    prior_hint = (
        F.coalesce("change_hint", F.lit(0))
        if "change_hint" in seen.columns
        else F.lit(0)
    )
    prior_boost = (
        F.coalesce("boost", F.lit(1.0))
        if "boost" in seen.columns
        else F.lit(1.0)
    )
    return (
        seen.join(hints, "url_hash", "left")
        .withColumn(
            "change_hint",
            F.greatest(F.coalesce("sm_hint", F.lit(0)), prior_hint),
        )
        .withColumn("boost", F.coalesce("sm_boost", prior_boost))
        .drop("sm_hint", "sm_boost")
    )


def change_hint_from_lastmod(
    lastmod: str | F.Column,
    now_date: str,
) -> F.Column:
    """Sitemap <lastmod> (W3C datetime, functions/sitemap.py) → a
    change_hint bucket for :func:`due_for_refresh`'s policy table —
    the standard freshness prior: recently-modified pages are the
    volatile ones, pages untouched for months are static.

        age < 7 days   → 3 (volatile)    age < 180 days → 1
        age < 30 days  → 2               else / no date → 0 (static)

    Pure Column exprs (to_date tolerates both date-only and full W3C
    datetime via the 10-char prefix); NULL or unparseable lastmod →
    0, the conservative slowest bucket."""
    c = F.col(lastmod) if isinstance(lastmod, str) else lastmod
    # try_to_date: ANSI mode is on in Spark 4 — a malformed lastmod
    # must bucket to static, not kill the job
    age = F.datediff(
        F.to_date(F.lit(now_date)), F.try_to_date(F.substring(c, 1, 10))
    )
    return (
        F.when(age.isNull(), F.lit(0))
        .when(age < 7, F.lit(3))
        .when(age < 30, F.lit(2))
        .when(age < 180, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
    )
