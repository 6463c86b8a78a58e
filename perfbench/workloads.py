"""The workloads: inputs made from the seed, one closed-loop run each,
and the output checks that decide whether a run counts as correct.

The engine is driven only through its public entry points:
``plans.crawl.run_crawl`` and the ``__spark_entry__.queries()``
functions.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

from perfbench import check

GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")

# The 14 headline queries of the r1-r8 bench, in their historical order.
HEADLINE = [
    "pricing_summary",
    "events_politeness_topk",
    "events_sessionize",
    "events_asof_join",
    "events_time_rollup",
    "revenue_by_nation",
    "doc_token_stats",
    "doc_exact_dedup",
    "minhash_near_dups",
    "emb_knn_query0",
    "lsh_embedding_pairs",
    "extract_captions",
    "image_features",
    "crawl_refresh_schedule",
]


def golden() -> dict:
    if not os.path.exists(GOLDEN_PATH):
        return {}
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def host_budgets(world) -> dict[str, int]:
    """Each host's per-epoch politeness budget."""
    from bisque_spark.synth import host_budget, robots_rows

    return {r["host"]: host_budget(world, r["crawl_delay"]) for r in robots_rows(world)}


def seed_list(world, seed: int) -> list[tuple[str, int]]:
    """(raw url, rank) seeds drawn from ``seed``.

    First every host gets as many distinct pages as its politeness
    budget, so epoch 0 fills every budget and each epoch schedules
    nearly the same number of URLs whatever the seed: a run's work, and
    so its time, does not swing with the seed. Then ``world.n_seeds``
    Zipf-skewed draws over the head pages. Every seed takes one of the
    adversarial URL spellings of ``synth.seed_urls`` (case, default
    port, fragment, dot segments, plain duplicates)."""
    from bisque_spark.synth import DetRng

    rng = DetRng(f"perfbench-seeds:{seed}")
    budgets = host_budgets(world)
    picks = []
    for hidx in range(world.n_hosts):
        host = world.host(hidx)
        n_pages = world.host_count_pages(host)
        pages: set[int] = set()
        while len(pages) < min(budgets[host], n_pages):
            pages.add(rng.randint(0, n_pages - 1))
        picks += [(host, no) for no in sorted(pages)]
    for _ in range(world.n_seeds):
        hidx = min(
            world.n_hosts - 1, int(world.n_hosts * rng.u01() ** world.zipf_power)
        )
        picks.append((world.host(hidx), rng.randint(0, 3)))
    seeds = []
    for i, (host, no) in enumerate(picks):
        base = f"http://{host}/p{no}.html" if no else f"http://{host}/"
        form = rng.randint(0, 5)
        if form == 1:
            raw = base.replace("http://", "HTTP://").replace(host, host.upper())
        elif form == 2:
            raw = base.replace(host, host + ":80")
        elif form == 3:
            raw = base + "#top"
        elif form == 4:
            raw = base.replace("/p", "/./p") if no else base + "."
        else:
            raw = base
        seeds.append((raw, i))
    return seeds


def noop(df) -> None:
    """Materialize every column of every row and keep nothing."""
    df.write.format("noop").mode("overwrite").save()


class CrawlDeep:
    """A small head-heavy world crawled for several epochs. The run
    stops after ``STOP_AFTER`` epochs and continues with
    ``resume=True``; ``compact_every`` compacts the state in the last
    epoch before the stop, so the resumed half reads a compacted base
    plus deltas. Each epoch carries only tens to a couple of hundred
    URLs, so fixed per-epoch cost dominates."""

    name = "crawl_deep"
    unit = "run"  # what attempted/failed count
    WORLD = dict(n_hosts=40, n_seeds=60, pages_per_host=80)
    EPOCHS = 3
    STOP_AFTER = 2
    COMPACT_EVERY = 2

    def __init__(self, seed: int, work: str, world: dict | None = None):
        from bisque_spark.synth import World

        self.seed = seed
        self.work = work
        self.world = World(**(world or self.WORLD))
        self.seeds = seed_list(self.world, seed)
        self.budgets = host_budgets(self.world)
        self.reference: dict | None = None

    def prepare(self, spark) -> None:
        pass

    def _crawl(self, spark, workdir: str, resume_split: bool) -> dict:
        from bisque_spark.plans.crawl import run_crawl

        shutil.rmtree(workdir, ignore_errors=True)
        kw = dict(workdir=workdir, compact_every=self.COMPACT_EVERY)
        t0 = time.time()
        t_resume = None
        if resume_split:
            run_crawl(spark, self.world, self.seeds, max_epochs=self.STOP_AFTER, **kw)
            t_resume = time.time()
            run_crawl(
                spark, self.world, self.seeds, max_epochs=self.EPOCHS, resume=True, **kw
            )
        else:
            run_crawl(spark, self.world, self.seeds, max_epochs=self.EPOCHS, **kw)
        t1 = time.time()
        crawl = check.load_crawl(workdir)
        commits = check.commit_times(workdir)
        return {
            "workdir": workdir,
            "t_start": t0,
            "t_resume": t_resume,
            "t_end": t1,
            "wall_s": t1 - t0,
            "items": sum(lin["rows_scheduled"] for lin in crawl["lineage"].values()),
            "steps": [b - a for a, b in zip(commits, commits[1:])],
            "epochs": crawl["epochs"],
            "digests": check.crawl_digests(crawl),
            "failures": check.crawl_violations(
                crawl, self.budgets, self.world.host_budget_base
            ),
        }

    def warmup(self, spark) -> dict:
        """One full-size uninterrupted crawl: its digests are the
        reference every resumed run must reproduce, and for the golden
        seed they must equal the stored ones."""
        r = self._crawl(spark, os.path.join(self.work, "crawl_ref"), resume_split=False)
        gold = golden().get(self.name, {})
        if gold.get("seed") == self.seed:
            for key, want in gold["digests"].items():
                if r["digests"][key] != want:
                    r["failures"].append(f"{key} digest {r['digests'][key]} != golden {want}")
        if len(r["epochs"]) != self.EPOCHS:
            r["failures"].append(f"{len(r['epochs'])} epochs committed, want {self.EPOCHS}")
        self.reference = r
        return r

    def rewarm(self, spark) -> None:
        """Fork a fresh session's Python workers with a tiny crawl."""
        from bisque_spark.plans.crawl import run_crawl
        from bisque_spark.synth import World

        tiny = World(n_hosts=4, n_seeds=4, pages_per_host=6)
        workdir = os.path.join(self.work, "crawl_tiny")
        run_crawl(spark, tiny, seed_list(tiny, self.seed), workdir=workdir, max_epochs=2)
        shutil.rmtree(workdir, ignore_errors=True)

    def run(self, spark, tracer=None) -> dict:
        from perfbench.trace import maybe_span

        with maybe_span(tracer, "crawl.run"):
            r = self._crawl(spark, os.path.join(self.work, "crawl_run"), resume_split=True)
        for key, want in self.reference["digests"].items():
            if r["digests"][key] != want:
                r["failures"].append(
                    f"resumed {key} digest {r['digests'][key]} != uninterrupted {want}"
                )
        return r


def _gen_tables(spark, out_dir: str) -> None:
    """The seven tables the headline queries read, at sf0.1 row counts.

    lineitem, events, documents and embeddings come from
    ``bisque_spark.sweepgen`` at scale 1 (its sf0.1-equivalent); orders,
    customer and nation follow the same xxhash64-of-id recipe. Each is
    written as one file, like a small parquet input arrives."""
    import pyspark.sql.functions as F

    from bisque_spark import sweepgen

    def u(tag, col):
        return F.abs(F.xxhash64(F.lit(tag), col))

    def pick(values, tag, col):
        arr = F.array(*[F.lit(v) for v in values])
        return F.element_at(arr, (F.pmod(u(tag, col), F.lit(len(values))) + 1).cast("int"))

    idc = F.col("id")
    nations = [
        "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
        "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
        "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
        "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
        "UNITED STATES",
    ]
    n_customers = 15_000
    tables = {
        name: gen(spark, sweepgen.BASE_ROWS[name], 8)
        for name, gen in [
            ("lineitem", sweepgen.gen_lineitem),
            ("events", sweepgen.gen_events),
            ("documents", sweepgen.gen_documents),
            ("embeddings", sweepgen.gen_embeddings),
        ]
    }
    tables["orders"] = spark.range(0, 150_000, 1, 8).select(
        idc.alias("o_orderkey"),
        F.pmod(u("ock", idc), F.lit(n_customers)).alias("o_custkey"),
        pick(["O", "F", "P"], "ost", idc).alias("o_orderstatus"),
        F.round(F.pmod(u("otp", idc), F.lit(50_000_000)) / 100.0 + 850.0, 2).alias(
            "o_totalprice"
        ),
        F.to_timestamp(
            F.date_add(
                F.lit("1992-01-01").cast("date"),
                F.pmod(u("odt", idc), F.lit(2400)).cast("int"),
            )
        ).alias("o_orderdate"),
        pick(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], "opr", idc
        ).alias("o_orderpriority"),
    )
    tables["customer"] = spark.range(0, n_customers, 1, 4).select(
        idc.alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.lpad(idc.cast("string"), 9, "0")).alias("c_name"),
        F.pmod(u("cnk", idc), F.lit(25)).cast("int").alias("c_nationkey"),
        F.round(F.pmod(u("cab", idc), F.lit(1_100_000)) / 100.0 - 1000.0, 2).alias(
            "c_acctbal"
        ),
        pick(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], "cms", idc
        ).alias("c_mktsegment"),
    )
    tables["nation"] = spark.createDataFrame(
        [(i, n, i % 5) for i, n in enumerate(nations)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    for name, df in tables.items():
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )


def result_digest(df) -> str:
    table = df.toArrow()
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return check.digest(zip(*cols))


class Queries:
    """One pass over the 14 headline queries on fixed sf0.1-sized
    tables; the seed permutes the query order. Reads only: no crawl
    loop and no per-epoch state."""

    name = "queries_sf0.1"
    unit = "query"
    TABLES_VERSION = "v1"

    def __init__(self, seed: int, work: str, cache: str, names: list[str] | None = None):
        self.seed = seed
        self.work = work
        self.sf_dir = os.path.join(cache, f"queries_sf0.1-{self.TABLES_VERSION}")
        self.names = list(names or HEADLINE)
        random.Random(seed).shuffle(self.names)

    def prepare(self, spark) -> None:
        """Generate the tables once per checkout; later runs reuse them."""
        marker = os.path.join(self.sf_dir, "_TABLES_DONE")
        if os.path.exists(marker):
            return
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        os.makedirs(self.sf_dir)
        _gen_tables(spark, self.sf_dir)
        with open(marker, "w") as f:
            f.write("ok\n")

    def _pass(self, spark, collect: bool, tracer=None) -> dict:
        import __spark_entry__ as entry
        from bisque_spark.util import release_caches

        from perfbench.trace import QUERY_LAYERS, maybe_span

        qs = entry.queries()
        steps, digests = [], {}
        t0 = time.time()
        for name in self.names:
            tq = time.time()
            with maybe_span(tracer, QUERY_LAYERS[name]):
                df = qs[name](spark, self.sf_dir)
                if collect:
                    digests[name] = result_digest(df)
                else:
                    noop(df)
                release_caches()
            steps.append(time.time() - tq)
        t1 = time.time()
        return {
            "t_start": t0,
            "t_end": t1,
            "wall_s": t1 - t0,
            "items": len(self.names),
            "steps": steps,
            "step_names": list(self.names),
            "digests": digests,
            "failures": [],
        }

    def warmup(self, spark) -> dict:
        """One full pass that collects every result: each result's digest
        must equal the stored one (the tables do not depend on the seed,
        so this holds for every seed)."""
        r = self._pass(spark, collect=True)
        gold = golden().get(self.name, {}).get("digests", {})
        for name, got in r["digests"].items():
            if name in gold and gold[name] != got:
                r["failures"].append(f"{name} digest {got} != golden {gold[name]}")
        return r

    def rewarm(self, spark) -> None:
        """Fork a fresh session's Python workers with two quick queries."""
        import __spark_entry__ as entry

        qs = entry.queries()
        for name in ("pricing_summary", "extract_captions"):
            noop(qs[name](spark, self.sf_dir))

    def run(self, spark, tracer=None) -> dict:
        return self._pass(spark, collect=False, tracer=tracer)


WORKLOADS = {CrawlDeep.name: CrawlDeep, Queries.name: Queries}
