"""The traced run: spans recorded from the benchmark's own files around
calls into each layer, Spark task metrics folded into them from the
event log, and the per-layer table.

Nothing here reaches inside ``bisque_spark``. Crawl layers are measured
two ways: ``run_crawl``'s own jobs are attributed to epochs by time
window and its commits by the paths they write, and each layer's public
operator is replayed over the epoch's committed inputs inside a span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import time

from perfbench import check
from perfbench.workloads import noop

QUERY_LAYERS = {
    "minhash_near_dups": "dedup.minhash_near_dups",
    "doc_exact_dedup": "dedup.doc_exact_dedup",
    "lsh_embedding_pairs": "similarity.lsh_embedding_pairs",
    "emb_knn_query0": "similarity.emb_knn_query0",
    "extract_captions": "extract.extract_captions",
    "doc_token_stats": "text.doc_token_stats",
    "image_features": "multimodal.image_features",
    "events_asof_join": "asof.events_asof_join",
    "events_time_rollup": "rollup.events_time_rollup",
    "crawl_refresh_schedule": "recrawl.crawl_refresh_schedule",
    "pricing_summary": "sql.pricing_summary",
    "revenue_by_nation": "sql.revenue_by_nation",
    "events_sessionize": "sql.events_sessionize",
    "events_politeness_topk": "sql.events_politeness_topk",
}
# query layers that also report Python-worker time, shuffle and memory
_DETAILED = {"dedup", "similarity"}

CRAWL_LAYERS = [
    ("crawl.seed_write_s", "s"),
    ("crawl.state_commit_s", "s"),
    ("crawl.obs_lag_s", "s"),
    ("crawl.compaction_s", "s"),
    ("crawl.resume_s", "s"),
    ("crawl.spark_jobs_per_epoch", "count"),
    ("crawl.files_per_epoch", "count"),
    ("crawl.bytes_per_url", "bytes"),
    ("crawl.unattributed_s", "s"),
    ("robots.fetch_robots_s", "s"),
    ("schedule.politeness_select_s", "s"),
    ("schedule.apply_robots_s", "s"),
    ("schedule.shuffle_bytes", "bytes"),
    ("schedule.frontier_rows", "count"),
    ("schedule.scheduled_ratio", "ratio"),
    ("extract.fetch_extract_s", "s"),
    ("extract.ms_per_url", "ms"),
    ("extract.python_s", "s"),
    ("extract.links_per_url", "ratio"),
    ("extract.materialize_images_s", "s"),
    ("extract.fetched_ratio", "ratio"),
    ("synth.page_bytes_us", "us"),
    ("encoding.decode_html_us", "us"),
    ("parse.parse_nodes_us", "us"),
    ("extract.extract_page_us", "us"),
    ("seen.filter_unseen_s", "s"),
    ("seen.build_shards_s", "s"),
    ("seen.shuffle_bytes", "bytes"),
    ("seen.candidates", "count"),
    ("seen.union_paths", "count"),
    ("seen.maybe_ratio", "ratio"),
    ("seen.bloom_fp_ratio", "ratio"),
    ("seen.new_ratio", "ratio"),
]


def _query_layers() -> list[tuple[str, str]]:
    out = []
    for layer in QUERY_LAYERS.values():
        out.append((f"{layer}_s", "s"))
        if layer.split(".")[0] in _DETAILED:
            out += [
                (f"{layer}.python_s", "s"),
                (f"{layer}.shuffle_bytes", "bytes"),
                (f"{layer}.peak_exec_mem_mb", "MB"),
            ]
    return out


PER_LAYER = CRAWL_LAYERS + _query_layers() + [("trace.overhead_s", "s")]


class Tracer:
    """Spans kept in memory: name, start, end, parent, run id. Each span
    sets a Spark job group, so the event log attributes its jobs."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def find(self, name: str, **attrs) -> dict:
        for s in self.spans:
            if s["name"] == name and all(s.get(k) == v for k, v in attrs.items()):
                return s
        raise KeyError(name)


def maybe_span(tracer: Tracer | None, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer else contextlib.nullcontext()


def _accum(task: dict, name: str) -> float:
    return sum(
        float(a.get("Update", 0) or 0)
        for a in task["Task Info"]["Accumulables"]
        if a.get("Name") == name
    )


def read_event_log(log_dir: str) -> dict:
    """Fold the event log into jobs, SQL executions and per-job-group
    task metrics."""
    files = [
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and "appstatus" not in os.path.basename(f)
    ]
    files.sort(key=lambda f: [int(x) for x in re.findall(r"events_(\d+)_", f)] or [0])
    jobs, stage_job, execs, groups = {}, {}, {}, {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "submit": e["Submission Time"] / 1000,
                        "group": props.get("spark.jobGroup.id"),
                    }
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = e["Job ID"]
                elif kind.endswith("SQLExecutionStart"):
                    m = re.search(r"Arguments: file:([^,\s]+)", e["physicalPlanDescription"])
                    execs[e["executionId"]] = {
                        "start": e["time"] / 1000,
                        "path": m.group(1) if m else None,
                    }
                elif kind.endswith("SQLExecutionEnd"):
                    if e["executionId"] in execs:
                        execs[e["executionId"]]["end"] = e["time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e["Stage ID"]))
                    if job is None or not e.get("Task Metrics"):
                        continue
                    tm = e["Task Metrics"]
                    g = groups.setdefault(
                        job["group"],
                        {"run_s": 0.0, "cpu_s": 0.0, "python_s": 0.0, "shuffle_bytes": 0,
                         "shuffle_read_bytes": 0, "peak_exec_mem_mb": 0.0, "tasks": 0},
                    )
                    read = tm["Shuffle Read Metrics"]
                    g["tasks"] += 1
                    g["run_s"] += tm["Executor Run Time"] / 1e3
                    g["cpu_s"] += tm["Executor CPU Time"] / 1e9
                    g["python_s"] += _accum(e, "time to run Python workers") / 1e3
                    g["shuffle_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    g["shuffle_read_bytes"] += read["Remote Bytes Read"] + read["Local Bytes Read"]
                    g["peak_exec_mem_mb"] = max(
                        g["peak_exec_mem_mb"], tm["Peak Execution Memory"] / 2**20
                    )
    return {"jobs": jobs, "execs": execs, "groups": groups}


def _median(values) -> float:
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _group(log: dict, span: dict) -> dict:
    return log["groups"].get(f"span-{span['id']}", {})


def replay_crawl(spark, tracer: Tracer, wl, run: dict) -> list[dict]:
    """Replay each epoch's layers over the traced run's committed inputs.

    schedule: the epoch's input frontier (the seed frontier, else the
    previous epoch's committed frontier). extract: the epoch's committed
    order-slice URLs. seen: that epoch's discovered links against the
    state unions committed as of the previous epoch."""
    import pyspark.sql.functions as F

    from bisque_spark.functions.robots import fetch_robots
    from bisque_spark.operators.extract import (
        EXTRACT_SCHEMA,
        make_fetch_extract_batches,
        materialize_images_batches,
    )
    from bisque_spark.operators.schedule import (
        apply_robots,
        politeness_select,
        with_frontier_columns,
    )
    from bisque_spark.operators.seen import build_shards, filter_unseen, mark_maybe_seen

    world, workdir = wl.world, run["workdir"]
    frontier_schema = (
        "url string, url_hash bigint, host string, depth int, "
        "priority double, crawl_delay double"
    )

    def read_union(paths, schema, cols):
        dfs = [spark.read.schema(schema).parquet(p).select(*cols) for p in paths]
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df)
        return out

    hosts = spark.createDataFrame(
        [(world.host(i),) for i in range(world.n_hosts)], "host string"
    )
    with tracer.span("robots.fetch_robots"):
        robots = fetch_robots(hosts, world).persist()
        noop(robots)
    seed_dir = os.path.join(workdir, "frontier_seed")
    epochs = []
    for n in run["epochs"]:
        ep = {"epoch": n}
        src = seed_dir if n == 0 else os.path.join(
            workdir, f"epoch={n - 1:05d}", "junction", "table=frontier"
        )
        frontier = spark.read.schema(frontier_schema).parquet(src)
        ep["frontier_rows"] = frontier.count()
        with tracer.span("schedule.politeness_select", epoch=n):
            scheduled, _ = politeness_select(
                frontier, world.host_budget_base, two_phase=ep["frontier_rows"] > 200_000
            )
            scheduled = scheduled.persist()
            noop(scheduled)
        ep["scheduled"] = scheduled.count()
        order_dir = os.path.join(workdir, f"epoch={n:05d}", "junction", "table=order")
        urls = spark.read.schema("url string").parquet(order_dir)
        with tracer.span("extract.fetch_extract", epoch=n):
            extracted = urls.mapInPandas(
                make_fetch_extract_batches(world), schema=EXTRACT_SCHEMA
            ).persist()
            noop(extracted)
        stats = extracted.agg(
            F.count(F.lit(1)).alias("urls"),
            F.sum(F.size("links")).alias("links"),
        ).first()
        ep["urls"], ep["links"] = stats["urls"], stats["links"] or 0
        with tracer.span("extract.materialize_images", epoch=n):
            noop(
                extracted.select(F.explode("images").alias("img"))
                .select("img.image_id", "img.caption")
                .mapInPandas(
                    materialize_images_batches,
                    schema="image_id string, bytes binary, w int, h int, "
                    "fmt string, caption string, phash long",
                )
            )
        links = extracted.select(F.explode("links").alias("url"))
        candidates = with_frontier_columns(
            links.withColumn("depth", F.lit(n + 1)), epoch=n + 1
        )
        with tracer.span("schedule.apply_robots", epoch=n):
            candidates = apply_robots(candidates, robots).persist()
            noop(candidates)
        seen_ps = [seed_dir] if n == 0 else check.seen_paths(workdir, n - 1)
        shard_ps = [] if n == 0 else check.shard_paths(workdir, n - 1)
        seen = read_union(seen_ps, "url_hash bigint", ["url_hash"])
        # epoch 0 reads no committed filter: it is built from the seeds
        shards = (
            read_union(shard_ps, "bucket int, bloom binary", ["bucket", "bloom"])
            if shard_ps
            else build_shards(seen)
        )
        ep["union_paths"] = len(seen_ps) + len(shard_ps)
        with tracer.span("seen.filter_unseen", epoch=n):
            noop(filter_unseen(candidates, shards, seen, dedup_key="url_hash"))
        # the counts behind the ratios, outside the span: the same Bloom
        # cogroup, with the maybe/confirm split kept apart
        marked = mark_maybe_seen(candidates, shards, dedup_key="url_hash").persist()
        maybes = marked.where("maybe_seen").drop("maybe_seen")
        confirmed = maybes.join(seen, on="url_hash", how="left_anti").persist()
        ep["candidates"] = marked.count()
        ep["maybes"] = maybes.count()
        ep["confirmed_new"] = confirmed.count()
        ep["new"] = ep["candidates"] - ep["maybes"] + ep["confirmed_new"]
        # an epoch that found nothing new commits no seen delta
        delta_dir = os.path.join(workdir, f"epoch={n:05d}", "junction", "table=seen")
        delta = (
            spark.read.schema("url_hash bigint").parquet(delta_dir)
            if os.path.isdir(delta_dir)
            else spark.createDataFrame([], "url_hash bigint")
        )
        if n == 0:
            delta = delta.unionByName(seen)
        with tracer.span("seen.build_shards", epoch=n):
            noop(build_shards(delta))
        for df in (scheduled, extracted, candidates, marked, confirmed):
            df.unpersist()
        ep.update(_split(world, [u for (u,) in check.read_rows(order_dir, ["url"])][:SPLIT_SAMPLE]))
        epochs.append(ep)
    robots.unpersist()
    return epochs


SPLIT_SAMPLE = 25  # pages per epoch timed driver-side


def _split(world, urls: list[str]) -> dict:
    """Driver-side, single-process per-document costs (µs) over a
    sample of one epoch's pages. ``extract_page`` includes its own
    ``parse_nodes`` call."""
    from bisque_spark.functions.encoding import decode_html
    from bisque_spark.operators.extract import extract_page
    from bisque_spark.parse import parse_nodes
    from bisque_spark.synth import page_bytes

    out = {"page_bytes_us": [], "decode_html_us": [], "parse_nodes_us": [], "extract_page_us": []}
    clock = time.perf_counter_ns
    for url in urls:
        t0 = clock()
        status, content = page_bytes(world, url)
        t1 = clock()
        if status != 200 or content is None:
            continue
        text, enc, _ = decode_html(bytes(content))
        t2 = clock()
        if text is None:
            continue
        parse_nodes(text, original_encoding=enc)
        t3 = clock()
        extract_page(text, url, original_encoding=enc)
        t4 = clock()
        out["page_bytes_us"].append((t1 - t0) / 1e3)
        out["decode_html_us"].append((t2 - t1) / 1e3)
        out["parse_nodes_us"].append((t3 - t2) / 1e3)
        out["extract_page_us"].append((t4 - t3) / 1e3)
    return out


def crawl_layers(log: dict, tracer: Tracer, run: dict, epochs: list[dict]) -> dict:
    """Per-layer metrics of the traced crawl run; also fills each entry
    of ``epochs`` with that epoch's attributed figures."""
    workdir = run["workdir"]
    commits = check.commit_times(workdir)
    execs = [
        x for x in log["execs"].values()
        if x.get("path") and x["path"].startswith(workdir) and "end" in x
    ]

    def exec_s(pattern: str) -> list[float]:
        return [x["end"] - x["start"] for x in execs if re.search(pattern, x["path"])]

    for ep, (t_prev, t_commit) in zip(epochs, zip(commits, commits[1:])):
        n = ep["epoch"]
        edir = os.path.join(workdir, f"epoch={n:05d}")
        ep["interval_s"] = t_commit - t_prev
        ep["state_commit_s"] = sum(exec_s(rf"epoch={n:05d}/junction$"))
        ep["compaction_s"] = sum(exec_s(rf"epoch={n:05d}/(seen|shards)_base$")) or None
        ep["obs_lag_s"] = os.path.getmtime(os.path.join(edir, "_COMMIT")) - os.path.getmtime(
            os.path.join(edir, "lineage.json")
        )
        ep["spark_jobs"] = sum(
            1 for j in log["jobs"].values() if t_prev < j["submit"] <= t_commit
        )
        ep["files"] = sum(
            1 for _, _, fs in os.walk(edir) for f in fs if not f.endswith(".crc")
        )
        spans = {
            name: tracer.find(name, epoch=n)
            for name in (
                "schedule.politeness_select", "schedule.apply_robots",
                "extract.fetch_extract", "extract.materialize_images",
                "seen.filter_unseen", "seen.build_shards",
            )
        }
        for name, s in spans.items():
            ep[name.split(".")[1] + "_s"] = s["end"] - s["start"]
        ep["unattributed_s"] = ep["interval_s"] - sum(s["end"] - s["start"] for s in spans.values())
        ep["schedule_shuffle_bytes"] = _group(log, spans["schedule.politeness_select"]).get("shuffle_bytes", 0)
        ep["seen_shuffle_bytes"] = _group(log, spans["seen.filter_unseen"]).get("shuffle_bytes", 0)
        ep["python_s"] = _group(log, spans["extract.fetch_extract"]).get("python_s", 0.0)
        ep["maybe_ratio"] = _ratio(ep["maybes"], ep["candidates"])
        ep["bloom_fp_ratio"] = _ratio(ep["confirmed_new"], ep["maybes"])
        ep["new_ratio"] = _ratio(ep["new"], ep["candidates"])

    total_urls = sum(ep["urls"] for ep in epochs)
    lineage = check.load_crawl(workdir)["lineage"].values()
    first_job_after_resume = min(
        (j["submit"] for j in log["jobs"].values() if j["submit"] > run["t_resume"]),
        default=run["t_resume"],
    )
    committed_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(workdir) for f in fs if not f.endswith(".crc")
    )
    robots = tracer.find("robots.fetch_robots")
    split = {k: [v for ep in epochs for v in ep[k]] for k in
             ("page_bytes_us", "decode_html_us", "parse_nodes_us", "extract_page_us")}
    return {
        "crawl.seed_write_s": sum(exec_s(r"/frontier_seed$")),
        "crawl.state_commit_s": _median(ep["state_commit_s"] for ep in epochs),
        "crawl.obs_lag_s": _median(ep["obs_lag_s"] for ep in epochs),
        "crawl.compaction_s": _median(ep["compaction_s"] for ep in epochs),
        "crawl.resume_s": first_job_after_resume - run["t_resume"],
        "crawl.spark_jobs_per_epoch": _median(ep["spark_jobs"] for ep in epochs),
        "crawl.files_per_epoch": _median(ep["files"] for ep in epochs),
        "crawl.bytes_per_url": _ratio(committed_bytes, run["items"]),
        "crawl.unattributed_s": _median(ep["unattributed_s"] for ep in epochs),
        "robots.fetch_robots_s": robots["end"] - robots["start"],
        "schedule.politeness_select_s": _median(ep["politeness_select_s"] for ep in epochs),
        "schedule.apply_robots_s": _median(ep["apply_robots_s"] for ep in epochs),
        "schedule.shuffle_bytes": _median(ep["schedule_shuffle_bytes"] for ep in epochs),
        "schedule.frontier_rows": _median(ep["frontier_rows"] for ep in epochs),
        "schedule.scheduled_ratio": _ratio(
            sum(ep["scheduled"] for ep in epochs), sum(ep["frontier_rows"] for ep in epochs)
        ),
        "extract.fetch_extract_s": _median(ep["fetch_extract_s"] for ep in epochs),
        "extract.ms_per_url": _ratio(1e3 * sum(ep["fetch_extract_s"] for ep in epochs), total_urls),
        "extract.python_s": _median(ep["python_s"] for ep in epochs),
        "extract.links_per_url": _ratio(sum(ep["links"] for ep in epochs), total_urls),
        "extract.materialize_images_s": _median(ep["materialize_images_s"] for ep in epochs),
        "extract.fetched_ratio": _ratio(
            sum(lin["rows_fetched"] for lin in lineage),
            sum(lin["rows_scheduled"] for lin in lineage),
        ),
        "synth.page_bytes_us": _median(split["page_bytes_us"]),
        "encoding.decode_html_us": _median(split["decode_html_us"]),
        "parse.parse_nodes_us": _median(split["parse_nodes_us"]),
        "extract.extract_page_us": _median(split["extract_page_us"]),
        "seen.filter_unseen_s": _median(ep["filter_unseen_s"] for ep in epochs),
        "seen.build_shards_s": _median(ep["build_shards_s"] for ep in epochs),
        "seen.shuffle_bytes": _median(ep["seen_shuffle_bytes"] for ep in epochs),
        "seen.candidates": _median(ep["candidates"] for ep in epochs),
        "seen.union_paths": _median(ep["union_paths"] for ep in epochs),
        "seen.maybe_ratio": _ratio(
            sum(ep["maybes"] for ep in epochs), sum(ep["candidates"] for ep in epochs)
        ),
        "seen.bloom_fp_ratio": _ratio(
            sum(ep["confirmed_new"] for ep in epochs), sum(ep["maybes"] for ep in epochs)
        ),
        "seen.new_ratio": _ratio(
            sum(ep["new"] for ep in epochs), sum(ep["candidates"] for ep in epochs)
        ),
    }


def query_layers(log: dict, tracer: Tracer) -> dict:
    out = {}
    for layer in QUERY_LAYERS.values():
        s = tracer.find(layer)
        out[f"{layer}_s"] = s["end"] - s["start"]
        if layer.split(".")[0] in _DETAILED:
            g = _group(log, s)
            out[f"{layer}.python_s"] = g.get("python_s", 0.0)
            out[f"{layer}.shuffle_bytes"] = g.get("shuffle_bytes", 0)
            out[f"{layer}.peak_exec_mem_mb"] = g.get("peak_exec_mem_mb", 0.0)
    return out


EPOCH_COLUMNS = [
    "epoch", "interval_s", "state_commit_s", "compaction_s", "obs_lag_s",
    "spark_jobs", "files", "frontier_rows", "scheduled", "politeness_select_s",
    "apply_robots_s", "urls", "fetch_extract_s", "python_s",
    "materialize_images_s", "candidates", "maybe_ratio", "bloom_fp_ratio",
    "new_ratio", "filter_unseen_s", "build_shards_s", "unattributed_s",
]


def epoch_table(epochs: list[dict]) -> str:
    """The per-epoch figures behind the crawl's per-layer medians."""

    def fmt(v):
        if v is None:
            return "-"
        return f"{v:.3f}" if isinstance(v, float) else str(v)

    lines = ["  ".join(EPOCH_COLUMNS)]
    lines += ["  ".join(fmt(ep.get(c)) for c in EPOCH_COLUMNS) for ep in epochs]
    return "\n".join(lines)
