"""The benchmark's own tests, on a tiny world and a 2-query subset.

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import check, run, trace, workloads

# enough pages per host that every epoch still discovers new URLs after
# the seeds fill each host's budget in epoch 0
TINY = dict(n_hosts=4, n_seeds=4, pages_per_host=40)


def test_seed_list_is_deterministic_per_seed():
    from bisque_spark.synth import World

    world = World(**TINY)
    assert workloads.seed_list(world, 3) == workloads.seed_list(world, 3)
    assert workloads.seed_list(world, 3) != workloads.seed_list(world, 4)
    budgets = workloads.host_budgets(world)
    filled = sum(
        min(budgets[world.host(i)], world.host_count_pages(world.host(i)))
        for i in range(world.n_hosts)
    )
    assert len(workloads.seed_list(world, 3)) == filled + world.n_seeds


def test_digest_is_order_independent():
    rows = [(0, "h1", 1, 11), (0, "h2", 1, 12), (1, "h1", 1, 13)]
    assert check.digest(rows) == check.digest(list(reversed(rows)))
    assert check.digest(rows) != check.digest(rows + rows[:1])
    assert check.digest(rows) != check.digest(rows[:2])


def test_end_to_end_metrics_are_medians():
    runs = [
        {"wall_s": w, "items": 10, "steps": [w / 2, w / 2], "peak_rss_mb": 100.0}
        for w in (1.0, 2.0, 4.0)
    ]
    m = run.end_to_end(5.0, runs)
    assert m["wall_s"] == 2.0
    assert m["items_per_s"] == 5.0
    assert m["step_p50_s"] == 1.0
    assert m["setup_s"] == 5.0


def test_per_layer_names_match_benchmark_json():
    import json

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == trace.PER_LAYER
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """One traced session over the whole module: a tiny uninterrupted
    crawl, a resumed one, and the layer replays."""
    work = str(tmp_path_factory.mktemp("perfbench"))
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d))
    event_dir = os.path.join(work, "eventlog")
    spark = run.start_session(run.session_conf(work, event_dir), 2)
    wl = workloads.CrawlDeep(7, work, world=TINY)
    tracer = trace.Tracer(spark.sparkContext, "test")
    warm = wl.warmup(spark)
    resumed = wl.run(spark, tracer=tracer)
    epochs = trace.replay_crawl(spark, tracer, wl, resumed)
    # the benchmark's own table cache: generated once, shared with its runs
    cache = os.path.join(run.ROOT, ".bench_cache")
    q = workloads.Queries(7, work, cache, names=["pricing_summary", "doc_exact_dedup"])
    q.prepare(spark)
    qwarm = q.warmup(spark)
    spark.stop()
    yield {
        "wl": wl, "warm": warm, "resumed": resumed, "epochs": epochs,
        "tracer": tracer, "log": trace.read_event_log(event_dir), "qwarm": qwarm,
    }


def test_uninterrupted_and_resumed_crawls_agree(traced):
    assert traced["warm"]["failures"] == []
    assert traced["resumed"]["failures"] == []
    assert traced["resumed"]["digests"] == traced["warm"]["digests"]


def test_commit_mtimes_count_the_committed_epochs(traced):
    r = traced["resumed"]
    assert len(r["steps"]) == len(check.committed_epochs(r["workdir"]))
    assert len(r["steps"]) == workloads.CrawlDeep.EPOCHS
    assert all(s > 0 for s in r["steps"])


def test_corrupted_order_log_fails_the_check(traced, tmp_path):
    r, wl = traced["resumed"], traced["wl"]
    bad = str(tmp_path / "crawl")
    shutil.copytree(r["workdir"], bad)
    path = sorted(glob.glob(os.path.join(bad, "epoch=00001", "junction", "table=order", "*.parquet")))[0]
    table = pq.read_table(path)
    pq.write_table(pa.concat_tables([table, table.slice(0, 1)]), path)
    crawl = check.load_crawl(bad)
    assert check.crawl_violations(crawl, wl.budgets, wl.world.host_budget_base)
    assert check.crawl_digests(crawl)["order"] != r["digests"]["order"]


def test_traced_crawl_fills_every_epoch(traced):
    metrics = trace.crawl_layers(traced["log"], traced["tracer"], traced["resumed"], traced["epochs"])
    assert set(metrics) == {n for n, _ in trace.CRAWL_LAYERS}
    assert len(traced["epochs"]) == workloads.CrawlDeep.EPOCHS
    for ep in traced["epochs"]:
        for key in ("unattributed_s", "state_commit_s", "maybe_ratio", "new_ratio", "spark_jobs"):
            assert ep[key] is not None
        assert ep["candidates"] > 0
    assert metrics["crawl.compaction_s"] > 0
    assert metrics["extract.ms_per_url"] > 0


def test_query_subset_matches_golden(traced):
    q = traced["qwarm"]
    assert q["failures"] == []
    gold = workloads.golden()["queries_sf0.1"]["digests"]
    assert q["digests"] == {k: gold[k] for k in q["digests"]}
