#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 15 --trace 0

Load shape: a closed loop with one client. One driver process on
local[<cpus>] runs the workload, waits for it to finish, and starts the
next run until ``--seconds`` have passed (at least one run).

``--trace 0`` prints the end-to-end metrics: set-up (session start plus
one full-size warm-up run) and the medians of the timed runs.
``--trace 1`` prints the per-layer metrics instead: one untraced run,
then a second session with the Spark event log on, one traced run, and
replays of each layer; the wall-time gap between the two runs is the
tracing overhead.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The lines before
it are the readable report; the full record, spans included, is written
to ``.bench_out/`` in the working directory. A failed output check
exits 1; a checkout without the engine exits 2.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("items_per_s", "1/s"),
    ("step_p50_s", "s"),
    ("step_tail_s", "s"),
    ("peak_rss_mb", "MB"),
]
# the tail is p75 of the pooled step times: a run set holds 8-30 steps,
# too few for a higher percentile with ten samples beyond it
TAIL_PERCENTILE = 75


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def session_conf(work: str, event_dir: str | None = None) -> dict:
    """Today's bench protocol (AQE off, v2 committer) with every scratch
    path inside the working directory."""
    conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + event_dir,
            }
        )
    return conf


def start_session(conf: dict, cpus: int):
    from bisque_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=conf,
    )


def shutdown_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(spark, wl, seconds: float, rss, tracer=None) -> list[dict]:
    """Closed loop: one run after another until ``seconds`` have passed."""
    runs: list[dict] = []
    t0 = time.time()
    while not runs or time.time() - t0 < seconds:
        rss.window()
        r = wl.run(spark, tracer=tracer)
        r["peak_rss_mb"] = rss.window()
        runs.append(r)
    return runs


def end_to_end(setup_s: float, runs: list[dict]) -> dict:
    steps = [s for r in runs for s in r["steps"]]
    tail = (
        statistics.quantiles(steps, n=100, method="inclusive")[TAIL_PERCENTILE - 1]
        if len(steps) > 1
        else steps[0]
    )
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(r["wall_s"] for r in runs),
        "items_per_s": statistics.median(r["items"] / r["wall_s"] for r in runs),
        "step_p50_s": statistics.median(steps),
        "step_tail_s": tail,
        "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in runs),
    }


def tally(wl, results: list[dict]) -> tuple[int, int]:
    """(attempted, failed) in the workload's unit: crawl runs, or queries."""
    sizes = [1 if wl.unit == "run" else r["items"] for r in results]
    attempted = sum(sizes)
    failed = sum(min(len(r["failures"]), n) for r, n in zip(results, sizes))
    return attempted, failed


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import __spark_entry__  # noqa: F401
        import bisque_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2

    from perfbench import host, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = host.cpus()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    out_dir = os.path.join(ROOT, ".bench_out")
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    cls = workloads.WORKLOADS[args.workload]
    wl = (
        cls(args.seed, work, os.path.join(ROOT, ".bench_cache"))
        if cls is workloads.Queries
        else cls(args.seed, work)
    )
    conf = session_conf(work)
    record = {
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "environment": host.environment(ROOT, args.seed, conf),
        "probe_start": host.steal_probe(),
    }
    results: list[dict] = []
    metrics: dict = {}
    error = None
    try:
        with host.RssSampler() as rss:
            t0 = time.time()
            spark = start_session(conf, cpus)
            t_session = time.time() - t0
            wl.prepare(spark)
            t1 = time.time()
            warm = wl.warmup(spark)
            setup_s = t_session + time.time() - t1
            results.append({**warm, "kind": "warm-up"})
            if args.trace == 0:
                runs = measure(spark, wl, args.seconds, rss)
                results += runs
                metrics = end_to_end(setup_s, runs)
                spark.stop()
            else:
                untraced = measure(spark, wl, 0, rss)
                results += untraced
                spark.stop()
                event_dir = os.path.join(work, "eventlog")
                spark = start_session(session_conf(work, event_dir), cpus)
                wl.rewarm(spark)
                tracer = trace.Tracer(spark.sparkContext, run_id)
                traced = measure(spark, wl, 0, rss, tracer=tracer)
                results += traced
                epochs = []
                if args.workload == "crawl_deep":
                    epochs = trace.replay_crawl(spark, tracer, wl, traced[0])
                spark.stop()
                log = trace.read_event_log(event_dir)
                if epochs:
                    metrics = trace.crawl_layers(log, tracer, traced[0], epochs)
                    print(trace.epoch_table(epochs))
                else:
                    metrics = trace.query_layers(log, tracer)
                metrics["trace.overhead_s"] = traced[0]["wall_s"] - untraced[0]["wall_s"]
                for span in tracer.spans:
                    span["spark"] = log["groups"].get(f"span-{span['id']}", {})
                record["spans"] = tracer.spans
                record["epochs"] = [
                    {k: v for k, v in ep.items() if not isinstance(v, list)} for ep in epochs
                ]
    except Exception:  # noqa: BLE001 — reported as a failed run below
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        # the JVM's Python workers are re-parented once it exits: note
        # them first, so that every process the run started is waited for
        leftover = host.descendants(os.getpid())
        shutdown_jvm()
        host.reap(leftover)
        shutil.rmtree(work, ignore_errors=True)
    record["probe_end"] = host.steal_probe()
    record["steal_window"] = record["probe_start"]["steal"] or record["probe_end"]["steal"]

    attempted, failed = tally(wl, results)
    if error is not None:
        attempted, failed = attempted + 1, failed + 1
    units = dict(END_TO_END if args.trace == 0 else trace.PER_LAYER)
    values = {name: float(metrics.get(name, 0.0)) for name in units}
    correct = failed == 0 and error is None and bool(metrics)
    record["runs"] = [
        {**{k: v for k, v in r.items() if k != "workdir"}, "steal_window": record["steal_window"]}
        for r in results
    ]
    record["failures"] = [f for r in results for f in r["failures"]] + ([error] if error else [])
    record["metrics"] = values

    env = record["environment"]
    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
        f"cpus={env['cpus']} spark={env['spark']} pyarrow={env['pyarrow']} "
        f"pandas={env['pandas']} aqe={env['aqe']} committer=v{env['committer']} "
        f"driver_memory={env['driver_memory']} commit={env['git_commit'] or '-'} "
        f"source={env['source_digest']}"
    )
    print(
        f"probe start {record['probe_start']}  end {record['probe_end']}  "
        f"steal_window={record['steal_window']}"
    )
    for r in results:
        print(
            f"{r.get('kind', 'run'):8s} wall_s={r['wall_s']:.3f} items={r['items']} "
            f"digests={r['digests']} failures={r['failures']}"
        )
    if args.trace == 0:
        print(f"step_tail_s is p{TAIL_PERCENTILE} of the pooled step times")
    for name, unit in units.items():
        print(f"{name:45s} {values[name]:14.4f} {unit}")
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
