"""Physical-plan property regression guard.

The properties that decide 100-TB viability (no Python in JVM-
expressible stages, broadcast dim joins, top-k pushed into the window,
no nested-loop fallback on the LSH path) are asserted here against
`.explain("formatted")` output, so a refactor that silently degrades a
plan fails CI — not just the manually-run scripts/explain_plans.py
audit. Explain only: nothing heavy executes.
"""

import contextlib
import io

import pytest

SF = "/root/testdata/sf0.001"

CASES = [
    ("doc_langid", ["!EvalPython"]),
    ("doc_bpe_tokens", ["!EvalPython", "Scan parquet"]),
    ("doc_token_stats", ["!EvalPython"]),
    ("events_politeness_topk", ["WindowGroupLimit", "!EvalPython"]),
    ("revenue_by_nation", ["BroadcastHashJoin", "!EvalPython"]),
    ("regional_revenue", ["BroadcastHashJoin"]),
    ("emb_knn_query0", ["TakeOrderedAndProject", "!EvalPython"]),
    ("lsh_embedding_pairs", ["!BroadcastNestedLoopJoin"]),
    ("pricing_summary", ["PushedFilters", "!EvalPython"]),
    ("crawl_epoch_schedule", ["BroadcastHashJoin", "Window"]),
]


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name,patterns", CASES, ids=[c[0] for c in CASES])
def test_plan_properties(spark, name, patterns):
    import re

    import __spark_entry__ as entrymod
    from bisque_spark.util import release_caches

    try:
        plan = _plan_of(entrymod.queries()[name](spark, SF))
    finally:
        release_caches()
    for pat in patterns:
        if pat.startswith("!"):
            assert re.search(pat[1:], plan) is None, f"{name}: found {pat[1:]}"
        else:
            assert re.search(pat, plan) is not None, f"{name}: missing {pat}"
