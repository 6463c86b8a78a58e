"""Render EXPLAIN.md: the formatted physical plan of every entry in the
plan-property check table (tests/plan_checks.py) with each check's
verdict. The gate (tests/test_plans.py) runs the same checks with the
same scale factor and session settings.

    python scripts/explain_plans.py
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "tests")]

from plan_checks import CHECKS, SF, check, plan_text

from bisque_spark.session import get_spark
from bisque_spark.util import release_caches

# run-to-run noise in a rendered plan: expression ids, plan ids, temp
# paths and the random suffix of a re-registered bucketed table
_VOLATILE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\s\],)']+"), "<tmp>"),
    (re.compile(r"(_bkt_v\d+_)[0-9a-f]{6}\b"), r"\1<tag>"),
]


def rendered(plan: str) -> str:
    """``plan`` with the run-to-run noise replaced, so a rerun with no
    code change writes the same EXPLAIN.md (checks see the raw plan)."""
    for pat, repl in _VOLATILE:
        plan = pat.sub(repl, plan)
    return plan.strip()[:4000]


def main():
    spark = get_spark(
        app_name="explain_plans", master="local[4]", shuffle_partitions=4
    )
    out = [
        "# EXPLAIN — physical plans of headline queries",
        "",
        "Generated by scripts/explain_plans.py (sf=%s) from the check" % SF,
        "table in tests/plan_checks.py, which tests/test_plans.py runs in",
        "the gate. Checked plan properties are the ones that decide",
        "100-TB viability (pushdown, broadcast, codegen).",
        "",
    ]
    for name, build, checks in CHECKS:
        with tempfile.TemporaryDirectory() as tmp:
            try:
                plan = plan_text(build(spark, tmp))
            finally:
                release_caches()
        out.append(f"## {name}\n")
        for pat, why in checks:
            verdict = "PASS" if check(plan, pat) else "MISS"
            out.append(f"- {verdict}: {why} (`{pat}`)")
        out.append("\n```\n" + rendered(plan) + "\n```\n")
        print(name, "checked")
    with open(os.path.join(REPO, "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
