"""Physical-plan property regression guard.

The properties that decide 100-TB viability (no Python in JVM-
expressible stages, broadcast dim joins, top-k pushed into the window,
no nested-loop fallback on the LSH path) are asserted for every entry
of the check table in ``plan_checks.py``, so a refactor that silently
degrades a plan fails CI. ``scripts/explain_plans.py`` renders the same
table into EXPLAIN.md. Explain only: nothing heavy executes.
"""

import pytest

from plan_checks import CHECKS, check, plan_text


@pytest.mark.parametrize(
    "name,build,checks", CHECKS, ids=[name for name, _, _ in CHECKS]
)
def test_plan_properties(spark, tmp_path, name, build, checks):
    from bisque_spark.util import release_caches

    try:
        plan = plan_text(build(spark, str(tmp_path)))
    finally:
        release_caches()
    missed = [pat for pat, _why in checks if not check(plan, pat)]
    assert not missed, f"{name}: plan fails {missed}"
