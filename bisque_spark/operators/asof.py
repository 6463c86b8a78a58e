"""As-of (point-in-time) join — a custom operator Spark lacks natively.

For each left row, attach the most recent right row with
``right.ts <= left.ts`` within the same key ("backward" direction,
inclusive — the same semantics as pandas ``merge_asof`` and DuckDB
``ASOF JOIN``).

Spark-first implementation (SURVEY-style: composition of existing
DataFrame ops, no UDF): tag both sides, union, and window-fill with
``last(..., ignorenulls=True)`` ordered by (ts, side) where the right
side sorts first at equal timestamps (inclusivity). One shuffle on the
key — the same cost as a sort-merge join, with no range-explosion.

The fill carries ONE struct of the whole matched right row (ts +
value columns), not per-column fills: per-column ``last(ignorenulls)``
would mix values from different right rows whenever a right value is
NULL (pandas/DuckDB attach the matched row's value *including* its
NULLs). Right-side ties on (by, ts) are broken deterministically by
the struct's own ordering (last = max struct wins).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "user_id",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Backward-inclusive as-of join; right value columns arrive as
    ``<col>_right`` (None where no right row precedes)."""
    value_cols = value_cols or [
        c for c in right.columns if c not in (on, by)
    ]
    rtypes = dict(right.dtypes)
    struct_type = (
        "struct<__ts:" + rtypes[on]
        + "".join(f",{c}:{rtypes[c]}" for c in value_cols) + ">"
    )
    l_tagged = left.withColumn("__side", F.lit(1))
    for c in value_cols:
        if c in left.columns:
            l_tagged = l_tagged.withColumnRenamed(c, f"__l_{c}")
    l_tagged = l_tagged.withColumn("__r", F.lit(None).cast(struct_type))
    # a NULL on-key can never be "<= left.ts" (DuckDB ASOF / merge_asof
    # reject NULL keys) — without this filter it would sort first and
    # forward-fill into every left row
    r_tagged = right.where(F.col(on).isNotNull()).select(
        F.col(by),
        F.col(on),
        F.lit(0).alias("__side"),
        F.struct(
            F.col(on).alias("__ts"), *[F.col(c) for c in value_cols]
        ).cast(struct_type).alias("__r"),
    )
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    w = (
        Window.partitionBy(by)
        .orderBy(
            F.col(on).asc(),
            F.col("__side").asc(),
            F.col("__r").asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.withColumn("__r", F.last("__r", ignorenulls=True).over(w))
    out = (
        filled.where(F.col("__side") == 1)
        .withColumn(f"{on}_right", F.col("__r").getField("__ts"))
    )
    for c in value_cols:
        out = out.withColumn(f"{c}_right", F.col("__r").getField(c))
    out = out.drop("__side", "__r")
    for c in value_cols:
        if f"__l_{c}" in out.columns:
            out = out.withColumnRenamed(f"__l_{c}", c)
    return out
