"""Two-step funnel conversion (A then B within T).

Event-analytics staple: of the entities that did step A, how many did
step B within the window, and how fast.  Built by composing
``asof_join`` (forward direction + tolerance) with a grouped
aggregate — the whole funnel is one union + one sorted window pass +
one group-sized aggregation, never a per-entity range join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flox_spark.dtypes import sql_quote, sql_ts_micros

from flox_spark.operators.asof import asof_join

__all__ = ["funnel_conversion", "funnel_path"]


def funnel_path(
    events: DataFrame,
    *by: str,
    ts: str = "ts",
    steps: list[Column],
    within_seconds: float,
    round_to: int = 6,
) -> DataFrame:
    """N-step funnel: step-0 events are the cohort; each later step
    must occur at-or-after the previous step's match, within
    ``within_seconds`` of it.  One forward as-of join per step — the
    whole path is N-1 union+window passes, still no range joins.

    ``within_seconds`` is required: rows that failed step i carry a
    NULL step-i timestamp, and the tolerance predicate is what keeps
    them from matching step i+1 (NULL-safe on both engines).

    Returns one row per entity: ``n_step0`` and ``n_stepK`` counts of
    cohort events that reached step K, plus per-step rates."""
    if len(steps) < 2:
        raise ValueError("funnel_path needs at least 2 steps")
    if within_seconds is None:
        raise ValueError("within_seconds is required (NULL-chain guard)")
    cur = events.filter(steps[0]).select(*by, F.col(ts).alias("__t0"))
    for i, cond in enumerate(steps[1:], 1):
        right = events.filter(cond).select(*by, F.col(ts).alias(f"__t{i}"))
        cur = asof_join(
            cur,
            right,
            *by,
            left_ts=f"__t{i - 1}",
            right_ts=f"__t{i}",
            right_cols=[],
            direction="forward",
            tolerance_seconds=within_seconds,
        ).withColumnRenamed(f"asof___t{i}", f"__t{i}")
    aggs = [F.count(F.lit(1)).alias("n_step0")]
    for i in range(1, len(steps)):
        aggs.append(F.count(F.col(f"__t{i}")).alias(f"n_step{i}"))
        aggs.append(
            F.round(F.avg(F.col(f"__t{i}").isNotNull().cast("double")), round_to).alias(
                f"rate_step{i}"
            )
        )
    return cur.groupBy(*by).agg(*aggs)


def funnel_conversion(
    events: DataFrame,
    *by: str,
    ts: str = "ts",
    start: Column,
    step: Column,
    within_seconds: float,
    round_to: int = 6,
) -> DataFrame:
    """Per-entity funnel stats: every ``start`` event joined to the
    first ``step`` event at-or-after it (same entity, within the
    window).  Equal timestamps count as converted (the DuckDB/pandas
    as-of convention).

    Returns one row per entity with ``n_start``, ``n_converted``,
    ``conversion_rate`` and ``mean_delay_us`` — the mean conversion
    delay floored to whole microseconds (NULL when nothing
    converted).  Integer microseconds rather than rounded seconds:
    exact-microsecond delays average onto .5 boundaries, where
    engines disagree on round-half direction; floor is deterministic
    everywhere."""
    left = events.filter(start).select(*by, F.col(ts))
    right = events.filter(step).select(*by, F.col(ts).alias("__step_ts"))
    j = asof_join(
        left,
        right,
        *by,
        left_ts=ts,
        right_ts="__step_ts",
        right_cols=[],
        direction="forward",
        tolerance_seconds=within_seconds,
    )
    conv = F.col("asof___step_ts").isNotNull()
    delay_us = F.expr(f"{sql_ts_micros('asof___step_ts')} - {sql_ts_micros(sql_quote(ts))}")
    return (
        j.groupBy(*by)
        .agg(
            F.count(F.lit(1)).alias("n_start"),
            F.sum(conv.cast("long")).alias("n_converted"),
            F.round(F.avg(conv.cast("double")), round_to).alias("conversion_rate"),
            F.floor(F.avg(F.when(conv, delay_us))).cast("long").alias("mean_delay_us"),
        )
    )
