"""Gap-based sessionization for event streams.

Beyond the reference's surface (SURVEY §2.5 — flox has no event/
session operators); part of the pipeline-operator suite the engine's
north star (BASELINE.json) calls for.

Two shapes, one semantics:

- ``sessionize`` — row-level session ids: within each entity, a new
  session starts when the gap to the previous event is >= ``gap``.
  One hash shuffle on the entity keys, then a streaming ``WindowExec``
  pass (lag + running sum) — no UDFs, spills per partition, scales to
  any per-entity history length.
- ``session_stats`` — session-level aggregates via Spark's native
  ``F.session_window`` (the same gap-merge semantics, batch AND
  Structured Streaming), so session rollups at 100 TB use the
  built-in session-aggregation physical operator (merging session
  state map-side) instead of a full row-level window pass.

The boundary rule is ``gap_micros > gap`` (an event exactly ``gap``
after its predecessor still MERGES into the session): Spark's
``session_window`` extends a closed interval ``[start, last + gap]``,
so ``sessionize`` uses the same rule and the two implementations agree
exactly; ``tests/test_sessions.py`` asserts it at the boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flox_spark.dtypes import sql_quote, sql_ts_micros

__all__ = ["sessionize", "session_stats"]


def _gap_micros(gap_seconds: float) -> int:
    return int(round(gap_seconds * 1_000_000))


def sessionize(
    df: DataFrame,
    *by: str,
    ts: str = "ts",
    gap_seconds: float = 1800.0,
    tiebreak: str | None = None,
    alias: str = "session_id",
) -> DataFrame:
    """Add a 0-based ``session_id`` column per entity.

    ``tiebreak`` (e.g. an event id) makes ordering total when
    timestamps can tie — required for deterministic ids."""
    order = [F.col(ts)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*by).orderBy(*order)
    cur = F.expr(sql_ts_micros(sql_quote(ts)))
    prev = F.lag(cur).over(w)
    brk = F.when(
        prev.isNull() | (cur - prev > F.lit(_gap_micros(gap_seconds))),
        F.lit(1),
    ).otherwise(F.lit(0))
    running = Window.partitionBy(*by).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("__brk", brk).withColumn(
        alias, (F.sum("__brk").over(running) - F.lit(1)).cast("long")
    ).drop("__brk")


def session_stats(
    df: DataFrame,
    *by: str,
    ts: str = "ts",
    gap_seconds: float = 1800.0,
    value: str | None = None,
) -> DataFrame:
    """Per-session rollup: start, end, event count, duration (micros),
    and optionally sum(value).

    Uses ``F.session_window`` — Catalyst's native session aggregation:
    partial (map-side) session merging before the shuffle, and the
    identical call works under Structured Streaming with a watermark.
    ``session_start`` equals the first event's timestamp, so results
    join back to ``sessionize`` output on (entity, start)."""
    # microsecond-precision gap, matching sessionize exactly (a
    # whole-second rounding here would break the documented agreement
    # for fractional gaps and reject sub-second ones)
    gap_us = _gap_micros(gap_seconds)
    if gap_us <= 0:
        raise ValueError("gap_seconds must be positive")
    gap_expr = f"{gap_us} microseconds"
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.max(F.col(ts)).alias("last_ts"),
    ]
    if value is not None:
        aggs.append(F.sum(F.col(value)).alias("sum_value"))
    out = (
        df.groupBy(*by, F.session_window(F.col(ts), gap_expr).alias("__w"))
        .agg(*aggs)
        .withColumn("session_start", F.col("__w.start"))
        .withColumn(
            "duration_us",
            F.expr(f"{sql_ts_micros('last_ts')} - {sql_ts_micros('__w.start')}"),
        )
        .drop("__w")
    )
    cols = [*by, "session_start", "last_ts", "n_events", "duration_us"]
    if value is not None:
        cols.append("sum_value")
    return out.select(*cols)
