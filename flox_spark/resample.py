"""``resample_reduce`` — time-bucketed grouped reduction.

The reference's dominant real-world workload is xarray
``resample``/``groupby`` over time coordinates (its ASV benchmarks are
climatology shapes; xarray lowers resample to flox groupby_reduce over
datetime-derived labels, reference flox/xarray.py:73-516).  This is
that surface as a first-class table API: a pandas-style frequency
string becomes a bucket column, then the shared
``groupby_reduce_multi`` pass does the rest — ONE aggregation, all
codegen.

Bucketing strategies, both pure projections (no UDF, no shuffle of
their own):

- fixed-width frequencies (seconds/minutes/hours/days/weeks): exact
  epoch arithmetic — ``floor((micros - origin) / step) * step`` on
  int64 microseconds, O(1) per row for ANY multiple (``15min``,
  ``6h``, ``2w``);
- calendar frequencies (month/quarter/year): ``date_trunc``
  (multiples > 1 are rejected loudly — a "3mo" bucket is not
  expressible as a fixed truncation and silently approximating it
  would corrupt results).
"""

from __future__ import annotations

import re
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["resample_reduce", "resample_upsample", "time_bucket", "time_weighted_mean"]

# pandas-style aliases -> (kind, seconds-per-unit | trunc-unit)
_FIXED = {
    "s": 1, "sec": 1, "second": 1,
    "min": 60, "t": 60, "minute": 60,
    "h": 3600, "hr": 3600, "hour": 3600,
    "d": 86400, "day": 86400,
    "w": 604800, "week": 604800,
}
_CALENDAR = {
    "mo": "month", "m": "month", "month": "month", "ms": "month",
    "q": "quarter", "quarter": "quarter",
    "y": "year", "a": "year", "year": "year", "ys": "year",
}


def _parse_freq(freq: str) -> tuple[str, int]:
    m = re.fullmatch(r"\s*(\d*)\s*([a-zA-Z]+)\s*", freq)
    if not m:
        raise ValueError(f"unparseable freq {freq!r}; want e.g. '15min', '1h', '1d', '1mo'")
    n = int(m.group(1) or 1)
    unit = m.group(2).lower()
    if n <= 0:
        raise ValueError(f"freq multiple must be positive, got {freq!r}")
    if unit in _FIXED:
        return "fixed", n * _FIXED[unit]
    if unit in _CALENDAR:
        if n != 1:
            raise ValueError(
                f"calendar freq multiples are not supported ({freq!r}): "
                f"'3{unit}' is not a fixed truncation; resample at "
                f"'1{unit}' and re-aggregate, or use a fixed-width freq"
            )
        return _CALENDAR[unit], 0
    raise ValueError(f"unknown freq unit {unit!r} in {freq!r}")


def time_bucket(col: Column, freq: str, origin: str = "1970-01-01") -> Column:
    """The bucket-start timestamp for ``col`` at ``freq`` — a pure
    projection usable anywhere (including Structured Streaming
    groupers).  ``origin`` anchors fixed-width buckets (e.g. weekly
    buckets starting Monday: pass a Monday)."""
    kind, step = _parse_freq(freq)
    if kind != "fixed":
        return F.date_trunc(kind, col)
    step_us = F.lit(step * 1_000_000).cast("long")
    org = F.unix_micros(F.lit(origin).cast("timestamp"))
    us = F.unix_micros(col.cast("timestamp"))
    # bucket start = origin + floor((us-origin)/step)*step, computed
    # WITHOUT the division: d - pmod(d, step) is exactly that multiple,
    # in pure long arithmetic (a long/long `/` in Spark is double
    # division — inexact past 2^53, i.e. microsecond epochs beyond
    # ~2255).  pmod keeps pre-origin timestamps bucketing left.
    d = us - org
    return F.timestamp_micros(org + d - F.pmod(d, step_us))


def resample_reduce(
    df: DataFrame,
    time_col: str,
    freq: str,
    aggs: dict[str, tuple[str, str] | dict],
    by: Sequence[str] = (),
    bucket_col: str | None = None,
    sort: bool = True,
    origin: str = "1970-01-01",
    **kw: Any,
) -> DataFrame:
    """Resample ``df`` on ``time_col`` at ``freq`` and reduce.

    ``aggs`` has ``groupby_reduce_multi`` shape:
    ``{out_name: (func, value_col)}`` or dicts with finalize_kwargs.
    Extra groupers in ``by`` nest inside each bucket (the
    climatology-by-station shape).  The bucket column (default
    ``{time_col}_bucket``) holds the bucket-START timestamp, matching
    pandas/xarray resample labels with ``label='left'`` (their
    default) and ``origin='epoch'``.

    One aggregation pass: the bucket is a projection, the groupBy
    shuffles once on (bucket, *by) — at 100 TB the same shape as any
    keyed aggregation, with AQE handling the (usually mild) bucket
    skew."""
    from flox_spark.core import groupby_reduce_multi

    out_name = bucket_col or f"{time_col}_bucket"
    if out_name in df.columns:
        raise ValueError(f"bucket column {out_name!r} already exists; pass bucket_col=")
    work = df.withColumn(out_name, time_bucket(F.col(time_col), freq, origin))
    return groupby_reduce_multi(work, out_name, *by, aggs=aggs, sort=sort, **kw)


def time_weighted_mean(
    df: DataFrame,
    *by: str,
    value: str,
    ts: str,
    out: str = "twa",
    sort: bool = True,
) -> DataFrame:
    """Per-group time-weighted average for IRREGULARLY sampled step
    series (the TimescaleDB ``time_weight('LOCF')`` analog): each
    sample holds until the next one, so its weight is the gap to the
    next timestamp and the result is integral / total-span.  The last
    sample carries zero weight; groups with fewer than two non-missing
    samples yield NULL (no span to integrate over).  Rows with a
    missing value are excluded before weighting (their time span
    accrues to the previous sample, LOCF-style).

    Scale shape: one hash exchange on the group keys, one sorted
    window pass for ``lead(ts)``, one map-side-combined aggregate —
    the same single-shuffle profile as ``groupby_scan``.
    """
    from flox_spark.dtypes import drop_missing, sql_quote, sql_ts_micros

    # drop missing labels like every grouped operator
    # (flox/factorize.py:201-212), before the key set below is taken
    df = drop_missing(df, by)
    work = drop_missing(df, [value])
    w = Window.partitionBy(*by).orderBy(ts)
    micros = F.expr(sql_ts_micros(sql_quote(ts)))
    dur = (F.lead(micros).over(w) - micros).cast("double")
    work = work.withColumn("__dur", dur)
    got = work.groupBy(*by).agg(
        # try_divide: a group whose samples share one timestamp has a
        # zero total span — NULL, not an ANSI DIVIDE_BY_ZERO abort
        F.try_divide(F.sum(F.col(value) * F.col("__dur")), F.sum("__dur")).alias(out)
    )
    # groups whose every value is missing were dropped by the
    # pre-filter; restore them with a NULL result so the output keys
    # always equal the input's group-key set (group-cardinality join)
    keys = df.select(*by).distinct()
    result = keys.join(got, list(by), "left")
    return result.orderBy(*by) if sort else result


def resample_upsample(
    df: DataFrame,
    *by: str,
    time_col: str,
    value: str,
    freq: str,
    method: str = "ffill",
    origin: str = "1970-01-01",
    out: str | None = None,
) -> DataFrame:
    """UPSAMPLE to a regular per-group time grid — the xarray/pandas
    ``resample(...).ffill() / .bfill() / .interpolate()`` analog for
    irregular series.  Output: one row per (group, grid timestamp)
    from the group's first to last bucket inclusive, with the value

    - ``ffill``: last observation at-or-before the grid point (LOCF)
    - ``bfill``: first observation at-or-after it
    - ``linear``: time-proportional interpolation between the
      bracketing observations (exact at observation points; NULL
      before the first / after the last observation)

    Spark-first plan, no per-group loops:

    1. group bounds: one aggregate -> (min_bucket, max_bucket), a
       group-cardinality frame
    2. grid: ``explode(sequence(lo, hi, interval))`` over the bounds
       frame — grid-sized, generated distributively, never collected
    3. per-bucket last/first observation: one aggregate of the facts
       (max/min of a (ts, value) struct — deterministic tie-break:
       the LATEST row wins ffill, the EARLIEST wins bfill, ties on
       the timestamp resolved by value to stay partition-stable)
    4. grid LEFT JOIN observed buckets + an unbounded window
       last/first(ignorenulls) carry — the scan-family LOCF

    Every stage is bucket- or group-sized except the single fact-side
    aggregate; the join keys are (group, bucket) so AQE broadcasts
    the observed side when small.  Fixed-width freqs only (a calendar
    month is not a fixed interval — same rule as resample_reduce)."""
    if method not in ("ffill", "bfill", "linear"):
        raise ValueError(f"method must be ffill|bfill|linear, got {method!r}")
    kind, step = _parse_freq(freq)
    if kind != "fixed":
        raise ValueError(
            f"upsampling needs a fixed-width freq, got {freq!r} "
            "(same rule as groupby_rolling time windows)"
        )
    out = out or value
    from flox_spark.dtypes import drop_missing

    work = drop_missing(df, by)
    bucket = time_bucket(F.col(time_col), freq, origin)
    v = F.col(value).cast("double")
    v = F.when(~F.isnan(v), v)
    obs_base = work.select(
        *[F.col(b) for b in by],
        bucket.alias("__bk"),
        F.unix_micros(F.col(time_col).cast("timestamp")).alias("__us"),
        v.alias("__v"),
    ).filter(F.col("__v").isNotNull())

    # per-bucket representative observation (latest for ffill/linear's
    # left side, earliest for bfill/linear's right side)
    last_s = F.max(F.struct(F.col("__us"), F.col("__v"))).alias("__last")
    first_s = F.min(F.struct(F.col("__us"), F.col("__v"))).alias("__first")
    obs = obs_base.groupBy(*[F.col(b) for b in by], F.col("__bk")).agg(
        last_s, first_s
    )

    bounds = obs.groupBy(*[F.col(b) for b in by]).agg(
        F.min("__bk").alias("__lo"), F.max("__bk").alias("__hi")
    )
    step_expr = F.expr(f"INTERVAL {step} SECOND")
    grid = bounds.select(
        *[F.col(b) for b in by],
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"), step_expr)).alias("__bk"),
    )
    g = grid.join(obs, [*by, "__bk"], "left")

    w_prev = (
        Window.partitionBy(*[F.col(b) for b in by])
        .orderBy(F.col("__bk"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(*[F.col(b) for b in by])
        .orderBy(F.col("__bk"))
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev = F.last(F.col("__last"), ignorenulls=True).over(w_prev)
    nxt = F.first(F.col("__first"), ignorenulls=True).over(w_next)
    if method == "ffill":
        expr = prev["__v"]
    elif method == "bfill":
        expr = nxt["__v"]
    else:
        gap = (nxt["__us"] - prev["__us"]).cast("double")
        tpos = (F.unix_micros(F.col("__bk")) - prev["__us"]).cast("double")
        frac = F.try_divide(tpos, gap)
        expr = F.when(
            F.col("__last").isNotNull(), F.col("__last")["__v"]
        ).otherwise(prev["__v"] + (nxt["__v"] - prev["__v"]) * frac)
    return g.select(
        *[F.col(b) for b in by], F.col("__bk").alias(time_col), expr.alias(out)
    )
