"""``groupby_rolling`` — per-group rolling-window aggregation.

The moving-window companion to ``groupby_scan`` (flox's scans,
flox/aggregations.py:608-714, are the window=unbounded special case):
pandas-``rolling`` semantics over a table, re-expressed as ONE Spark
window specification shared by every requested aggregate.

Physical shape: a single hash exchange on the group keys + an
in-partition sort on the order column, then every aggregate evaluates
in the same WindowExec pass (Catalyst groups same-spec window
functions; no per-agg re-shuffle).  At 100 TB that is the same cost
as any keyed scan; the caveat it inherits from all window work is the
giant-single-group case (one group = one task's sort spill), the same
caveat ``groupby_scan`` documents and ``scan_blocked`` remedies.

Two window kinds, chosen by the ``window`` argument:

- ``int N``: row-based — the current row and the N-1 preceding rows
  within the group (pandas ``rolling(N)``), ``rowsBetween``.
- duration string (``"15min"``, ``"1h"``, ``"7d"`` — the
  ``resample.time_bucket`` freq grammar): time-based — all rows whose
  order timestamp lies in ``(t - window, t]``, the left-OPEN interval
  pandas ``rolling("1h")`` uses (its ``closed='right'`` default);
  implemented as ``rangeBetween`` over the int64-microsecond view
  with the lower bound shifted one microsecond in.  Fixed-width units
  only; a calendar month is not a fixed interval and is rejected
  loudly (same rule as ``resample_reduce``).

NaN/NULL policy matches the ``nan*`` reductions (and SQL): missing
values don't contribute, and ``min_periods`` masks windows with fewer
than that many present values to NULL (pandas' ``min_periods``,
default 1 — note pandas defaults row-count windows to
``min_periods=window``; pass it explicitly for that behavior).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from flox_spark.dtypes import is_datetime_type, is_float_type, sql_quote, sql_ts_micros
from flox_spark.resample import _parse_freq

__all__ = ["groupby_rolling"]


# funcs expressible inside one shared window frame.  Each entry maps
# the public name to a builder over (value_column, window_spec).
_ROLLING_FUNCS = {
    "count": lambda v, w: F.count(v).over(w),
    "sum": lambda v, w: F.sum(v).over(w),
    "mean": lambda v, w: F.avg(v).over(w),
    "min": lambda v, w: F.min(v).over(w),
    "max": lambda v, w: F.max(v).over(w),
    # sample statistics (ddof=1), the pandas rolling default
    "var": lambda v, w: F.var_samp(v).over(w),
    "std": lambda v, w: F.stddev_samp(v).over(w),
    "first": lambda v, w: F.first(v, ignorenulls=True).over(w),
    "last": lambda v, w: F.last(v, ignorenulls=True).over(w),
    # exact windowed median/quantile: the percentile aggregate buffers
    # only the FRAME's values (bounded by the declared window width) —
    # fine for ordinary windows, but window=100k x a hot group is the
    # same per-evaluation buffering hazard the quantile registry
    # escaped; pass approx=True past the measured crossover
    # (SCALE.md: exact stays competitive through ~1k-row frames, the
    # KLL sketch wins beyond)
    "median": lambda v, w: F.percentile(v, F.lit(0.5)).over(w),
}

# approx=True swaps the buffering members for their mergeable-sketch
# twins (bounded memory per frame evaluation regardless of window
# width) — the 100 TB default for giant windows, mirroring
# groupby_describe's approx flag
_ROLLING_FUNCS_APPROX = {
    **_ROLLING_FUNCS,
    "median": lambda v, w: F.percentile_approx(v, F.lit(0.5), F.lit(10000)).over(w),
}


def groupby_rolling(
    df: DataFrame,
    *by: str,
    order_by: str,
    aggs: dict[str, tuple[str, str]],
    window: int | str,
    min_periods: int = 1,
    approx: bool = False,
) -> DataFrame:
    """Append rolling-aggregate columns to ``df`` (row count preserved
    — a transform, like ``groupby_scan``).

    ``aggs``: ``{out_name: (func, value_col)}`` with funcs from
    count/sum/mean/min/max/var/std/first/last/median.  ``window``: int
    row count or fixed-width duration string.  ``min_periods``:
    windows holding fewer than this many non-missing values yield
    NULL.  ``approx``: swap buffering members (median) for their
    sketch twins — use for giant windows (the exact percentile
    buffers each frame's values per evaluation; see SCALE.md's
    measured crossover).

    Ties on the order column: a row-count window takes an arbitrary
    but partition-stable subset of the tied rows (SQL ROWS frame
    semantics); a time window includes ALL tied rows (RANGE frame) —
    identical to the pandas/DuckDB split between the two kinds.
    """
    if not by:
        raise ValueError("need at least one `by` column")
    if isinstance(window, int):
        if window <= 0:
            raise ValueError(f"row window must be positive, got {window}")
        odt = df.schema[order_by].dataType
        okey = (
            F.expr(sql_ts_micros(sql_quote(order_by))) if is_datetime_type(odt)
            else F.col(order_by)
        )
        w = Window.partitionBy(*by).orderBy(okey).rowsBetween(-(window - 1), 0)
    else:
        kind, step = _parse_freq(window)
        if kind != "fixed":
            raise ValueError(
                f"time window must be a fixed-width duration, got {window!r}: "
                "a calendar month/quarter/year is not a fixed interval "
                "(same rule as resample_reduce)"
            )
        odt = df.schema[order_by].dataType
        if not is_datetime_type(odt):
            raise ValueError(
                f"duration window {window!r} needs a timestamp/date order "
                f"column; {order_by!r} is {odt.simpleString()}"
            )
        us = F.expr(sql_ts_micros(sql_quote(order_by)))
        # (t - window, t]: +1 us excludes the exact left edge (pandas
        # closed='right')
        w = (
            Window.partitionBy(*by)
            .orderBy(us)
            .rangeBetween(-(step * 1_000_000) + 1, 0)
        )

    # ONE select for every output: sequential withColumn would wrap
    # each aggregate in its own Window operator (the interleaved
    # projections defeat Catalyst's CollapseWindow), re-sorting the
    # partition once per agg; a single projection puts all same-spec
    # window expressions into one WindowExec
    funcs = _ROLLING_FUNCS_APPROX if approx else _ROLLING_FUNCS
    new_cols: list[Column] = []
    for out_name, (func, value) in aggs.items():
        if func not in funcs:
            raise ValueError(
                f"unknown rolling func {func!r}; valid: {sorted(funcs)}"
            )
        vdt = df.schema[value].dataType
        v: Column = F.col(value)
        if is_float_type(vdt):
            # NaN -> NULL so SQL aggregates skip it (nan* semantics,
            # dtypes.sql_skip's rule)
            v = F.when(~F.isnan(v), v)
        expr = funcs[func](v, w)
        if min_periods > 1:
            present = F.count(v).over(w)
            expr = F.when(present >= F.lit(min_periods), expr)
        new_cols.append(expr.alias(out_name))
    return df.select("*", *new_cols)
