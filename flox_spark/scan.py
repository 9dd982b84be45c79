"""``groupby_scan`` — grouped scans as window expressions.

Spark-native re-expression of flox's ``groupby_scan``
(reference: flox/scan.py:101-315).  flox needs a Blelloch prefix-scan
tree over dask blocks (flox/dask.py:576-663) because dask lacks a
shuffle; Spark's ``WindowExec`` after a hash partition on the group
keys replaces the whole carry-state machinery — each scan is ONE
window expression over ``Window.partitionBy(keys).orderBy(idx)``.

At scale: one shuffle on the group keys, then a sorted streaming pass
per partition (WindowExec spills if a group exceeds memory).  No UDFs.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DecimalType

from flox_spark.dtypes import (
    NAN,
    is_datetime_type,
    is_float_type,
    is_timedelta_type,
    sql_arith_input,
    sql_missing,
    sql_quote,
    sql_skip,
)
from flox_spark.aggregations import SCANS, Scan, ScanContext
from flox_spark.plans.util import one_task_if_small

__all__ = ["groupby_scan"]

_LAGS = ("shift", "diff", "pct_change")


@dataclass(frozen=True)
class _Channel:
    """One running reduction of a cumulative scan, in flox's ``Scan``
    form (flox/aggregations.py:715-737): ``run`` is the aggregate whose
    running window is the scan, ``op(earlier, later)`` the associative
    combine, ``identity`` its neutral element (``None``: a NULL, which
    every NULL-skipping ``op`` here ignores).  ``carry(order)`` is the
    block reduction when it is not ``run`` itself (the fills: the last
    non-missing value in order)."""

    run: Column
    op: Callable[[Column, Column], Column]
    identity: Column | None = None
    carry: Callable[[Column], Column] | None = None

    def scan(self, window) -> Column:
        running = self.run.over(window)
        return running if self.identity is None else F.coalesce(running, self.identity)


@dataclass(frozen=True)
class _CumulativeScan:
    """A cumulative scan as channels plus ``finish`` (channel values ->
    output Column, with the dtype restore).  ``reverse``: the scan runs
    over the descending order (``bfill``)."""

    channels: tuple[_Channel, ...]
    finish: Callable[[list[Column]], Column]
    reverse: bool = False


def _sum_type(dt: DataType) -> str:
    """Spark's ``sum`` result type for an arithmetic input."""
    if is_float_type(dt):
        return "double"
    if isinstance(dt, DecimalType):
        return DecimalType(min(38, dt.precision + 10), dt.scale).simpleString()
    return "long"


def _cumulative_scan(func: str, v: str, vdt: DataType) -> _CumulativeScan:
    """The one definition of each cumulative scan in ``SCANS`` over the
    quoted value column ``v``: the window plan runs
    ``finish([ch.scan(group_window)])``; the blocked plan
    (``scan_blocked``) runs the same ``ch.scan`` per block and folds
    the block carries with ``op``."""
    skip = sql_skip(v, vdt)

    def same(c: list[Column]) -> Column:
        return c[0]

    if func in ("cumsum", "nancumsum", "cumprod", "nancumprod"):
        x, xdt = sql_arith_input(skip, vdt)
        if "sum" in func:
            ch = _Channel(F.expr(f"sum({x})"), operator.add, F.lit(0).cast(_sum_type(xdt)))
        else:  # product() is not a SQL routine
            ch = _Channel(F.product(F.expr(x)), operator.mul, F.lit(1.0))

        def restore(c: Column) -> Column:
            if vdt.simpleString() == "float":
                return c.cast("float")
            if "prod" in func and not is_float_type(vdt):
                return c.cast("long")
            return c

        if func.startswith("nan"):
            return _CumulativeScan((ch,), lambda c: restore(c[0]))
        # numpy cumsum/cumprod: a missing value poisons every position
        # from its own on — NaN for floats, NULL otherwise (a NaN
        # literal cast to long would silently yield 0)
        poison = _Channel(
            F.expr(f"max(CAST({sql_missing(v, vdt)} AS INT))"), F.greatest, F.lit(0)
        )
        bad = F.lit(NAN) if is_float_type(vdt) else F.lit(None)
        return _CumulativeScan(
            (ch, poison), lambda c: restore(F.when(c[1] == 1, bad).otherwise(c[0]))
        )
    if func == "cumcount":
        count = _Channel(F.expr(f"count({skip})"), operator.add, F.lit(0).cast("long"))
        return _CumulativeScan((count,), same)
    if func in ("cummax", "cummin"):
        # NaN-skipping running extrema (beyond-reference utility);
        # preserves input type
        if func == "cummax":
            return _CumulativeScan((_Channel(F.expr(f"max({skip})"), F.greatest),), same)
        return _CumulativeScan((_Channel(F.expr(f"min({skip})"), F.least),), same)
    if func in ("ffill", "bfill"):
        # bfill is ffill over the reversed order: a running frame, where
        # first() over currentRow..unboundedFollowing re-aggregates the
        # whole rest of the group for every row
        pick = F.max if func == "ffill" else F.min
        v_skip = F.expr(skip)
        fill = _Channel(
            F.expr(f"last({skip}, true)"),
            lambda earlier, later: F.coalesce(later, earlier),
            # the last non-missing value in traversal order (missing
            # rows must not clobber the carry)
            carry=lambda o: pick(
                F.when(v_skip.isNotNull(), F.struct(o.alias("o"), v_skip.alias("v")))
            )["v"],
        )
        return _CumulativeScan((fill,), same, reverse=func == "bfill")
    raise ValueError(f"{func!r} is not a cumulative scan")


def _lag_finish(func: str, v: str, lagged: str, vdt: DataType) -> Column:
    """shift/diff/pct_change from the value and its lagged partner
    (SQL text) — shared by the window plan and ``shift_blocked``."""
    if func == "shift":
        return F.expr(lagged)
    if func == "pct_change":
        # pandas GroupBy.pct_change: v / lag(v) - 1; a zero lag
        # yields NULL via try_divide (ANSI-safe), not an abort
        return F.expr(f"try_divide(CAST({v} AS DOUBLE), CAST({lagged} AS DOUBLE)) - 1.0D")
    expr = f"({sql_arith_input(v, vdt)[0]} - {sql_arith_input(lagged, vdt)[0]})"
    if is_datetime_type(vdt) or is_timedelta_type(vdt):
        # datetime diff yields an interval-like long of microseconds,
        # surfaced as day-time interval
        return F.expr(f"make_dt_interval(0, 0, 0, {expr} / 1e6)")
    if vdt.simpleString() == "float":
        return F.expr(f"CAST({expr} AS FLOAT)")
    return F.expr(expr)


def groupby_scan(
    df: DataFrame,
    *by: str,
    func: str | Scan,
    value: str,
    order_by: str,
    alias: str | None = None,
    dtype: object = None,
    engine: str | None = None,
    method: str | None = None,
    finalize_kwargs: dict | None = None,
    plan: str = "auto",
) -> DataFrame:
    """Grouped scan with flox semantics (flox/scan.py:101-315).
    ``engine``/``method`` accepted for flox call-site compatibility
    and ignored (WindowExec replaces both scan methods); ``dtype``
    casts the value column before the scan (flox scan.py's dtype
    argument — the scan runs in the requested type).

    ``plan``: physical strategy.  ``"auto"`` (default) keeps the
    one-window form unless plan stats say rows-per-group crosses the
    measured blocked crossover (``blocked_route.route_to_blocked``;
    OPTIONS["blocked_route_scan_rows"]) — then the blocked twin runs
    (``groupby_scan_blocked`` for the cumulative funcs, over the same
    ``_cumulative_scan`` expressions and output types;
    ``groupby_shift_blocked`` for shift/diff/pct_change), whose
    parallelism is num_blocks per group instead of one task per
    group.  ``"window"``/``"blocked"`` force a strategy (blocked
    raises for custom ``Scan`` specs — their window expressions have
    no generic carry decomposition).  A forced ``"blocked"`` on a
    small input returns a checkpoint-backed frame (see
    ``blocked_route.blocked_scan``).

    Supported funcs (flox SCANS registry, flox/aggregations.py:849-878):

    - ``cumsum``: running sum, NaN propagates from the first NaN on
      (numpy cumsum semantics, flox/aggregate_flox.py:296-328).
    - ``nancumsum``: running sum treating NaN/NULL as 0 — missing
      positions receive the running total (numpy nancumsum).
    - ``ffill`` / ``bfill``: forward/backward fill of the last/next
      non-missing value within the group (flox/aggregations.py:855-876);
      ``bfill`` is the ffill window over the reversed order.
      No-op passthrough for non-float, non-nullable semantics mirrors
      flox/scan.py:199-201 (we fill NULLs for any type).
    - ``cumcount``: running count of non-missing values (bonus, the
      ``nanlen`` scan analog).
    - ``cumprod`` / ``nancumprod``: running product via exp/log of
      absolute values with sign tracking is numerically lossy, so we
      implement it exactly with a product aggregate over the window.

    Returns ``df`` with one added column (default name = func), the
    original row set and order preserved — flox returns an array of
    the input shape (flox/scan.py:300-315).

    ``func`` may also be a custom ``Scan`` spec (the escape hatch
    mirroring flox's public ``Scan`` dataclass,
    flox/aggregations.py:715-737): its ``build`` receives a
    ``ScanContext`` with the group window and returns the window
    Column.
    """
    custom = isinstance(func, Scan)
    if not custom and func not in SCANS:
        raise ValueError(f"unknown scan {func!r}; valid: {SCANS}")
    out = alias or (func.name if custom else func)
    if dtype is not None:
        from flox_spark.core import _spark_type

        df = df.withColumn(value, F.col(value).cast(_spark_type(dtype)))

    from flox_spark import blocked_route

    blocked_route.validate_plan(plan, "groupby_scan")
    if plan == "blocked" and custom:
        raise ValueError(
            "plan='blocked' does not apply to custom Scan specs (no "
            "generic carry decomposition for an arbitrary window "
            "expression); use plan='window'"
        )
    # a small input runs the route probe as one job and the window
    # plan as one task; the blocked twins take their own decision
    small, size, _ = one_task_if_small(df)
    if not custom and plan != "window":
        from flox_spark.options import OPTIONS

        if plan == "blocked" or blocked_route.route_to_blocked(
            small, by, OPTIONS["blocked_route_scan_rows"], order_by=order_by, size=size
        ):
            if func in _LAGS:
                from flox_spark.shift_blocked import groupby_shift_blocked

                return groupby_shift_blocked(
                    df, *by, value=value, order_by=order_by, func=func,
                    periods=int((finalize_kwargs or {}).get("periods", 1)),
                    alias=out,
                )
            from flox_spark.scan_blocked import groupby_scan_blocked

            return groupby_scan_blocked(
                df, *by, func=func, value=value, order_by=order_by, alias=out
            )
    df = small
    vdt = df.schema[value].dataType
    qv = sql_quote(value)
    if custom:
        w_ord = Window.partitionBy(*by).orderBy(order_by)
        ctx = ScanContext(
            value=F.col(value), v_skip=F.expr(sql_skip(qv, vdt)),
            missing=F.expr(sql_missing(qv, vdt)), dt=vdt,
            window=w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow),
            window_fwd=w_ord.rowsBetween(Window.currentRow, Window.unboundedFollowing),
            kwargs=dict(finalize_kwargs or {}),
        )
        return df.withColumn(out, func.build(ctx))
    if func in _LAGS:
        # pandas GroupBy.shift/diff parity (beyond the reference's
        # SCANS): lag/lead needs an UNFRAMED ordered window.  Rows
        # with no lag partner (group head for positive periods) are
        # NULL — the table-engine missing value — for every dtype;
        # pandas would upcast ints to float and emit NaN there, which
        # a typed column engine deliberately does not do.
        periods = int((finalize_kwargs or {}).get("periods", 1))
        lag = f"lag({qv}, {periods})" if periods >= 0 else f"lead({qv}, {-periods})"
        keys = ", ".join(sql_quote(b) for b in by)
        part = f"PARTITION BY {keys} " if by else ""
        lagged = f"{lag} OVER ({part}ORDER BY {sql_quote(order_by)})"
        return df.withColumn(out, _lag_finish(func, qv, lagged, vdt))
    spec = _cumulative_scan(func, qv, vdt)
    o = F.col(order_by)
    w = Window.partitionBy(*by).orderBy(o.desc() if spec.reverse else o).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn(out, spec.finish([ch.scan(w) for ch in spec.channels]))


def groupby_ewm(
    df,
    *by: str,
    value: str,
    order_by: str,
    alpha: float | None = None,
    halflife: float | None = None,
    span: float | None = None,
    func: str = "mean",
    adjust: bool = True,
    ignore_na: bool = False,
    out: str | None = None,
    plan: str = "auto",
):
    """Per-group exponentially weighted mean/std/var — pandas
    ``GroupBy.ewm`` parity, including ``adjust`` and ``ignore_na``.

    The EWM recurrence (y_t = f(y_{t-1}, x_t)) is inherently
    sequential per group and NOT window-expressible (a windowed
    formulation needs w^-t terms that overflow doubles past a few
    hundred rows), so this is a deliberate Arrow hatch: groups stream
    through ``groupby_apply_batched`` (one pandas ``groupby(...)
    .ewm()`` cython call per ARROW BATCH, not one Python call per
    group — measured 4.3s -> ~1s on 1 500 small groups) and pandas'
    own ewm kernel runs — bit-identical to pandas by construction.
    Same scale caveat as every per-group sequential op (a group must
    fit one worker's memory).  For ``func="mean"`` the caveat IS
    avoidable — BOTH adjust modes are ratios of LINEAR recurrences,
    which compose across blocks: see ``groupby_ewm_blocked``
    (r13; adjust=False r14, via a two-candidate-state carry for the
    first-observation weight).  var/std (coupled second-moment
    states) stay on this hatch, with the same legitimacy as the
    packing operator's (SURVEY §2.6).

    Exactly one of ``alpha`` / ``halflife`` / ``span``; ``func``:
    mean | var | std (pandas ddof=1 ewm variance).

    ``plan``: ``"auto"`` (default) keeps this per-group hatch unless
    plan stats say rows-per-group crosses the measured blocked
    crossover (``blocked_route.route_to_blocked``;
    OPTIONS["blocked_route_ewm_rows"]) AND the call is in
    ``groupby_ewm_blocked``'s scope (func="mean" in both adjust
    modes, var/std with adjust=True) — then
    the blocked linear-recurrence form runs, which also lifts this
    hatch's whole-group-in-one-worker memory wall.
    ``"window"``/``"blocked"`` force a strategy ("window" here
    meaning this one-kernel-per-group form).  A forced ``"blocked"``
    on a small input returns a checkpoint-backed frame (see
    ``blocked_route.blocked_scan``)."""
    import pandas as pd  # noqa: F401 — worker-side dependency

    if sum(x is not None for x in (alpha, halflife, span)) != 1:
        raise ValueError("pass exactly one of alpha=, halflife=, span=")
    if func not in ("mean", "var", "std"):
        raise ValueError(f"func must be mean|var|std, got {func!r}")

    from flox_spark import blocked_route

    blocked_route.validate_plan(plan, "groupby_ewm")
    # a small input runs the route probe as one job and the per-group
    # kernel as one task; the blocked twin takes its own decision
    small, size, one_task = one_task_if_small(df)
    blockable = func == "mean" or adjust  # var/std: adjust=True only
    if plan != "window" and blockable:
        from flox_spark.options import OPTIONS

        if plan == "blocked" or blocked_route.route_to_blocked(
            small, by, OPTIONS["blocked_route_ewm_rows"], order_by=order_by, size=size
        ):
            from flox_spark.ewm_blocked import groupby_ewm_blocked

            return groupby_ewm_blocked(
                df, *by, value=value, order_by=order_by, alpha=alpha,
                halflife=halflife, span=span, func=func, adjust=adjust,
                ignore_na=ignore_na, out=out,
            )
    elif plan == "blocked":
        raise ValueError(
            "plan='blocked' requires func='mean' or adjust=True "
            "(groupby_ewm_blocked's scope); adjust=False var/std stay "
            "on the per-group kernel (the renormalized second moment "
            "has no clean affine form)"
        )
    from flox_spark.ewm_blocked import _pandas_kw

    out = out or f"ewm_{func}"
    kw = _pandas_kw(alpha, halflife, span)

    in_fields = [f for f in df.schema.fields if f.name in (*by, order_by, value)]
    schema_parts = [f"`{f.name}` {f.dataType.simpleString()}" for f in in_fields]
    schema = ", ".join(schema_parts + [f"`{out}` double"])

    keys = list(by)

    def fn(pdf):
        # pdf holds whole groups, (keys, order_by)-sorted — ONE
        # cython ewm pass across all of them.  NB (r13, found by the
        # blocked twin's differential): a WINDOWED groupby op like
        # .ewm does NOT return rows in frame order for MULTI-key
        # groupby(sort=False) — pandas orders the output groups by
        # per-level first-appearance codes, so a later group reusing
        # an earlier-seen key value comes back out of position.
        # Realign through the result's original-index level; the
        # index is reset first because the harness's carry concat can
        # produce duplicate labels.
        pdf = pdf.reset_index(drop=True)
        ew = pdf.groupby(keys, sort=False, dropna=False)[value].ewm(
            adjust=adjust, ignore_na=ignore_na, **kw
        )
        res = getattr(ew, func)()
        keep = pdf.copy()
        keep[out] = res.droplevel(list(range(len(keys)))).sort_index().to_numpy()
        return keep

    from flox_spark.transform import _apply_batched

    return _apply_batched(
        small.select(*[f.name for f in in_fields]), keys, fn, schema, order_by,
        shuffle=not one_task,
    )
