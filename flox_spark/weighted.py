"""Weighted grouped reductions — the xarray ``.weighted()`` surface.

The reference itself takes no weights (xarray computes ``w*x`` /
``sum_of_weights`` upstream and calls flox twice); this module fuses
that pattern into ONE aggregation pass per call, with xarray's
missing-value rule: a weight is only counted where the VALUE is
non-missing (xarray's ``weighted.mean`` masks weights by ``notnull``),
and missing weights are treated as 0.

Supported funcs: ``sum``/``mean``/``var``/``std``/``count`` and their
``nan*`` twins.  The plain variants NaN-poison exactly like the
unweighted engine (any missing value in the group -> NaN).  Weighted
var/std use the frequency-weights convention
``sum(w*(x-mu)^2) / sum(w)``, computed on values SHIFTED by a
per-group anchor (the group minimum, via a window over the same
partitioning the aggregate uses — still one exchange): the raw
one-pass ``sum(w*x^2)/sum(w) - mu^2`` catastrophically cancels at
large value offsets (~0.3% relative error at 1e7 magnitude), which
the reference treats as a correctness property — shift-by-first in
``flox/aggregate_npg.py:112-126``, pinned at rtol 1e-13 /
offset 1e7 in reference ``tests/test_core.py:2293-2321``.  Variance
is shift-invariant, so anchoring makes the residual cancellation
scale with the group's SPREAD instead of its magnitude.

NaN labels are dropped and the output is sorted, matching
``groupby_reduce``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flox_spark.dtypes import NAN, drop_missing, sql_arith_input, sql_missing, sql_quote, sql_skip

__all__ = ["groupby_reduce_weighted"]

_FUNCS = ("sum", "mean", "var", "std", "count")


def groupby_reduce_weighted(
    df: DataFrame,
    *by: str,
    func: str,
    value: str,
    weights: str,
    alias: str | None = None,
    sort: bool = True,
    ddof_note: None = None,
) -> DataFrame:
    """Weighted grouped reduction.  ``func`` may be any of
    sum/mean/var/std/count or the nan-skipping ``nan*`` variant.

    Precision caveat (the salting module's 2^53 note, mirrored): the
    value column is routed through DOUBLE (w*v products need fractional
    arithmetic), so int64 values beyond 2^53 round to the nearest
    representable double before summing — bit-identical to
    xarray's ``.weighted().sum()`` (numpy float64 dot) but NOT exact
    integer arithmetic.  Property-pinned in
    ``tests/test_weighted.py::test_weighted_sum_past_2_53_matches_numpy_float64``."""
    skipna = func.startswith("nan")
    base = func[3:] if skipna else func
    if base not in _FUNCS:
        raise ValueError(f"weighted supports {_FUNCS} (+nan*), got {func!r}")
    out = alias or func

    vdt = df.schema[value].dataType
    wdt = df.schema[weights].dataType

    work = drop_missing(df, by)

    qv = sql_quote(value)
    v = F.expr(f"CAST({sql_arith_input(sql_skip(qv, vdt), vdt)[0]} AS DOUBLE)")
    w = F.expr(f"coalesce(CAST({sql_skip(sql_quote(weights), wdt)} AS DOUBLE), 0.0D)")
    # xarray rule: weights count only where the value is present
    w_eff = F.when(v.isNotNull(), w).otherwise(F.lit(0.0))

    sw = F.coalesce(F.sum(w_eff), F.lit(0.0))
    swv = F.sum(w_eff * v)

    if base == "count":
        expr: Column = sw
    elif base == "sum":
        expr = F.coalesce(swv, F.lit(0.0))
    elif base == "mean":
        expr = swv / sw
    else:  # var / std — shifted for stability (see module docstring).
        # The anchor window partitions on the same keys as the groupBy,
        # so Catalyst plans ONE exchange reused by window + aggregate.
        anchor = F.min(v).over(Window.partitionBy(*by))
        work = work.withColumn("__fx_sv", v - anchor)
        s = F.col("__fx_sv")
        sws = F.sum(w_eff * s)
        sws2 = F.sum(w_eff * s * s)
        mu_s = sws / sw
        expr = sws2 / sw - mu_s * mu_s
        # clamp tiny negative round-off (guarded by the sw > 0 branch
        # below — greatest() would otherwise swallow the empty-group
        # NULL into 0.0)
        expr = F.greatest(expr, F.lit(0.0))
        if base == "std":
            expr = F.sqrt(expr)

    if base in ("mean", "var", "std"):
        # sw == 0 (all values missing / all weights 0): the engine's
        # convention for an empty reduction is NaN (xarray weighted
        # parity), not the NULL Spark's divide produces
        expr = F.when(sw > 0, expr).otherwise(F.lit(NAN))

    if not skipna and base != "count":
        poisoned = F.expr(f"bool_or({sql_missing(qv, vdt)})")
        expr = F.when(poisoned, F.lit(NAN)).otherwise(expr)

    res = work.groupBy(*by).agg(expr.alias(out))
    return res.orderBy(*by) if sort else res
