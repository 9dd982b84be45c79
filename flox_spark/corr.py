"""``groupby_corr`` — per-group correlation / covariance between two
value columns.

Beyond the reference's surface: xarray ships ``xr.corr``/``xr.cov``
(computed over the same dims flox groups by), and pandas users reach
for ``GroupBy.corr`` daily.  Spark has native ``corr`` /
``covar_samp`` / ``covar_pop`` aggregates, so pearson is ONE
map-side-combined hash aggregate; the engine adds the missing-data
policy and the spearman variant:

- pairwise deletion: rows where EITHER side is missing (NULL or NaN)
  are excluded from the pair statistics — pandas/xarray semantics.
  Spark's aggregates already skip NULL pairs; NaN is normalized to
  NULL first (the registry's standard missing unification).
- ``method="spearman"``: pearson over within-group average ranks —
  composed from ``groupby_rank`` (one extra window pass per side),
  tie handling exactly as pandas (average ranks).

Scale shape: pearson/cov is one exchange (partial aggregation
upstream).  Spearman adds one rank window pass (one hash exchange on
the group keys, reused by both sides' ranks) before the same
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flox_spark.dtypes import sql_arith_input, sql_missing, sql_quote
from flox_spark.rank import groupby_rank

__all__ = ["groupby_corr"]


def groupby_corr(
    df: DataFrame,
    *by: str,
    x: str,
    y: str,
    method: str = "pearson",
    ddof: int = 1,
    out: str = "corr",
    with_cov: bool = False,
    sort: bool = True,
) -> DataFrame:
    """Per-group correlation of ``x`` and ``y`` (``method``:
    ``pearson`` or ``spearman``), with pairwise missing deletion.
    ``with_cov`` adds ``cov`` (``ddof``: 1 sample / 0 population —
    pearson only) and ``n_pairs``.  Groups with fewer than 2 complete
    pairs yield NULL."""
    if method not in ("pearson", "spearman"):
        raise ValueError(f"method must be pearson|spearman, got {method!r}")
    xdt, ydt = df.schema[x].dataType, df.schema[y].dataType
    qx, qy = sql_quote(x), sql_quote(y)
    either = f"{sql_missing(qx, xdt)} OR {sql_missing(qy, ydt)}"
    # pairwise deletion: null BOTH sides when either is missing
    px = F.expr(f"CASE WHEN {either} THEN NULL ELSE {sql_arith_input(qx, xdt)[0]} END")
    py = F.expr(f"CASE WHEN {either} THEN NULL ELSE {sql_arith_input(qy, ydt)[0]} END")

    if method == "spearman":
        work = df.withColumn("__px", px).withColumn("__py", py)
        work = groupby_rank(work, *by, value="__px", out="__rx")
        work = groupby_rank(work, *by, value="__py", out="__ry")
        # a rank is NULL exactly when its pair was deleted, so the
        # pearson-of-ranks aggregate sees the identical pair set
        cx, cy = F.col("__rx"), F.col("__ry")
    else:
        work = df.withColumn("__px", px).withColumn("__py", py)
        cx, cy = F.col("__px"), F.col("__py")

    # NOT F.corr: the Corr aggregate's internal division raises
    # DIVIDE_BY_ZERO under ANSI (Spark 4 default) when a group has
    # zero variance; the explicit co-moment form with try_divide
    # returns NULL there (same M2/co-moment accumulation, same
    # numerics, defined degenerate behavior)
    pearson = F.try_divide(
        F.covar_pop(cx, cy), F.stddev_pop(cx) * F.stddev_pop(cy)
    )
    aggs = [pearson.alias(out)]
    if with_cov:
        if method == "spearman":
            raise ValueError("with_cov applies to method='pearson' only")
        cov = F.covar_samp(cx, cy) if ddof == 1 else F.covar_pop(cx, cy)
        aggs += [
            cov.alias("cov"),
            F.count(F.when(cx.isNotNull(), F.lit(1))).alias("n_pairs"),
        ]
    result = work.groupBy(*by).agg(*aggs)
    return result.orderBy(*by) if sort else result
