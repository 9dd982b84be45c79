"""``groupby_pivot`` — wide grouped aggregation (pandas
``pivot_table`` / xarray ``unstack`` analog).

The reference's multi-dim output IS a pivot: ``xarray_reduce`` over
two groupers returns a (group1 x group2) grid.  The long-table engine
normally keeps that as rows (``groupby_reduce_multi``); this operator
produces the WIDE form — one column per declared pivot value — via
Spark's native ``GroupedData.pivot``.

Scale design: the pivot values MUST be declared.  Spark's
``pivot(col)`` without values runs a hidden distinct-collect job over
the pivot column (a driver-side pass an unbounded-cardinality column
can blow up); requiring the list keeps the plan a single hash
aggregate whose schema is known at plan time — the same philosophy as
``expected_groups``.  The aggregate itself is one map-side-combined
exchange; each output column is a filtered aggregate fused into the
same pass, NOT one scan per column.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import DataFrame

from flox_spark.aggregations import REDUCTIONS, AggContext, agg_column
from flox_spark.dtypes import sql_quote

__all__ = ["groupby_pivot"]


def groupby_pivot(
    df: DataFrame,
    *by: str,
    pivot: str,
    value: str,
    values: Sequence[Any],
    func: str = "nansum",
    fill_value: Any = None,
    sort: bool = True,
    finalize_kwargs: dict | None = None,
) -> DataFrame:
    """One row per group, one column per declared ``values`` entry:
    ``func`` of ``value`` over the rows where ``pivot`` equals that
    entry.  Groups with no rows for an entry get NULL (or
    ``fill_value``).  Column names are the stringified entries.
    ``finalize_kwargs`` reach the reduction exactly as in
    ``groupby_reduce`` (q= for quantile, ddof= for var/std)."""
    if func not in REDUCTIONS:
        raise ValueError(f"unknown reduction {func!r}")
    agg = REDUCTIONS[func]
    if agg.two_stage or agg.needs_order:
        raise ValueError(
            f"{func!r} needs a multi-stage / ordered plan and cannot fuse "
            "into a pivot aggregate; pivot the long groupby_reduce output instead"
        )
    ctx = AggContext(sql_quote(value), df.schema[value].dataType, kwargs=dict(finalize_kwargs or {}))
    out = df.groupBy(*by).pivot(pivot, list(values)).agg(agg_column(agg, ctx))
    if fill_value is not None:
        out = out.fillna(fill_value, subset=[str(v) for v in values])
    if sort:
        out = out.orderBy(*by)
    return out
