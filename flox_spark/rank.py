"""``groupby_rank`` — per-group value ranks with pandas semantics.

Beyond the reference's surface (flox has no rank; pandas
``GroupBy.rank`` is the everyday analog).  One window pass: rank
variants are compositions of ``rank()``/``dense_rank()``/
``row_number()`` and a tie-size count over the (keys, value)
partition — all streaming window aggregates after ONE hash exchange
on the group keys, no joins, no UDFs.

Missing handling follows pandas ``na_option``: ``"keep"`` gives
missing rows a NULL rank (they are sorted after every ranked row so
they cannot perturb real ranks), ``"top"``/``"bottom"`` rank them as
one tied block before/after all values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, NumericType

from flox_spark.dtypes import (
    is_bool_type,
    is_datetime_type,
    is_timedelta_type,
    sql_arith_input,
    sql_missing,
    sql_quote,
)
from flox_spark.options import OPTIONS
from flox_spark.plans.util import one_task_if_small, pin_keyed_parallelism

__all__ = ["groupby_rank"]

_METHODS = ("average", "min", "max", "dense", "first")


def _check_args(method: str, na_option: str, order_by: str | None) -> None:
    if method not in _METHODS:
        raise ValueError(f"method must be one of {_METHODS}, got {method!r}")
    if na_option not in ("keep", "top", "bottom"):
        raise ValueError(f"na_option must be keep|top|bottom, got {na_option!r}")
    if method == "first" and order_by is None:
        raise ValueError(
            "method='first' ranks ties by occurrence order, which a table "
            "does not have — pass order_by="
        )


def _blockable(vdt: DataType) -> bool:
    """Value types the blocked rank can split into quantile blocks."""
    return (
        isinstance(vdt, NumericType)
        or is_bool_type(vdt)
        or is_datetime_type(vdt)
        or is_timedelta_type(vdt)
    )


def _rank_views(value: str, vdt: DataType) -> tuple[str, str]:
    """(missing, vord) as SQL text: the value's is-missing test and its
    numeric rank order, NULL on missing rows — shared by the window and
    blocked plans."""
    qv = sql_quote(value)
    missing = sql_missing(qv, vdt)
    return missing, f"CASE WHEN {missing} THEN NULL ELSE {sql_arith_input(qv, vdt)[0]} END"


def groupby_rank(
    df: DataFrame,
    *by: str,
    value: str,
    method: str = "average",
    ascending: bool = True,
    na_option: str = "keep",
    order_by: str | None = None,
    out: str = "rank",
    pct: bool = False,
    plan: str = "auto",
) -> DataFrame:
    """Add a ``rank`` column: the ``value``'s rank within its group.

    ``method``: ``average`` (mean of the tie block's min/max rank,
    pandas default), ``min``, ``max``, ``dense``, or ``first``
    (occurrence order — requires ``order_by`` because tables have no
    intrinsic row order).  ``ascending=False`` ranks the largest
    value 1.  Output is double (pandas returns float64).

    ``pct=True`` divides by the number of RANKED rows in the group
    (pandas parity: with ``na_option="keep"`` missing rows are
    unranked and excluded from the divisor; with top/bottom they are
    ranked and included).  For ``method="dense"`` pandas divides by
    the number of distinct ranked values, not rows — matched here.

    ``plan``: physical strategy.  ``"auto"`` (default) keeps this
    one-window form unless plan stats say rows-per-group crosses the
    measured blocked crossover (``blocked_route.route_to_blocked``;
    OPTIONS["blocked_route_rank_rows"]), in which case the
    bitwise-equal ``groupby_rank_blocked`` runs — the WindowExec's
    parallelism is bound by group-key cardinality, so a few-groups
    giant table would serialize one group's whole sort on one core.
    ``"window"``/``"blocked"`` force a strategy.  A forced
    ``"blocked"`` on a small input returns a checkpoint-backed frame
    (see ``blocked_route.blocked_scan``).
    """
    _check_args(method, na_option, order_by)
    vdt = df.schema[value].dataType

    from flox_spark import blocked_route

    blocked_route.validate_plan(plan, "groupby_rank")
    # a small input runs the route probe as one job and the window
    # plan as one task; the blocked twin takes its own decision
    small, size, _ = one_task_if_small(df)
    if plan == "blocked" or (
        plan == "auto"
        and _blockable(vdt)
        and blocked_route.route_to_blocked(
            small, by, OPTIONS["blocked_route_rank_rows"], size=size
        )
    ):
        from flox_spark.rank_blocked import groupby_rank_blocked

        return groupby_rank_blocked(
            df, *by, value=value, method=method, ascending=ascending,
            na_option=na_option, order_by=order_by, out=out, pct=pct,
        )
    miss_sql, vord_sql = _rank_views(value, vdt)
    missing, vord = F.expr(miss_sql), F.expr(vord_sql)

    # missing rows sort into their own block: after everything for
    # 'keep'/'bottom', before everything for 'top'
    mkey = F.expr(f"CASE WHEN {miss_sql} THEN {0 if na_option == 'top' else 2} ELSE 1 END")
    order: list[Column] = [mkey.asc(), vord.asc() if ascending else vord.desc()]
    if method == "first" and order_by is not None:
        # occurrence order resolves ties ONLY for method='first';
        # appending it for average/min/dense would split every tie
        # block into distinct ranks
        order.append(F.col(order_by).asc())
    w = Window.partitionBy(*by).orderBy(*order)

    # Over the bound, pin the window's exchange so AQE cannot coalesce
    # the sort + window pass to a single task (observed: the whole
    # sf0.1 rank ran single-task, 1.8 s where 3-way parallel is
    # ~1.0 s) — see pin_keyed_parallelism for the mechanism.
    df = pin_keyed_parallelism(small, list(by), size)

    if method == "first":
        expr = F.row_number().over(w).cast("double")
    elif method == "dense":
        expr = F.dense_rank().over(w).cast("double")
    else:
        base = F.rank().over(w).cast("double")
        if method == "min":
            expr = base
        else:
            # the tie block's MAX rank = min rank + peer count - 1,
            # with the peer count over the SAME sorted window using a
            # RANGE CURRENT ROW..CURRENT ROW frame (SQL peer-group
            # semantics).  This shares ONE exchange AND ONE
            # in-partition sort with rank(); the previous
            # reversed-order rank needed a second full in-partition
            # sort (measured: the r6 flag's main cost), and a
            # (keys, value)-partitioned tie count would cost a second
            # data-sized exchange.
            cnt = F.count(F.lit(1)).over(
                w.rangeBetween(Window.currentRow, Window.currentRow)
            )
            if method == "max":
                expr = base + (cnt - F.lit(1)).cast("double")
            else:  # average: (min_rank + max_rank) / 2
                expr = base + (cnt - F.lit(1)).cast("double") / F.lit(2.0)

    if na_option == "keep":
        expr = F.when(missing, F.lit(None)).otherwise(expr)
    if not pct:
        return df.withColumn(out, expr)

    # pct divisors (pandas parity, probed empirically):
    #   non-dense: the number of RANKED rows (keep excludes missing,
    #   top/bottom include them)
    #   dense: the HIGHEST dense rank assigned to a ranked row (keep:
    #   distinct non-missing values; top/bottom: distinct values plus
    #   the missing block).  dense_rank is staged as a column so the
    #   partition-max composes in the same WindowExec chain.  The
    #   divisor windows reuse the ORDERED spec with an unbounded
    #   frame (same values as an unordered partition aggregate) so
    #   Catalyst folds them into the rank's own WindowExec — one
    #   exchange, one sort, ONE window operator for the whole rank.
    grp = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    if method == "dense":
        staged = df.withColumn(out, expr).withColumn(
            "__dr", F.dense_rank().over(w)
        )
        max_all = F.max("__dr").over(grp).cast("double")
        if na_option == "keep":
            # missing rows sort last for keep, so the top block is the
            # missing block whenever one exists — exclude it
            any_missing = F.max(missing.cast("int")).over(grp).cast("double")
            denom = max_all - any_missing
        else:
            denom = max_all
        return staged.withColumn(out, F.col(out) / denom).drop("__dr")
    if na_option == "keep":
        denom = F.sum((~missing).cast("long")).over(grp).cast("double")
    else:
        denom = F.count(F.lit(1)).over(grp).cast("double")
    return df.withColumn(out, expr / denom)
