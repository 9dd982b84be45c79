"""``groupby_transform`` — broadcast a grouped reduction back onto
the rows (pandas ``GroupBy.transform`` parity).

The missing third verb next to ``groupby_reduce`` (rows -> one row
per group) and ``groupby_scan`` (ordered running values): every row
receives its GROUP's reduction result — the shape feature
engineering needs for group-relative signals (z-scores, share-of-
group, gap-to-group-max).

Spark-first plan: ONE aggregation pass (any registry reduction,
reusing the full flox semantics: NaN policy, finalize_kwargs) and a
broadcast hash join of the group-cardinality result back onto the
fact rows — no window over unaggregated data, no second shuffle of
the big side when the group count is broadcastable (the overwhelming
case; disable with ``broadcast=False`` for 1e8+-group pathologies).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flox_spark.core import groupby_reduce, groupby_reduce_multi

__all__ = [
    "groupby_apply",
    "groupby_apply_batched",
    "groupby_transform",
    "standardize",
]


def groupby_transform(
    df: DataFrame,
    *by: str,
    func: str,
    value: str,
    alias: str | None = None,
    finalize_kwargs: dict | None = None,
    broadcast: bool = True,
    **kw: Any,
) -> DataFrame:
    """Append column ``alias`` (default ``<func>_<value>``) holding
    each row's group-level reduction result.  Rows whose group labels
    are missing (dropped from reductions by flox rule) keep NULL."""
    out = alias or f"{func}_{value}"
    agg = groupby_reduce(
        df, *by, func=func, value=value, alias=out, sort=False,
        finalize_kwargs=finalize_kwargs, **kw,
    )
    if broadcast:
        agg = F.broadcast(agg)
    return df.join(agg, list(by), "left")


def standardize(
    df: DataFrame,
    *by: str,
    value: str,
    alias: str | None = None,
    ddof: int = 0,
) -> DataFrame:
    """Group-relative z-score: ``(v - group mean) / group std`` —
    the canonical transform composition, in one aggregation pass
    (mean and std share the single groupBy via Catalyst's duplicate-
    aggregate elimination)."""
    out = alias or f"{value}_z"
    stats = groupby_reduce_multi(
        df,
        *by,
        aggs={
            "__mu": ("nanmean", value),
            "__sd": {"func": "nanstd", "value": value, "finalize_kwargs": {"ddof": ddof}},
        },
        sort=False,
    )
    joined = df.join(F.broadcast(stats), list(by), "left")
    return joined.withColumn(
        out, (F.col(value) - F.col("__mu")) / F.col("__sd")
    ).drop("__mu", "__sd")


def groupby_apply(
    df: DataFrame,
    *by: str,
    fn,
    schema,
    drop_missing_labels: bool = True,
):
    """Arbitrary pandas-per-group escape hatch (pandas
    ``GroupBy.apply`` parity): ``fn(pdf) -> pdf`` runs once per group
    via ``applyInPandas`` with flox's label rule applied first
    (missing-label rows dropped, like every reduction —
    flox/factorize.py:201-212; pass ``drop_missing_labels=False`` for
    raw Spark behavior where NULL labels form a group).

    This is the LAST resort by design: it ships whole groups through
    Arrow into Python and holds one group per worker in pandas —
    prefer a registry reduction, a custom expression ``Aggregation``,
    or ``pandas_aggregation`` (scalar UDAF) first; use this only when
    the per-group computation is genuinely iterative/relational
    (model-per-group fitting, per-group resampling)."""
    from flox_spark.dtypes import drop_missing

    work = drop_missing(df, by) if drop_missing_labels else df
    return work.groupBy(*by).applyInPandas(fn, schema)


def groupby_apply_batched(
    df: DataFrame,
    *by: str,
    fn,
    schema,
    order_by: str | None = None,
    drop_missing_labels: bool = True,
):
    """``groupby_apply`` for MANY SMALL groups: ``fn(pdf) -> pdf``
    receives a frame holding one or more COMPLETE groups (contiguous,
    ordered by ``order_by`` within each) so it can vectorize across
    them with a single pandas ``groupby`` call.

    ``applyInPandas`` invokes Python once per group — measured ~2 ms
    of serialize/invoke floor per call, i.e. 3 s of pure overhead for
    1 500 groups of 67 rows.  This variant shuffles by the group
    keys, sorts within partitions on (keys, order_by), and walks the
    partition's Arrow batches in ``mapInPandas`` with a tail-group
    CARRY: a group that straddles a batch boundary is held back and
    prepended to the next batch, so ``fn`` always sees whole groups
    and each group exactly once.  Python is invoked per ARROW BATCH
    (``spark.sql.execution.arrow.maxRecordsPerBatch``, default 10k),
    not per group.

    Memory bound: the largest single GROUP must fit one batch's
    worth of worker memory (same contract as ``groupby_apply``); the
    carry never holds more than one group.

    .. warning:: **pandas multi-key windowed-op alignment trap.**
       Inside ``fn``, a WINDOWED groupby op — ``GroupBy.ewm``,
       ``GroupBy.rolling``, ``GroupBy.expanding`` — does NOT return
       rows in frame order for a MULTI-key grouper, even with
       ``sort=False``: pandas orders the output groups by per-level
       first-appearance codes, so a later group that reuses an
       earlier-seen key value comes back out of position.  Writing
       such a result straight into a column (``pdf["y"] =
       g.ewm(...).mean().to_numpy()``) silently misassigns values
       (this exact bug shipped in ``groupby_ewm`` for five rounds —
       r13 SCALE.md).  Realign through the result's index instead::

           res = pdf.groupby(keys, sort=False)[col].ewm(...).mean()
           pdf["y"] = (res.droplevel(list(range(len(keys))))
                          .sort_index().to_numpy())

       (``reset_index(drop=True)`` on ``pdf`` first — the harness's
       carry concat can produce duplicate index labels.)  Reductions
       and transform-like ops (``transform``, ``cumsum``,
       ``cumcount``, ``shift``) are index-aligned and need none of
       this.  ``tests/test_transform.py`` demonstrates the trap
       through this hatch.
    """
    return _apply_batched(df, list(by), fn, schema, order_by, drop_missing_labels)


def _apply_batched(df, keys, fn, schema, order_by, drop_missing_labels=True, shuffle=True):
    """``groupby_apply_batched``'s plan.  ``order_by`` may also be a
    list of columns (ties broken by the later ones).  ``shuffle=False``
    skips the hash repartition on ``keys``: for a ONE-partition input
    (the one-task plans, ``plans.util.one_task_if_small``) every group
    is already whole in its partition, so the exchange buys nothing."""
    from flox_spark.dtypes import drop_missing

    work = drop_missing(df, keys) if drop_missing_labels else df
    if shuffle:
        work = work.repartition(*[F.col(k) for k in keys])
    sort_cols = [*keys, *([order_by] if isinstance(order_by, str) else order_by or [])]
    work = work.sortWithinPartitions(*[F.col(c) for c in sort_cols])

    def run(batches):
        import pandas as pd

        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            # group-contiguous by the partition sort: the trailing
            # group may continue in the next batch — hold it back.
            # ngroup() is NaN-safe (dropna=False keeps NULL labels as
            # a group when drop_missing_labels=False).
            codes = pdf.groupby(keys, sort=False, dropna=False).ngroup().to_numpy()
            ntail = int((codes == codes[-1]).sum())
            if ntail == len(pdf):
                carry = pdf  # one (possibly giant) group: keep accumulating
                continue
            carry = pdf.iloc[len(pdf) - ntail :].reset_index(drop=True)
            yield fn(pdf.iloc[: len(pdf) - ntail].reset_index(drop=True))
        if carry is not None and len(carry):
            yield fn(carry)

    return work.mapInPandas(run, schema)
