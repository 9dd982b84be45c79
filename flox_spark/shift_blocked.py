"""Blocked shift/diff/pct_change: the skew path for giant groups.

``groupby_scan(func="shift"|"diff"|"pct_change")`` is one ordered
WindowExec per group — a few-groups giant table serializes its sort
on as many cores as there are groups.  A lag is the easiest scan to
block (``blocked_route.blocked_scan`` runs the stages): each
order-range block only needs the PREVIOUS blocks' last ``periods``
rows, so

- local pass: lag + row_number within (key, block);
- carry: the block's last ``periods`` (order, value) rows;
- fold: "concat, keep the tail" from the empty array — associative,
  tiny, and exact (shift copies values; no arithmetic drift is
  possible, so the blocked form is BITWISE equal to the window form);
- seed: the first ``periods`` rows of each block read from the
  carried tail.

Negative ``periods`` (lead) mirrors every direction: the "previous"
blocks are the LATER ones and the carry is each block's head.
``diff``/``pct_change`` post-process the same lagged column with
``groupby_scan``'s own ``_lag_finish``.  Differentials pinned in
tests/test_shift_blocked.py: bitwise vs ``groupby_scan`` across funcs x
periods (1..7, beyond the block size) x directions x NULL/NaN patterns,
plus a hypothesis fuzz.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flox_spark.blocked_route import BlockedSpec, blocked_scan
from flox_spark.dtypes import sql_arith_input, sql_quote
from flox_spark.scan import _lag_finish

__all__ = ["groupby_shift_blocked"]

_FUNCS = ("shift", "diff", "pct_change")


def groupby_shift_blocked(
    df: DataFrame,
    *by: str,
    value: str,
    order_by: str,
    func: str = "shift",
    periods: int = 1,
    alias: str | None = None,
    num_blocks: int = 32,
) -> DataFrame:
    """``groupby_scan(func="shift"/"diff"/"pct_change")`` through the
    blocked plan: same semantics and output shape, plus
    ``num_blocks`` — the order-range split width, i.e. the scan's
    parallelism floor regardless of how few groups there are.
    ``order_by`` must be non-null (``groupby_scan_blocked``'s
    contract).  On a small input (``blocked_scan``'s one-task plan)
    the result is checkpoint-backed: running the returned frame again
    reads the stored block input instead of recomputing ``df``."""
    if func not in _FUNCS:
        raise ValueError(f"blocked shift supports {_FUNCS}, not {func!r}")
    out = alias or func
    periods = int(periods)
    vdt = df.schema[value].dataType
    v, qv = F.col(value), sql_quote(value)
    if periods == 0:
        return df.withColumn(out, _lag_finish(func, qv, qv, vdt))
    ascending = periods > 0
    p = abs(periods)
    o = F.col(order_by)

    def tail(arr: Column) -> Column:
        return F.when(F.size(arr) > p, F.slice(arr, F.size(arr) - F.lit(p) + 1, F.lit(p))).otherwise(arr)

    def local(work, keys, _one_task, seed):
        # a lead is a lag over the reversed order
        w = Window.partitionBy(*keys).orderBy(o.asc() if ascending else o.desc())
        lagged = work.select("*", F.lag(v, p).over(w).alias("__lagged"), F.row_number().over(w).alias("__rn"))
        # rows whose local position <= p read from the carried tail
        # (the fold state __st); index from its END (its last element
        # is the row immediately before the block in lag direction)
        idx = f"size(__st) - {p} + __rn"
        from_prev = f"CASE WHEN {idx} >= 1 THEN element_at(__st, {idx}).v END"
        seeded = f"CASE WHEN __rn > {p} THEN __lagged ELSE {from_prev} END"
        return seed(lagged).withColumn(out, _lag_finish(func, qv, seeded, vdt))

    otype = df.schema[order_by].dataType.simpleString()
    spec = BlockedSpec(
        out=out,
        local=local,
        carry={"__tail": tail(F.sort_array(
            F.collect_list(F.struct(o.alias("o"), v.alias("v"))), asc=ascending
        ))},
        identity=F.array().cast(f"array<struct<o: {otype}, v: {vdt.simpleString()}>>"),
        fold=lambda s, b: tail(F.concat(s, b["__tail"])),
        descending=not ascending,
    )
    onum, _ = sql_arith_input(sql_quote(order_by), df.schema[order_by].dataType)
    return blocked_scan(df, by, onum, spec, num_blocks)
