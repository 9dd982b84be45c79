"""Blocked grouped rank: the skew path for giant groups.

``groupby_rank`` is one WindowExec whose parallelism is bound by the
GROUP-KEY cardinality — correct at any size thanks to spilling, but a
3-group 100 TB table serializes 33 TB of sort per task.  A rank is a
prefix COUNT over the value order, so it runs through
``blocked_route.blocked_scan`` (see its docstring for the stages) over
VALUE blocks, exactly like a cumsum decomposes over an order column:

- local pass: rank / dense_rank / row_number (+ the peer count)
  within (key, value-block);
- carry: rows, dense levels and missing rows per block;
- fold: elementwise sums from zero (plus a has-missing max); the
  inclusive group total gives the ``pct`` divisors;
- seed: local rank + the earlier blocks' rows (dense: levels).

``block(v) = #{breaks < v}`` is monotone in the rank order, so block
i's ranks all precede block i+1's and — the property every method's
tie arithmetic rides on — TIED VALUES share one block, so peer counts
are block-local.  Missing values get a dedicated block placed per
``na_option`` (before everything for ``top``, after for
``keep``/``bottom``), which makes every block pure and keeps the
missing tie-block semantics of the one-window form.

Results equal ``groupby_rank`` EXACTLY (bitwise — the seeding is
integer-valued double arithmetic plus the same half/divisor terms);
``tests/test_rank_blocked.py`` pins the full method x na_option x
pct x ascending matrix differentially plus a hypothesis fuzz.  Use
when profiling shows the rank's WindowExec serializing on few huge
groups; the one-window form stays the right call for high-cardinality
keys (its exchange already spreads the sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flox_spark.blocked_route import BlockedSpec, blocked_scan
from flox_spark.rank import _blockable, _check_args, _rank_views

__all__ = ["groupby_rank_blocked"]


def groupby_rank_blocked(
    df: DataFrame,
    *by: str,
    value: str,
    method: str = "average",
    ascending: bool = True,
    na_option: str = "keep",
    order_by: str | None = None,
    out: str = "rank",
    pct: bool = False,
    num_blocks: int = 32,
) -> DataFrame:
    """``groupby_rank`` semantics through the blocked plan.

    Same parameters and output as ``groupby_rank`` plus
    ``num_blocks`` — the value-range split width, i.e. the rank's
    parallelism floor regardless of how few groups there are.
    On a small input (``blocked_scan``'s one-task plan) the result is
    checkpoint-backed: running the returned frame again reads the
    stored block input instead of recomputing ``df``."""
    _check_args(method, na_option, order_by)
    vdt = df.schema[value].dataType
    if not _blockable(vdt):
        raise ValueError(
            "groupby_rank_blocked needs a numeric/datetime/bool value "
            f"column for its quantile blocking, got {vdt.simpleString()}; "
            "use groupby_rank"
        )

    miss_sql, vord_sql = _rank_views(value, vdt)
    missing, vord = F.expr(miss_sql), F.expr(vord_sql)
    miss = F.expr(f"CAST({miss_sql} AS BIGINT)")
    vsort = vord.asc() if ascending else vord.desc()

    # carry "__c": the block's rows, or for dense its levels (distinct
    # non-missing values, plus 1 for the missing block: its NULL
    # tie-block is one dense level).  pct with na_option="keep" also
    # needs "__m", the unranked missing rows (dense: whether the
    # missing level exists).
    dense = method == "dense"
    unranked = pct and na_option == "keep"
    carry = {"__c": F.count_distinct(vord) + F.max(miss) if dense else F.count(F.lit(1))}
    fields = ["c"]
    if unranked:
        carry["__m"] = F.max(miss) if dense else F.sum(miss)
        fields.append("m")

    def fold(s, b):
        c = (s["c"] + b["__c"]).alias("c")
        if not unranked:
            return F.struct(c)
        m = F.greatest(s["m"], b["__m"]) if dense else s["m"] + b["__m"]
        return F.struct(c, m.alias("m"))

    def seeded():
        # the local rank plus the earlier blocks' rows (dense: levels)
        # from the fold state: integer-valued double arithmetic —
        # bitwise identical to the one-window form's rank values
        st, tot = F.col("__st"), F.col("__tot")
        expr = F.col("__local") + st["c"].cast("double")
        if method == "max":
            expr = expr + (F.col("__peer") - F.lit(1)).cast("double")
        elif method == "average":
            expr = expr + (F.col("__peer") - F.lit(1)).cast("double") / F.lit(2.0)
        if na_option == "keep":
            expr = F.when(missing, F.lit(None)).otherwise(expr)
        if pct:
            # divisors: the group's ranked rows, or ranked dense levels
            denom = tot["c"] - tot["m"] if unranked else tot["c"]
            expr = expr / denom.cast("double")
        return expr

    def local(work, keys, _one_task, seed):
        # within a pure block the one-window form's (mkey, vord[,
        # order_by]) order is vord alone (missing blocks are all peers)
        order = [vsort, F.col(order_by).asc()] if method == "first" else [vsort]
        w = Window.partitionBy(*keys).orderBy(*order)
        if method in ("first", "dense"):
            rank = F.row_number() if method == "first" else F.dense_rank()
            ranked = work.withColumn("__local", rank.over(w).cast("double"))
        else:
            # SQL peer-group frame over the same sort (groupby_rank's
            # trick): tied values never cross blocks, so this is the
            # GLOBAL tie-block size
            peer = F.count(F.lit(1)).over(w.rangeBetween(Window.currentRow, Window.currentRow))
            ranked = work.select(
                "*", F.rank().over(w).cast("double").alias("__local"), peer.alias("__peer")
            )
        return seed(ranked).withColumn(out, seeded())

    spec = BlockedSpec(
        out=out,
        local=local,
        carry=carry,
        identity=F.struct(*[F.lit(0).cast("long").alias(f) for f in fields]),
        fold=fold,
        descending=not ascending,
        total=pct,
    )
    # missing rows get a dedicated block whose INDEX puts it where the
    # na_option puts the missing tie block in rank order: before
    # everything for 'top', after for 'keep'/'bottom'
    miss_last = (na_option != "top") == ascending
    return blocked_scan(
        df, by, vord_sql, spec, num_blocks,
        missing_block=(missing, num_blocks if miss_last else -1),
    )
