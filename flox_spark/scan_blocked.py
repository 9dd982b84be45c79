"""Blocked grouped scans: the skew path for giant groups.

``groupby_scan`` shuffles each group to ONE task (WindowExec needs
the whole partition sorted) — correct at any size thanks to spilling,
but a single enormous group serializes on one core.  This module runs
the cumulative scans through ``blocked_route.blocked_scan`` (order-range
blocks, see its docstring for the stages), with each scan's channels
from ``scan._cumulative_scan`` — the window plan's own expressions:

- local pass: every channel's running window within (key, block);
- carry: the channel's reduction over the block (``coalesce``d to the
  identity), e.g. ``sum`` / ``product`` / ``count`` / ``max``, a
  "missing seen" max for the NaN-poisoning ``cumsum``/``cumprod``, and
  the last non-missing value in order for the fills;
- fold and seed: the channel's ``op`` (``+``, ``*``, ``greatest``,
  ``least``, ``coalesce(later, earlier)``) — each row is ``op(state,
  local)`` then the scan's own ``finish`` (poison, dtype restore).

``bfill`` runs over the reversed order, so its blocks fold from the
last to the first.  Results equal ``groupby_scan`` (sums and products
reassociate across blocks: last-ulp drift); the order column is
numericized for blocking (timestamp/date -> int64) and must be
non-null.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flox_spark.blocked_route import BlockedSpec, blocked_scan
from flox_spark.dtypes import sql_arith_input, sql_quote
from flox_spark.scan import _cumulative_scan

__all__ = ["groupby_scan_blocked"]

_SUPPORTED = (
    "nancumsum",
    "cumsum",
    "cumcount",
    "ffill",
    "bfill",
    "cummax",
    "cummin",
    "nancumprod",
    "cumprod",
)


def groupby_scan_blocked(
    df: DataFrame,
    *by: str,
    func: str,
    value: str,
    order_by: str,
    num_blocks: int = 32,
    alias: str | None = None,
) -> DataFrame:
    """``groupby_scan`` for the cumulative funcs through the blocked
    plan: same semantics and output shape, plus ``num_blocks`` — the
    order-range split width.  On a small input (``blocked_scan``'s
    one-task plan) the result is checkpoint-backed: running the
    returned frame again reads the stored block input instead of
    recomputing ``df``."""
    if func not in _SUPPORTED:
        raise ValueError(f"blocked scan supports {_SUPPORTED}, not {func!r}")
    vdt = df.schema[value].dataType
    cs = _cumulative_scan(func, sql_quote(value), vdt)
    o = F.col(order_by)
    null = F.lit(None).cast(vdt)
    # (carry name, local-pass name, channel, identity)
    chans = [
        (f"__c{i}", f"__l{i}", ch, ch.identity if ch.identity is not None else null)
        for i, ch in enumerate(cs.channels)
    ]

    out, st = alias or func, F.col("__st")

    def local(work, keys, _one_task, seed):
        w = Window.partitionBy(*keys).orderBy(o.desc() if cs.reverse else o).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        scanned = seed(work.select("*", *[ch.scan(w).alias(ln) for _, ln, ch, _ in chans]))
        return scanned.withColumn(out, cs.finish([ch.op(st[cn], F.col(ln)) for cn, ln, ch, _ in chans]))

    spec = BlockedSpec(
        out=out,
        local=local,
        carry={
            cn: F.coalesce(ch.carry(o) if ch.carry else ch.run, ident)
            for cn, _, ch, ident in chans
        },
        identity=F.struct(*[ident.alias(cn) for cn, _, _, ident in chans]),
        fold=lambda s, b: F.struct(*[ch.op(s[cn], b[cn]).alias(cn) for cn, _, ch, _ in chans]),
        descending=cs.reverse,
    )
    onum, _ = sql_arith_input(sql_quote(order_by), df.schema[order_by].dataType)
    return blocked_scan(df, by, onum, spec, num_blocks)
