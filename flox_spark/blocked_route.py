"""The blocked-scan skeleton and the stats-gated routing onto it.

``blocked_scan`` is the one block -> carry -> fold -> local plan:
every carry is an aggregate over the block input, so the local pass
runs once, seeded by the fold, and has one consumer.  The blocked
operators (``scan_blocked`` / ``shift_blocked`` / ``rank_blocked`` /
``ewm_blocked``) are ``BlockedSpec`` carry specs over it.  They exist
for FEW-GROUPS GIANT-GROUP shapes, where a WindowExec / per-group
kernel's parallelism is bound by group-key cardinality and one group
serializes on one core — SCALE.md's measured crossovers put the
switch at millions of rows per group, while at bench shapes (hundreds
of thousands of rows across thousands of groups) the one-window form
wins 2-3x.  Until r14 the
caller had to KNOW to call the blocked twin; this module is the
``method="auto"``-style chooser (the quantile family's six-strategy
``auto`` is the in-repo precedent, core.py) that consults plan stats
and routes automatically.

Decision ladder (``route_to_blocked``):

1. Streaming frames: never blocked (their plans re-execute
   incrementally; the blocked stages are batch-shaped).
2. Plan-stats size at most ``blocked_route_min_bytes`` (64 MB): the
   input is too small for ANY group to cross a millions-of-rows
   crossover — one-window, with ZERO extra work (this is the branch
   every bench/sf0.1 shape takes, so auto costs those plans nothing).
   Unknown stats also stay one-window (conservative: post-shuffle
   frames are already parallel and re-probing them would add a job).
3. Past the gate, ONE key-only probe job (count + approx distinct
   groups + missing-order count in a single aggregate — column-pruned
   scan, no shuffle of the data) estimates rows-per-group.  Blocked
   when it crosses the operator's measured crossover AND the order
   column (when the blocked twin requires one) has no missing values
   (the blocked contract).  The probe only runs on inputs big enough
   that the one-window form is at risk of never finishing — where one
   extra key-column scan is noise against the window's serialized
   sort.

Crossover constants (OPTIONS, measured in SCALE.md r13 on local[32]):

- rank: one-window 25.7 s vs blocked 12.1 s at 8 M rows/one group
  (2.1x); one-window 1.05 s vs 3.08 s at 600 k rows/3 groups
  (200 k rows/group).  Default switch at 4 M rows/group — safely
  above the shape where one-window still wins, below the measured
  blocked win, and past it the one-window wall grows single-core
  n log n while blocked stays flat in n/cores.
- scans (cumsum family / shift / diff / pct_change): WindowExec vs
  blocked crossover measured at ~8-10 M rows/group (16 M: 8.46 s vs
  4.26 s; 4 M: 1.75 s vs 2.19 s).  Default 8 M rows/group.
- ewm mean (adjust=True): blocked 27.2 s vs 75.9 s per-group hatch at
  4 M rows/one group (2.8x), and the hatch additionally requires the
  whole group in ONE python worker's memory — so the switch sits
  LOWER than the pure wall crossover.  Default 2 M rows/group.
"""

from __future__ import annotations

from dataclasses import dataclass
from types import EllipsisType
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flox_spark.options import OPTIONS
from flox_spark.plans.util import (
    BLOCKED_BOUND_DIVISOR,
    estimate_size_bytes,
    materialize_shared,
    one_partition_cartesian,
    one_task_if_small,
)

__all__ = ["route_to_blocked"]

_PLANS = ("auto", "window", "blocked")


def validate_plan(plan: str, where: str) -> None:
    if plan not in _PLANS:
        raise ValueError(f"{where}: plan must be one of {_PLANS}, got {plan!r}")


def route_to_blocked(
    df: DataFrame,
    by: tuple[str, ...] | list[str],
    crossover_rows: int,
    order_by: str | None = None,
    size: int | None | EllipsisType = ...,
) -> bool:
    """True when plan stats say the blocked twin should run (see the
    module docstring for the ladder and the measured constants).
    ``size``: the plan-stats estimate the caller already took (the
    entry points pass ``one_task_if_small``'s, and its coalesced frame
    as ``df``, so the probe on a small input runs as one job)."""
    if getattr(df, "isStreaming", False):
        return False
    if size is ...:
        size = estimate_size_bytes(df)
    if size is None or size <= OPTIONS["blocked_route_min_bytes"]:
        return False
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.approx_count_distinct(
            F.struct(*[F.col(b) for b in by])
        ).alias("__g"),
    ]
    if order_by is not None:
        from flox_spark.dtypes import sql_missing, sql_quote

        om = sql_missing(sql_quote(order_by), df.schema[order_by].dataType)
        aggs.append(F.expr(f"coalesce(sum(CAST({om} AS BIGINT)), 0)").alias("__om"))
    row = df.agg(*aggs).collect()[0]
    if order_by is not None and row["__om"] > 0:
        # missing order values violate the blocked contract (the
        # quantile block function needs a total numeric order view)
        return False
    return row["__n"] / max(row["__g"], 1) > crossover_rows


@dataclass(frozen=True)
class BlockedSpec:
    """One blocked operator in flox's ``Scan(scan, reduction,
    binary_op, identity)`` form (reference flox/aggregations.py:715-737):

    - ``carry``: name -> aggregate Column over the block input, the
      per-(key, block) carry.  The fold reads every carry inside a
      lambda, where Catalyst cannot prune it, so list only carries the
      call uses;
    - ``identity`` and ``fold(state, block)``: the associative fold of
      carries; ``block`` is a struct with the carry names as fields;
    - ``local(work, keys, one_task, seed)``: the in-block pass over
      ``keys`` = ``[*by, "__blk"]``, adding the per-row ``out`` column.
      ``seed(frame)`` joins ``__st``, the exclusive fold of the earlier
      blocks (and ``__tot``, the inclusive group total, when ``total``),
      onto any frame that keeps ``keys``: a window pass seeds AFTER its
      window, so the state rides no exchange or sort, while a kernel
      that reads the state (EWM) seeds its input.  ``one_task`` says
      ``work`` is one partition, so the pass needs no exchange and no
      broadcast.

    ``descending`` folds blocks from the last to the first (reversed
    scans, leads, descending ranks)."""

    out: str
    local: Callable[[DataFrame, list[str], bool, Callable[[DataFrame], DataFrame]], DataFrame]
    carry: dict[str, Column]
    identity: Column
    fold: Callable[[Column, Column], Column]
    descending: bool = False
    total: bool = False


def blocked_scan(
    df: DataFrame,
    by: Sequence[str],
    order_view: str,
    spec: BlockedSpec,
    num_blocks: int,
    missing_block: tuple[Column, int] | None = None,
) -> DataFrame:
    """Run ``spec`` as the blocked (Blelloch) plan flox uses across dask
    chunks (flox/dask.py:576-663): every block's carry is an aggregate
    over the block INPUT (flox's ``preop=grouped_reduce``), so the local
    pass runs once, after the fold, with one consumer.  The distributed
    shape:

        stage 0  equal-population blocks: approx-quantile breaks of
                 ``order_view`` (a lazy broadcast aggregate, no driver
                 action); __blk = #{breaks < order_view}: ``work``
        stage 1  per-(key, __blk) carry aggregate over ``work``  [small,
                 except EWM's ordered fold: its collect_list ships
                 every row]
        stage 2  exclusive fold of carries over blocks per key: one
                 F.aggregate over the collected block array  [tiny]
        stage 3  the local pass within (key, __blk), seeded by a
                 broadcast join of the states  [big shuffle, split]

    ``work`` feeds stages 1 and 3, so the distributed plan computes it
    twice (a scan and a broadcast cross join: no shuffle).

    One-task shape: an input of at most ``SMALL_INPUT_MAX_BYTES //
    BLOCKED_BOUND_DIVISOR`` (``plans.util``; 512 KB) of plan stats is
    coalesced to one partition (``one_task_if_small``, decided ONCE
    here from the input's stats: the cartesian's stats are the product
    of its sides, so an estimate on a derived frame would wrongly read
    "not small"), and every stage above runs in that one task with no
    exchange and no broadcast job — the breaks join as a one-partition
    cartesian (``plans.util.one_partition_cartesian``), carries and
    fold need no shuffle, the states join as a shuffle-hash join of two
    one-partition sides, and the local pass gets ``one_task=True``.
    With no exchange to reuse, ``work`` would be computed once per
    branch, so it is built once (``plans.util.materialize_shared``, a
    lazy local checkpoint filled by the query's own job) and
    re-coalesced, because a checkpointed frame reports no
    partitioning.  The whole plan is one job, and its result is
    checkpoint-backed: running the returned frame again reads the
    filled checkpoint instead of recomputing ``df``, and a caller's
    column pruning stops at it.

    The block function is monotone in ``order_view`` — block i's rows
    all precede block i+1's and tied values share one block — so blocks
    stay equal-population under skewed (bursty) orders where uniform
    [min, max] ranges would put nearly everything in one block.
    ``order_view`` (SQL text) must be numeric and non-null except on
    rows that ``missing_block = (missing, index)`` sends to a dedicated
    block.  It is staged as a real column before the crossJoin: a
    derived expression captured in the block-filter lambda can mis-bind
    across the join (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on one plan
    shape, silently wrong blocks on another).  ``num_blocks == 1`` skips
    the quantile aggregate.  Returns ``df``'s columns plus
    ``spec.out``."""
    if num_blocks < 1:
        raise ValueError("num_blocks must be >= 1")
    by = list(by)
    keys = [*by, "__blk"]
    df, _, one_task = one_task_if_small(df, BLOCKED_BOUND_DIVISOR)

    work, blk = df, F.lit(0)
    if num_blocks > 1:
        qs = ", ".join(f"{i / num_blocks!r}D" for i in range(1, num_blocks))
        bounds = df.agg(
            F.expr(f"percentile_approx({order_view}, array({qs}), 10000)").alias("__breaks")
        )
        work = df.withColumn("__ord", F.expr(order_view))
        if one_task:
            work = one_partition_cartesian(work, bounds)
        else:
            work = work.crossJoin(F.broadcast(bounds))
        blk = F.size(F.filter(F.col("__breaks"), lambda b: b < F.col("__ord")))
    if missing_block is not None:
        blk = F.when(missing_block[0], F.lit(missing_block[1])).otherwise(blk)
    work = work.withColumn("__blk", blk.cast("int")).drop("__breaks", "__ord")
    if one_task:
        work = materialize_shared(work).coalesce(1)

    carries = work.groupBy(*keys).agg(*[c.alias(name) for name, c in spec.carry.items()])
    arr = F.array_sort(F.collect_list(F.struct("__blk", *spec.carry)))
    if spec.descending:
        arr = F.reverse(arr)
    folds = [
        F.aggregate(
            F.slice(F.col("__arr"), F.lit(1), F.col("__pos")), spec.identity, spec.fold
        ).alias("__st")
    ]
    if spec.total:
        folds.append(F.aggregate(F.col("__arr"), spec.identity, spec.fold).alias("__tot"))
    # the state side's keys are renamed so the join can be null-safe:
    # a NULL group label is a group of its own, as in the window plan
    skeys = [f"__k{i}" for i in range(len(by))]
    states = (
        carries.groupBy(*by)
        .agg(arr.alias("__arr"))
        .select(*by, "__arr", F.posexplode("__arr").alias("__pos", "__b"))
        .select(
            *[F.col(b).alias(k) for b, k in zip(by, skeys)],
            F.col("__b")["__blk"].alias("__sblk"),
            *folds,
        )
    )

    on = [F.col(b).eqNullSafe(F.col(k)) for b, k in zip(by, skeys)]
    # one-task: both sides are one partition, so a shuffle-hash join
    # needs no exchange (a broadcast would be a job of its own)
    states = states.hint("shuffle_hash") if one_task else F.broadcast(states)

    def seed(frame: DataFrame) -> DataFrame:
        return frame.join(states, [*on, F.col("__blk") == F.col("__sblk")], "left")

    cols = [c for c in df.columns if c != spec.out]
    return spec.local(work, keys, one_task, seed).select(*cols, spec.out)
