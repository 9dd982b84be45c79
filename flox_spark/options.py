"""Engine options, mirroring flox's ``set_options`` (reference:
flox/options.py:9-65).  flox's options steer dask rechunking; ours
steer Spark physical choices (approximate quantiles at scale,
broadcast thresholds for the expected-groups reindex join).
"""

from __future__ import annotations

import contextlib
from typing import Any

OPTIONS: dict[str, Any] = {
    # Use percentile_approx instead of exact percentile for
    # quantile/median.  Exact is the flox-parity default; flip to True
    # for the 100 TB path.
    "approx_quantile": False,
    # Relative accuracy for percentile_approx (1/accuracy).
    "approx_quantile_accuracy": 10000,
    # Broadcast the aggregated result into the expected-groups join
    # (the aggregate side is |groups| rows — almost always tiny).
    "broadcast_reindex": True,
    # Exact-quantile physical strategy.  "auto" (default) walks a
    # four-strategy ladder on plan-size statistics
    # (core._choose_quantile_impl, whose docstring holds the measured
    # zones): "driver" for inputs <= quantile_driver_max_bytes,
    # "arrow" <= quantile_agg_max_bytes, "refine" <=
    # quantile_refine_max_bytes, "sort" for larger or stats-less
    # inputs.  Explicit values force one strategy:
    # - "driver": one no-shuffle Arrow collect + in-driver np.quantile,
    #   re-entered as a LocalRelation; runs its collect at plan-build
    #   time.  Falls back to "arrow" on streaming inputs, high group
    #   cardinality or Arrow-hostile keys;
    # - "arrow": one np.quantile grouped-agg kernel per group;
    # - "refine": exact two-scan approx-bracket + candidate collect
    #   (bounded O(sqrt(n)*log n) memory at ANY group size, zero
    #   data-sized shuffles);
    # - "sort": spillable sort + streaming row_number + rank filter
    #   (always-safe, cost = one full shuffle of the values);
    # - "agg": the JVM array_sort(collect_list) kernel
    #   (aggregations._quantile) — buffers every group's values, so
    #   auto never picks it; it is what groupby_reduce_multi fuses.
    # All of them interpolate with the one numpy-linear rule
    # (aggregations.sql_lerp / np.quantile) and share one finalize
    # tail; approx_quantile remains the cheap sketch alternative.
    "quantile_impl": "auto",
    # Upper bound of the "arrow" zone (bytes of plan stats).  It also
    # caps the worst case of ONE group's values crossing Arrow into a
    # single python worker; past it refine's O(sqrt(n)*log n) bound
    # takes over.
    "quantile_agg_max_bytes": 64 << 20,
    # the "driver" tiny zone: one bounded plan-build collect of the
    # pruned (keys, value) projection.  12 MB is MEASURED, not
    # inherited: the bench_scale calibration (SCALE.md r12) puts the
    # driver-vs-arrow trade at ~13-17 MB of work-frame stats (6-group
    # doubles: driver best 0.46-0.52 s below it, arrow best 1.8 s at
    # 17 MB where driver drifts to 2.8 s and its variance grows —
    # single-threaded driver work competes with ambient load where
    # the distributed kernel spreads it).  Below the gate the win is
    # 2.4-3x; the bound also caps the plan-build collect.
    "quantile_driver_max_bytes": 12 << 20,
    # Upper bound of the "refine" zone: at 1 TB one group's refine
    # state is ~13 MB of collected candidates + ~80 MB of sketch
    # (core._refine_accuracy); larger inputs take "sort".
    "quantile_refine_max_bytes": 1 << 40,
    # sort=True outputs whose DECLARED expected-groups grid is at most
    # this many rows are sorted in one post-shuffle task
    # (repartition(1).sortWithinPartitions — no range-exchange sampling
    # pass); larger declared grids keep the distributed range sort and
    # warn (see SCALE.md / core._sorted_output).
    "single_partition_sort_max": 100_000,
    # With no declared grid the output cardinality is unknown, but it
    # is bounded by the input's row count: inputs whose plan-stats
    # size is at most this many bytes also take the single-task sort
    # (their whole output provably fits one sort task).  At 100 TB the
    # stats blow past this and the distributed range sort runs.
    "single_partition_sort_input_max_bytes": 256 << 20,
    # Blocked-plan auto-routing (blocked_route.py; SCALE.md r13/r14
    # crossover tables).  groupby_rank / groupby_scan / groupby_ewm
    # accept plan="auto"|"window"|"blocked"; "auto" short-circuits to
    # the one-window form (zero extra work) for inputs whose
    # plan-stats size is at most min_bytes — no group can cross a
    # millions-of-rows crossover inside 64 MB — and past the gate pays
    # ONE key-only probe job to estimate rows-per-group against the
    # operator's measured crossover.
    "blocked_route_min_bytes": 64 << 20,
    # rank: blocked wins 2.1x at 8M rows/group, loses 3x at 200k
    "blocked_route_rank_rows": 4_000_000,
    # scans/shift: WindowExec crossover measured at ~8-10M rows/group
    "blocked_route_scan_rows": 8_000_000,
    # ewm mean: blocked wins 2.8x at 4M rows/group AND lifts the
    # whole-group-in-one-worker memory wall, so the switch sits lower
    "blocked_route_ewm_rows": 2_000_000,
    # How self-join diamond DAGs materialize their shared frame:
    # "local_checkpoint" (default): faster, auto-cleaned by the
    # ContextCleaner when dereferenced, but stored only on executors —
    # an executor loss fails the job (retry recomputes from scratch).
    # "persist": lineage kept, fault-tolerant recompute, but cached
    # frames accumulate until spark.catalog.clearCache().
    "diamond_materialize": "local_checkpoint",
}

_VALIDATORS = {
    "approx_quantile": lambda v: isinstance(v, bool),
    "approx_quantile_accuracy": lambda v: isinstance(v, int) and v > 0,
    "broadcast_reindex": lambda v: isinstance(v, bool),
    "quantile_impl": lambda v: v in ("auto", "agg", "arrow", "driver", "sort", "refine"),
    "quantile_agg_max_bytes": lambda v: isinstance(v, int) and v >= 0,
    "quantile_driver_max_bytes": lambda v: isinstance(v, int) and v >= 0,
    "quantile_refine_max_bytes": lambda v: isinstance(v, int) and v >= 0,
    "single_partition_sort_max": lambda v: isinstance(v, int) and v >= 0,
    "single_partition_sort_input_max_bytes": lambda v: isinstance(v, int) and v >= 0,
    "diamond_materialize": lambda v: v in ("local_checkpoint", "persist", "none"),
    "blocked_route_min_bytes": lambda v: isinstance(v, int) and v >= 0,
    "blocked_route_rank_rows": lambda v: isinstance(v, int) and v >= 0,
    "blocked_route_scan_rows": lambda v: isinstance(v, int) and v >= 0,
    "blocked_route_ewm_rows": lambda v: isinstance(v, int) and v >= 0,
}


def get_options() -> dict[str, Any]:
    return dict(OPTIONS)


class set_options(contextlib.AbstractContextManager):
    """Set engine options, usable as a context manager (like
    flox/options.py:21)."""

    def __init__(self, **kwargs: Any):
        self.old: dict[str, Any] = {}
        for k, v in kwargs.items():
            if k not in OPTIONS:
                raise ValueError(f"unknown option {k!r}; valid: {sorted(OPTIONS)}")
            if not _VALIDATORS[k](v):
                raise ValueError(f"invalid value for {k!r}: {v!r}")
            self.old[k] = OPTIONS[k]
        OPTIONS.update(kwargs)

    def __exit__(self, *exc) -> None:
        OPTIONS.update(self.old)
