"""Physical-plan helpers.

``ensure_parallelism``: CPU-bound projections (md5/sha hashing,
shingling, feature extraction) inherit the scan's partitioning.  A
small input file arrives as ONE partition, serializing all compute on
one core — at 100 TB the scan has thousands of splits and this is a
no-op, but a compute-heavy operator over a modest table (the classic
"5 GB of docs, 5 minutes of hashing" case) needs an explicit fan-out.
The round-robin repartition costs one shuffle of the input rows and
buys full-cluster parallelism for everything downstream.
"""

from __future__ import annotations

from types import EllipsisType

from pyspark.sql import DataFrame

# Catalyst's stats fall back to spark.sql.defaultSizeInBytes
# (Long.MaxValue) for sources it can't estimate — treat anything in
# that region as "unknown", not "huge"
_UNKNOWN_SIZE = 1 << 60

_UNIT = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def parse_bytes(raw: str, default: int) -> int:
    """Parse a Spark byte-size conf value ('134217728', '128m',
    '128MB', '1g') to bytes; ``default`` on anything unparseable."""
    s = str(raw).strip().lower()
    if s.endswith("b") and not s[:-1].isdigit():
        s = s[:-1]  # strip the 'b' of kb/mb/gb/tb
    if s and s[-1] in _UNIT and s[:-1].isdigit():
        return int(s[:-1]) * _UNIT[s[-1]]
    if s.isdigit():
        return int(s)
    return default


def ensure_parallelism(
    df: DataFrame,
    min_partitions: int | None = None,
    min_bytes: int | None = None,
) -> DataFrame:
    """Repartition iff the frame has fewer partitions than the
    default parallelism (i.e. the scan undershoots the cluster).

    ``min_bytes``: skip the fan-out entirely when the estimated input
    is smaller than this — for CHEAP per-row work (one hash, a few
    byte decodes) an exchange over a small frame costs more wall than
    the single-task compute it parallelizes (measured: 60 MB of
    per-doc sha2 runs 0.31 s on one task vs 0.44 s through a
    repartition).  Callers with EXPENSIVE per-row folds (k*dim
    k-means assignment) leave it unset.  Unknown stats ignore the
    gate (post-shuffle frames are already parallel; scans of unknown
    size are assumed big).

    The partition count is ESTIMATED from the optimized plan's size
    statistics vs ``spark.sql.files.maxPartitionBytes`` — planning-time
    only, never touching the RDD API (``df.rdd`` forces a full
    plan->RDD conversion on the driver, a real planning cost when
    called per-operator).  When the stats are Catalyst's conservative
    unknown-source sentinel (defaultSizeInBytes = Long.MaxValue,
    reported by LocalRelations after joins and RDD-backed frames),
    assume the frame is already at default parallelism and skip the
    fan-out: stats-less frames are almost always post-shuffle (joins,
    aggregations) and therefore already spread across
    ``spark.sql.shuffle.partitions`` tasks; forcing a repartition
    there would add a shuffle for nothing."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        if size >= _UNKNOWN_SIZE:
            raise ValueError("stats unavailable (conservative sentinel)")
        if min_bytes is not None and size < min_bytes:
            return df
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20))
        max_bytes = parse_bytes(raw, 128 << 20)
        est_parts = max(1, size // max(1, max_bytes))
    except Exception:
        est_parts = spark.sparkContext.defaultParallelism
    if est_parts < target:
        return df.repartition(target)
    return df


# Plan-stats bytes at or under which an input is "small": a grouped
# operator over it runs as ONE task (``one_task_if_small``) and
# ``pin_keyed_parallelism`` keeps that plan.  SCALE.md holds the
# local[4] one-task vs distributed sweep behind the value.
SMALL_INPUT_MAX_BYTES = 4 << 20

# The blocked plans (``blocked_route.blocked_scan``) do several times an
# aggregate's per-row work in the stage a coalesce serializes (breaks,
# the higher-order block lookup, a window, carries, the join-back), so
# one task stops paying at a smaller input: they run as one task up to
# ``SMALL_INPUT_MAX_BYTES // BLOCKED_BOUND_DIVISOR`` (SCALE.md, "One-task
# zone": the blocked crossover lies between 0.5 and 1 MB at local[4]).
BLOCKED_BOUND_DIVISOR = 8


def one_task_if_small(df: DataFrame, divisor: int = 1) -> tuple[DataFrame, int | None, bool]:
    """Coalesce a small input to ONE partition ahead of a grouped
    operator; returns ``(df, size, one_task)`` with ``size`` the one
    plan-stats estimate the caller passes down to its other gates.

    flox reduces an in-memory array in one blockwise pass with no
    combine step (``method="blockwise"``, flox/core.py:478-524).  The
    Spark analog: ``coalesce(1)`` reports ``SinglePartition``, which
    satisfies every downstream distribution — the aggregate's
    clustering, a global sort's ordering, a window's partitioning — so
    partial + final aggregate, the ``sort=True`` ordering, the mode
    chain and a window all compile into one stage with no exchange, no
    AQE re-plan and one job.  A small input is usually one scan
    partition already, so the exchange bought no parallelism.

    Fires when the plan stats are at most ``SMALL_INPUT_MAX_BYTES //
    divisor`` and the frame is not streaming (the blocked plans pass
    ``BLOCKED_BOUND_DIVISOR``).  Unknown stats (the conservative
    sentinel) keep the distributed plan.  The coalesce runs the whole
    stage since the last shuffle in one task, so the gate trusts the
    stats to bound that stage's input as well as its output."""
    size = estimate_size_bytes(df)
    if size is not None and size <= SMALL_INPUT_MAX_BYTES // divisor and not df.isStreaming:
        return df.coalesce(1), size, True
    return df, size, False


def one_partition_cartesian(left: DataFrame, right: DataFrame) -> DataFrame:
    """Cross join two ONE-partition frames inside the current stage.

    A plain ``crossJoin`` of small sides plans as a broadcast
    nested-loop join, whose broadcast is a job of its own.  The
    ``shuffle_replicate_nl`` hint picks ``CartesianProductExec``
    instead: one task per (left, right) partition pair, so one task
    here, and no exchange.  It reports unknown partitioning, so the
    ``coalesce(1)`` restores ``SinglePartition`` for the one-task plan
    downstream (a no-op on the data: there is one partition).  Callers
    on a one-task plan only: with many partitions a side the product
    would schedule ``nLeft x nRight`` tasks."""
    return left.crossJoin(right.hint("shuffle_replicate_nl")).coalesce(1)


def pin_keyed_parallelism(
    df: DataFrame,
    keys: list[str],
    size: int | None | EllipsisType = ...,
) -> DataFrame:
    """Hash-repartition on ``keys`` at an EXPLICIT partition count so a
    downstream keyed operator (window function, buffering aggregate)
    keeps multi-task parallelism.

    With ``coalescePartitions.parallelismFirst=false`` (the session
    default, byte-optimal for ordinary shuffles), AQE coalesces a
    byte-small shuffle to ONE task.  For cheap codegen aggregates that
    is the right call, but for CPU-heavy post-shuffle stages — an
    in-partition sort feeding a window, an exact-percentile buffer
    merge — it serializes the whole stage on one core (measured: the
    sf0.1 rank ran single-task at 1.8 s where 3-way-parallel is
    ~1.0 s).  An explicit ``repartition(n, keys)`` compiles to a
    REPARTITION_BY_NUM shuffle that AQE never coalesces, and its
    hash-partitioning satisfies the operator's ClusteredDistribution,
    so no second exchange appears.

    Parallelism is still bounded by the number of distinct keys (3
    groups -> at most 3 non-empty partitions) — that bound is the
    data's, not the planner's.  Gated on plan-stats size (``size``:
    an estimate the caller already took): inputs up to
    ``SMALL_INPUT_MAX_BYTES`` keep the cheap one-task plan, and
    stats-less frames skip the pin (post-shuffle frames are already
    parallel)."""
    if size is ...:
        size = estimate_size_bytes(df)
    if size is not None and size > SMALL_INPUT_MAX_BYTES:
        from pyspark.sql import functions as F

        return df.repartition(
            df.sparkSession.sparkContext.defaultParallelism,
            *[F.col(k) for k in keys],
        )
    return df


def estimate_size_bytes(df: DataFrame) -> int | None:
    """Planning-time size estimate from Catalyst's optimized-plan
    statistics (parquet footers / CBO); None when the source reports
    the conservative unknown sentinel."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    return None if size >= _UNKNOWN_SIZE else size


def recommend_shuffle_partitions(
    df: DataFrame,
    target_partition_bytes: int | str | None = None,
    min_partitions: int | None = None,
    max_partitions: int = 200_000,
) -> int:
    """Derive a ``spark.sql.shuffle.partitions`` setting from the
    input's size statistics instead of a fixed default: enough
    partitions that a post-shuffle partition holds roughly
    ``target_partition_bytes`` (default: the session's
    ``maxPartitionBytes``, usually 128 MB), floored at the cluster's
    default parallelism and capped to keep the scheduler sane.

    Rationale at 100 TB: the stock 200 gives 500 GB post-shuffle
    partitions (spill/OOM); a fixed large value makes sf0.01 jobs
    schedule thousands of empty tasks.  Deriving from scan stats
    right-sizes both, and AQE coalescing then trims the long tail.
    Returns the recommendation; apply with
    ``spark.conf.set("spark.sql.shuffle.partitions", str(n))`` or via
    ``tuned_shuffle(df)``."""
    spark = df.sparkSession
    if target_partition_bytes is None:
        target = parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20)),
            128 << 20,
        )
    else:
        target = parse_bytes(str(target_partition_bytes), 128 << 20)
    floor = min_partitions or spark.sparkContext.defaultParallelism
    size = estimate_size_bytes(df)
    if size is None:
        return floor
    want = -(-size // max(1, target))  # ceil
    return max(floor, min(int(want), max_partitions))


from contextlib import contextmanager


@contextmanager
def tuned_shuffle(df: DataFrame, **kwargs):
    """Context manager: set the session's shuffle partitions to the
    recommendation for this input, yield ``df``, and RESTORE the
    previous setting on exit — ``spark.sql.shuffle.partitions`` is
    session-global, so a plain setter would silently retune every
    later query in the session (tiny frame -> floor -> a later huge
    aggregation spills; huge frame -> thousands of empty tasks for
    later small jobs).

        with tuned_shuffle(df) as tdf:
            result = groupby_reduce(tdf, ...)
            result.write.parquet(...)   # execute INSIDE the block

    NB the conf is read at execution time: collect/write inside the
    ``with`` block."""
    spark = df.sparkSession
    n = recommend_shuffle_partitions(df, **kwargs)
    old = spark.conf.get("spark.sql.shuffle.partitions", "200")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield df
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


import threading

# one lock per process: spark.sql.* conf is SESSION-global, so two
# threads scoping different collects on one SparkSession would observe
# each other's AQE-off / 4-partition window.  RLock (not Lock) because
# a scoped collect can build a plan that itself calls a helper using
# the guard (kmeans seed draw inside semantic_dedup's literal cap).
_CONF_GUARD_LOCK = threading.RLock()


@contextmanager
def scoped_tiny_collect(spark):
    """Serialize + scope the conf flips around a TINY driver collect
    (model counts, keep-set ids, k-means seeds): AQE off and 4 shuffle
    partitions, restored on exit.

    Why: these collects' exchanges only ever carry bounded
    (vocab-/k-/doc-id-sized) rows, so AQE's per-stage re-plan jobs are
    pure scheduling on a shuffle it cannot improve — measured ~0.1 s
    and one job saved per collect at sf0.1 (see the lm.py / kmeans.py
    decompositions in SCALE.md).

    CAVEAT (the single home for it): ``spark.sql.adaptive.enabled``
    and ``spark.sql.shuffle.partitions`` are session-global.  This
    guard serializes all USERS OF THIS HELPER with a process-wide
    reentrant lock, so two flox_spark entry points on one session
    never see each other's window — but an UNRELATED query submitted
    concurrently on the same SparkSession from another thread can
    still observe the flipped conf for the duration of the collect.
    Entry points that collect through this guard are therefore not
    session-concurrent with arbitrary outside queries; run them from
    one thread per session (the driver/bench/test flow) or accept the
    brief 4-partition window."""
    conf = spark.conf
    with _CONF_GUARD_LOCK:
        old_aqe = conf.get("spark.sql.adaptive.enabled", "true")
        old_sp = conf.get("spark.sql.shuffle.partitions", "200")
        try:
            conf.set("spark.sql.adaptive.enabled", "false")
            conf.set("spark.sql.shuffle.partitions", "4")
            yield
        finally:
            conf.set("spark.sql.adaptive.enabled", old_aqe)
            conf.set("spark.sql.shuffle.partitions", old_sp)


def materialize_shared(df: DataFrame, min_bytes: int | None = None) -> DataFrame:
    """Materialize a frame consumed by multiple plan branches (the
    self-join diamond): without this, Spark recomputes the whole
    subtree per branch.  Strategy via OPTIONS['diamond_materialize']:
    local_checkpoint (fast, auto-GC'd, not fault-tolerant) | persist
    (lineage kept, accumulates in cache) | none (recompute).

    ``min_bytes``: when set and the plan-stats estimate is BELOW it,
    skip materialization — for a frame whose subtree is one cheap
    projection, recomputing both branches costs less than the extra
    checkpoint job (each Spark action is ~0.3-0.5 s of fixed overhead
    on this box).  At scale the estimate exceeds any sane gate and the
    checkpoint happens; stats-less frames always materialize (the
    safe side: an unknown subtree may be arbitrarily expensive)."""
    from flox_spark.options import OPTIONS

    if min_bytes is not None:
        size = estimate_size_bytes(df)
        if size is not None and size < min_bytes:
            return df
    mode = OPTIONS["diamond_materialize"]
    if mode == "local_checkpoint":
        return df.localCheckpoint(eager=False)
    if mode == "persist":
        return df.persist()
    return df


def local_frame(spark, rows, schema: str):
    """Tiny driver-known frames (declared grids, packed centroids,
    literal model re-entry) as Arrow ``LocalRelation``s.

    ``spark.createDataFrame(<python list>)`` plans as a 32-slice
    PYTHON RDD: every scan re-enters a Python worker once per slice
    (~125 ms each on this box), so even a ONE-ROW frame costs ~1 s
    per execution and an 8-row declared grid under ``coalesce(1)``
    measured ~9 s.  The pandas/Arrow route plans as a pure-JVM
    ``LocalRelation`` — scans are free, broadcasts need no Python
    round trip, and plan stats are exact.  Rows are shipped as
    object-dtype pandas columns so Nones stay NULL and ints never
    drift through float64; the explicit ``schema`` string still
    fixes the Spark-side types.  Falls back to the classic list path
    when Arrow cannot convert (exotic element types, empty frames —
    pandas empty frames skip Arrow anyway) and when any value is a
    float NaN: pandas/Arrow apply pandas null semantics and would
    silently turn the NaN into NULL (caught by the kmeans
    non-finite-centroid pin), where the list path keeps NaN."""

    def _no_nan(v) -> bool:
        # generic NaN probe (NaN != NaN), not isinstance(float): an
        # np.float32/np.float16 NaN is not a Python-float subclass and
        # would slip through to the Arrow path, which silently turns
        # it into NULL — exactly the corruption this guard prevents
        try:
            if v != v:
                return False
        except Exception:
            pass  # values without well-defined != (arrays) fall through
        if isinstance(v, (list, tuple)):
            return all(_no_nan(x) for x in v)
        if isinstance(v, dict):
            return all(_no_nan(x) for x in v.values())
        return True

    try:
        import pandas as pd
        from pyspark.sql.types import StructType

        names = [f.name for f in StructType.fromDDL(schema)]
        if rows and all(_no_nan(r) for r in rows):
            pdf = pd.DataFrame({
                n: pd.Series([r[j] for r in rows], dtype=object)
                for j, n in enumerate(names)
            })
            return spark.createDataFrame(pdf, schema=schema)
    except Exception:  # pragma: no cover - arrow conversion surprises
        pass

    import numpy as np

    def _plain(v):
        # the list path's row verifier rejects numpy scalars outright
        # (np.float32 NaN for a double field raises, it doesn't
        # convert) — unwrap them to Python scalars, preserving NaN
        if isinstance(v, np.generic):
            return v.item()
        if isinstance(v, (list, tuple)):
            # rebuild as PLAIN list/tuple: tuple subclasses with
            # positional constructors (pyspark Row, namedtuples) can't
            # be built from a single generator argument and would
            # raise or mis-construct here
            seq = [_plain(x) for x in v]
            return seq if isinstance(v, list) else tuple(seq)
        return v

    return spark.createDataFrame(
        [tuple(_plain(v) for v in r) for r in rows], schema=schema
    )
