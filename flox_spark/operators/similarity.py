"""Similarity search over embedding columns (array<float>).

Beyond the reference's surface (BASELINE.json north star).  Two paths:

- ``cosine_topk``: exact brute-force top-k — broadcast the (small)
  query set against the base table, cosine via sequential
  ``aggregate``/``transform`` array expressions (JVM, codegen), then a
  per-query rank.  The baseline and the oracle-checkable path.
- ``lsh_bucket_candidates`` / ``embedding_near_duplicates``: the scale
  path — random-hyperplane signatures computed with a deterministic
  integer-arithmetic PRNG (identical in any engine, no library RNG),
  banded into buckets; only bucket-mates get exact cosine.

Scale notes: brute force is O(|base| * |queries|) after a broadcast —
linear in the 100 TB table, no shuffle until the (tiny) rank input.
LSH turns near-dup detection into a bucket join exactly like MinHash
(see dedup.py), with the same ``max_bucket`` guard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flox_spark.plans import ensure_parallelism

# deterministic pseudo-random hyperplane component in [-0.5, 0.5):
# integer LCG-style mix, exactly reproducible in SQL on any engine
_M = 1000003


def _plane_weight(p: int, c: int) -> float:
    """Component ``c`` of hyperplane ``p``: the integer mix is exact
    (max product ~1.7e15, no long overflow) and the final
    ``/ 1000003.0 - 0.5`` is one IEEE double op, the same as
    ``lsh_signature_bits``' per-row SQL fold."""
    mix = (1009 * (p + 1) + 12345 + 9176 * (c + 1)) * 2654435761
    return (mix % _M) / float(_M) - 0.5


def _sqlref(name: str) -> str:
    """Backtick-quote a (possibly alias-dotted) column name for expr()."""
    return ".".join("`%s`" % p.replace("`", "``") for p in name.split("."))


# Unroll the dot/norm folds into a flat `get(a,0)*get(b,0) + ...` sum
# when dim is known and small.  Higher-order functions (aggregate /
# zip_with / transform) are CodegenFallback: inside an otherwise
# codegen'd Filter or join Predicate they evaluate INTERPRETED, boxing
# every element (Float.valueOf per access — observed in executor stack
# dumps dominating the semdedup pair join).  The unrolled sum stays
# inside whole-stage codegen end-to-end: measured 3.0x faster than the
# HOF cosine in a hot filter (8M rows: 0.56s vs 1.68s), far more in a
# sort-merge-join predicate where the fallback also pays per-pair
# allocation.  The gate: each term costs ~220 bytes of generated
# bytecode, and HotSpot refuses to JIT methods past 8000 bytes
# (-XX:HugeMethodLimit) — a dim-48 unroll lands at ~11k and runs
# INTERPRETED ~10x slower than the fold, so past _UNROLL_MAX_DIM the
# sequential fold stays the right kernel (measured: dim 32 = 7.5k,
# still JIT'd).  NOTE the two kernels are bit-identical on full-length
# vectors (same left-to-right association starting at 0.0) but differ
# on ragged data: the unroll treats `dim` as authoritative, so a
# vector SHORTER than dim yields NULL (get() past the end) where the
# fold would sum the prefix — corrupt rows drop out of similarity
# joins instead of matching on a partial sum.
_UNROLL_MAX_DIM = 32


def _dot_sql(ra: str, rb: str, dim: int) -> str:
    """SQL text of the sequential left-to-right dot product over two
    PRE-QUOTED refs (bit-reproducible across engines that evaluate
    list folds sequentially).

    When ``dim`` is known and <= ``_UNROLL_MAX_DIM`` the product is a
    flat unrolled sum (codegen; see the note above).  Otherwise
    ``zip_with`` iterates both arrays directly: a per-row
    ``sequence(0, dim-1)`` index array + ``element_at`` random access
    is measurably slower to analyze AND execute."""
    if isinstance(dim, int) and 0 < dim <= _UNROLL_MAX_DIM:
        terms = " + ".join(
            f"(CAST(get({ra}, {i}) AS DOUBLE) * CAST(get({rb}, {i}) AS DOUBLE))"
            for i in range(dim)
        )
        return f"(0.0D + {terms})"
    return (
        f"aggregate(zip_with({ra}, {rb}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _dot(a: str, b: str, dim: int) -> Column:
    """``_dot_sql`` over two column NAMES as one ``F.expr`` — a Python
    lambda here costs ~30ms of py4j round-trips PER CALL at plan-build
    time (measured), which dominated ivf/ann bench wall."""
    return F.expr(_dot_sql(_sqlref(a), _sqlref(b), dim))


def _norm_sql(ra: str, dim: int) -> str:
    """SQL text of the L2 norm over a PRE-QUOTED ref (see _dot_sql)."""
    if isinstance(dim, int) and 0 < dim <= _UNROLL_MAX_DIM:
        terms = " + ".join(
            f"(CAST(get({ra}, {i}) AS DOUBLE) * CAST(get({ra}, {i}) AS DOUBLE))"
            for i in range(dim)
        )
        return f"sqrt(0.0D + {terms})"
    return (
        f"sqrt(aggregate(transform({ra}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x))"
    )


def _norm(a: str, dim: int) -> Column:
    return F.expr(_norm_sql(_sqlref(a), dim))


def _pick_kernel(
    kernel: str, dim: int, df: DataFrame, *more: DataFrame, what: str = "kernel"
) -> str:
    """The one expr-vs-numpy kernel choice of this module: validate
    ``kernel`` and resolve ``'auto'`` to numpy exactly when the dim is
    past the unroll limit (the expr folds run interpreted), plan stats
    put ``df`` past 64 MB (the per-row or per-pair folds dominate the
    Arrow round trip), and neither ``df`` nor any of ``more`` is a
    stream.  Oracle-scale inputs keep the bit-exact declarative
    arithmetic.  ``what`` names the caller's parameter in the error."""
    if kernel not in ("auto", "expr", "numpy"):
        raise ValueError(f"{what} must be auto|expr|numpy, got {kernel!r}")
    if kernel != "auto":
        return kernel
    if not (isinstance(dim, int) and dim > _UNROLL_MAX_DIM) or any(
        d.isStreaming for d in (df, *more)
    ):
        return "expr"
    from flox_spark.plans.util import estimate_size_bytes

    size = estimate_size_bytes(df)
    return "numpy" if size is not None and size > (64 << 20) else "expr"


def _topk_per_query(
    scored: DataFrame, query_id_col: str, id_col: str, k: int, sim_col: str = "__sim"
) -> DataFrame:
    """Exact per-query top-k rank, bounded-task-size at any base size.

    A naive reading of ``Window.partitionBy(query_id)`` says every
    scored row of a query lands in ONE task — a scale-killer when base
    is 100 TB and queries are few.  Spark >= 3.5's rank-limit pushdown
    (``InsertWindowGroupLimit``) fixes this natively: the
    ``row_number() <= k`` filter becomes a *Partial* WindowGroupLimit
    evaluated map-side before the exchange, so each scan partition
    forwards at most k rows per query and the final task ranks
    <= k * num_partitions rows.  The executed plan (PLANS.txt,
    ann_topk/ivf_topk) shows ``WindowGroupLimit ... Partial`` under the
    Exchange — the two-stage top-k, synthesized by Catalyst.

    The pushdown requires
    ``k <= spark.sql.optimizer.windowGroupLimitThreshold`` (default
    1000); beyond that we rank explicitly within
    (query, spark_partition_id()) first, keep k, then rank globally
    over the <= k * P survivors.  Both stages share one comparator
    (sim desc, id asc), so either path is bitwise identical to a
    single global rank."""
    order = [F.col(sim_col).desc(), F.col(id_col).asc()]
    try:
        thresh = int(
            scored.sparkSession.conf.get("spark.sql.optimizer.windowGroupLimitThreshold", "1000")
        )
    except Exception:  # pragma: no cover - conf read only
        thresh = 1000
    if k > thresh:
        wp = Window.partitionBy(query_id_col, "__part").orderBy(*order)
        scored = (
            scored.withColumn("__part", F.spark_partition_id())
            .withColumn("__prk", F.row_number().over(wp))
            .filter(F.col("__prk") <= k)
            .drop("__part", "__prk")
        )
    wg = Window.partitionBy(query_id_col).orderBy(*order)
    return (
        scored.withColumn("__rk", F.row_number().over(wg))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def _numpy_brute_scores(
    base: DataFrame,
    qrows: list,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    qid_field,
    dim: int,
) -> DataFrame:
    """All (base x query) cosines in ONE Arrow matmul pass — the
    brute-force scoring kernel past the JIT unroll limit.  The query
    table is collected (broadcast-small by ``cosine_topk``'s
    contract) and ships in the task closure as a Q x dim matrix, so
    each base vector crosses the Arrow boundary ONCE instead of Q
    times through a crossJoin pair expansion, and the per-pair
    interpreted fold becomes V @ Q.T at memory bandwidth.  Corrupt
    base/query vectors (NULL/ragged/non-finite) produce no pairs —
    the declarative path gives them NULL sims that rank last, same
    outcome for any query with >= k valid neighbors (callers gate
    this kernel to large inputs)."""
    import numpy as np

    from pyspark.sql.types import StructField, StructType

    qids, Qv = [], []
    for qid, v in qrows:
        if v is None or len(v) != dim:
            continue
        arr = np.asarray(
            [np.nan if x is None else float(x) for x in v], dtype=np.float64
        )
        if np.isfinite(arr).all():
            qids.append(qid)
            Qv.append(arr)
    from pyspark.sql.types import DoubleType

    out_schema = StructType(
        [base.schema[id_col], qid_field, StructField("__sim", DoubleType())]
    )
    proj = base.select(F.col(id_col), F.col(vec_col))
    if not qids:
        return proj.select(
            F.col(id_col),
            F.lit(None).cast(qid_field.dataType).alias(query_id_col),
            F.lit(None).cast("double").alias("__sim"),
        ).filter(F.lit(False))
    Qm = np.vstack(Qv)
    qn = np.sqrt((Qm * Qm).sum(axis=1))
    QT = Qm.T.copy()
    nq = len(qids)
    qid_arr = np.array(qids, dtype=object)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vecs = pdf[vec_col]
            V = np.zeros((n, dim), dtype=np.float64)
            ok = np.zeros(n, dtype=bool)
            try:
                M = np.asarray(np.vstack(vecs.to_numpy()), dtype=np.float64)
                if M.shape != (n, dim):
                    raise ValueError("ragged")
                ok = np.isfinite(M).all(axis=1)
                V = np.where(ok[:, None], M, 0.0)
            except Exception:
                for i, v in enumerate(vecs):
                    if v is None or len(v) != dim:
                        continue
                    arr = np.asarray(
                        [np.nan if x is None else float(x) for x in v],
                        dtype=np.float64,
                    )
                    if np.isfinite(arr).all():
                        V[i] = arr
                        ok[i] = True
            idx = np.flatnonzero(ok)
            if len(idx) == 0:
                continue
            Vo = V[idx]
            bn = np.sqrt((Vo * Vo).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (Vo @ QT) / (bn[:, None] * qn[None, :])
            out = pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy()[idx], nq),
                    query_id_col: np.tile(qid_arr, len(idx)),
                    "__sim": sims.ravel(),
                }
            )
            yield out

    return proj.mapInPandas(run, out_schema)


def cosine_topk(
    base: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    round_to: int | None = 6,
    kernel: str = "auto",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    ``queries`` must have columns (query_id_col, vec_col) and be small
    enough to broadcast (it is hinted).  Ties rank by ascending id for
    determinism.  Output: (query_id, vec_id, cos_sim) — cos_sim
    rounded to ``round_to`` decimals (ranking uses full precision).

    ``kernel``: the scoring kernel — ``'expr'`` (declarative pair
    expression; unrolled codegen below ``_UNROLL_MAX_DIM``,
    interpreted fold above), ``'numpy'`` (``_numpy_brute_scores``:
    one Arrow matmul pass, each base vector crosses the boundary
    once), or ``'auto'`` (numpy exactly when the dim is past the
    unroll limit AND plan stats say the base is big enough that the
    interpreted per-pair folds dominate; oracle-scale inputs keep the
    bit-exact declarative arithmetic).

    Corrupt-row ROW-COUNT divergence between kernels: the numpy route
    drops NULL/ragged/non-finite base and query vectors before
    scoring, so a query with fewer than k valid neighbors returns
    fewer than k rows and a corrupt query returns none; the expr
    route scores them NULL, which rank LAST but still fill the top-k
    when too few valid neighbors exist (NULL-sim rows).  Rankings
    over valid data are identical — but downstream code asserting
    exactly k rows per query should pin ``kernel`` rather than rely
    on 'auto', whose choice flips at the stats gate.
    """
    if _pick_kernel(kernel, dim, base, queries) == "numpy":
        # matmul = memory-bandwidth work: below the byte gate the
        # fan-out exchange costs more than the compute (see
        # lsh_signature_bits); auto only picks numpy past 64 MB
        base = ensure_parallelism(base, min_bytes=8 << 20)
        qrows = [
            (r[0], r[1]) for r in queries.select(query_id_col, vec_col).collect()
        ]
        scored = _numpy_brute_scores(
            base, qrows, id_col, vec_col, query_id_col,
            queries.schema[query_id_col], dim,
        )
    else:
        # the per-pair expr fold IS expensive per row: unconditional
        # fan-out, as before
        base = ensure_parallelism(base)
        # norms precomputed per ROW on each side: inside the pair
        # expression they would re-evaluate per PAIR — O(N*Q*dim)
        # instead of O((N+Q)*dim)
        q = F.broadcast(
            queries.select(
                F.col(query_id_col),
                F.col(vec_col).alias("__qv"),
                _norm(vec_col, dim).alias("__qn"),
            )
        )
        joined = base.select(
            F.col(id_col),
            F.col(vec_col).alias("__bv"),
            _norm(vec_col, dim).alias("__bn"),
        ).crossJoin(q)
        sim = _dot("__bv", "__qv", dim) / (F.col("__bn") * F.col("__qn"))
        scored = joined.withColumn("__sim", sim)
    return _topk_per_query(scored, query_id_col, id_col, k).select(
        query_id_col,
        id_col,
        (F.round(F.col("__sim"), round_to) if round_to else F.col("__sim")).alias("cos_sim"),
    )


def _numpy_signature_pass(
    df: DataFrame, id_col: str, vec_col: str, planes: int, dim: int
) -> DataFrame:
    """All ``planes`` hyperplane bits in ONE Arrow ``mapInPandas``
    matmul pass — the signature kernel past the JIT unroll limit,
    where the declarative path is ``planes`` interpreted folds per
    ROW (measured ~3.5 s for 2000 rows at dim 768, planes 16 —
    signatures touch EVERY row of a 100 TB corpus, so this is the
    scale-dominant LSH term, bigger than the pair verify).  Plane
    weights are the identical integer mix evaluated in Python
    (exact: max product ~1.7e15 < 2^53).  Semantics mirror the fold:
    NULL / short vectors project to NULL -> all-'0' sig; a NaN
    component makes every projection NaN, which Spark's NaN-above-
    everything order sends through ``>= 0`` as true -> all-'1' sig.
    Differs from the fold only at last-ulp (pairwise vs sequential
    summation), which can flip a bit on a projection EXACTLY at 0 —
    callers gate this kernel to large inputs and keep oracle scales
    on the fold."""
    import numpy as np

    from pyspark.sql.types import StringType, StructField, StructType

    WT = np.array(
        [[_plane_weight(p, c) for p in range(planes)] for c in range(dim)],
        dtype=np.float64,
    )
    out_schema = StructType(
        [df.schema[id_col], StructField("sig", StringType())]
    )
    zero_sig = "0" * planes
    one_sig = "1" * planes

    # NULL vectors and short vectors keep the fold's all-'0' sig.
    # NaN-bearing rows get all-'1' (the fold's NaN >= 0 outcome).
    # NULL ELEMENTS inside a full-length vector are indistinguishable
    # from NaN through the Arrow boundary (list nulls arrive as NaN),
    # so they land in the all-'1' corrupt bucket here instead of the
    # fold's all-'0' — either way corrupt rows bucket only with other
    # corrupt rows, and the callers' verify stage drops them.
    def run(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vecs = pdf[vec_col]
            sigs = np.full(n, zero_sig, dtype=object)
            V = np.zeros((n, dim), dtype=np.float64)
            ok = np.zeros(n, dtype=bool)
            nan_row = np.zeros(n, dtype=bool)
            try:
                # fast path: every vector full-length -> one vstack
                M = np.vstack(vecs.to_numpy())
                if M.ndim != 2 or M.shape[1] < dim:
                    raise ValueError("short")
                M = np.asarray(M[:, :dim], dtype=np.float64)
                nan_row = np.isnan(M).any(axis=1)
                ok = ~nan_row
                V = np.where(nan_row[:, None], 0.0, M)
            except Exception:
                for i, v in enumerate(vecs):
                    if v is None or len(v) < dim:
                        continue
                    arr = np.asarray(v[:dim], dtype=np.float64)
                    if np.isnan(arr).any():
                        nan_row[i] = True
                    else:
                        V[i] = arr
                        ok[i] = True
            if ok.any():
                idx = np.flatnonzero(ok)
                bits = V[idx] @ WT >= 0.0
                sigs[idx] = [
                    "".join("1" if b else "0" for b in row) for row in bits
                ]
            sigs[nan_row] = one_sig
            out = pdf[[id_col]].copy()
            out["sig"] = sigs
            yield out

    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(run, out_schema)


def lsh_signature_bits(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    dim: int = 64,
    kernel: str = "auto",
) -> DataFrame:
    """Random-hyperplane signature: bit p = sign(v . plane_p), planes
    from the deterministic integer mix above.  Output: (id, sig) with
    sig a '0'/'1' string of length ``planes``.

    For known small ``dim`` the projections are UNROLLED with the
    plane weights computed at plan-build time in Python — the integer
    mix is exact in both engines (no long overflow: max product
    ~1.7e15) and the final ``/ 1000003.0 - 0.5`` is the same IEEE
    double op, so the weights are bit-identical to the fold's per-row
    SQL arithmetic, and each bit's sum keeps the fold's left-to-right
    association.  This replaces ``planes`` interpreted
    ``aggregate(transform(sequence(...)))`` folds per row — which also
    re-derived every plane weight per ROW per element — with one
    codegen'd projection (each bit is its own generated method, well
    under the JIT limit; see _UNROLL_MAX_DIM).

    ``kernel``: ``'expr'`` (declarative — unrolled codegen below the
    limit, interpreted folds above), ``'numpy'`` (one Arrow matmul
    pass, ``_numpy_signature_pass``), or ``'auto'`` — numpy exactly
    when the dim is past the unroll limit AND plan stats say the
    input is big enough (>64 MB) that the per-row interpreted folds
    dominate; oracle-scale inputs keep the fold so bucket keys stay
    bit-identical to the declarative arithmetic."""
    if _pick_kernel(kernel, dim, df) == "numpy":
        # the matmul pass is memory-bandwidth work, not an expensive
        # per-row fold: below the byte gate the fan-out exchange costs
        # more wall than the compute it parallelizes (the min_bytes
        # rationale in ensure_parallelism's docstring) — a FORCED
        # numpy kernel on a small frame skips it; the auto route only
        # picks numpy past 64 MB, where the fan always happens
        return _numpy_signature_pass(
            ensure_parallelism(df, min_bytes=8 << 20), id_col, vec_col,
            planes, dim,
        )
    vc = _sqlref(vec_col)
    if isinstance(dim, int) and 0 < dim <= _UNROLL_MAX_DIM:
        # CAST('<repr>' AS DOUBLE) is constant-folded at plan time;
        # repr round-trips, so the literal is exact
        projs = [
            "(0.0D + " + " + ".join(
                f"(CAST(get({vc}, {c}) AS DOUBLE) * CAST('{_plane_weight(p, c)!r}' AS DOUBLE))"
                for c in range(dim)
            ) + ")"
            for p in range(planes)
        ]
    else:
        # the same integer-then-double mix per element: get(), not
        # element_at() — under ANSI mode (the Spark 4 default)
        # element_at THROWS on a short vector, get() returns NULL, the
        # documented corrupt-row path (NULL sum -> all-'0' sig)
        projs = [
            f"aggregate(transform(sequence(0, {dim - 1}), __i -> "
            f"CAST(get({vc}, __i) AS DOUBLE) * "
            f"(((({1009 * (p + 1) + 12345} + 9176 * (__i + 1)) * 2654435761) % {_M})"
            f" / {float(_M)!r}D - 0.5D)), 0.0D, (acc, x) -> acc + x)"
            for p in range(planes)
        ]
    bits = ", ".join(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END" for proj in projs)
    return ensure_parallelism(df).select(
        F.col(id_col), F.expr(f"concat({bits})").alias("sig")
    )


def lsh_bucket_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    max_bucket: int | None = 1000,
    signature_kernel: str = "auto",
) -> DataFrame:
    """Candidate pairs sharing any LSH band bucket (id_a < id_b).
    ``signature_kernel`` passes through to ``lsh_signature_bits``."""
    r = planes // bands
    sigs = lsh_signature_bits(
        df, id_col, vec_col, planes, dim, kernel=signature_kernel
    )
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.substring(F.col("sig"), b * r + 1, r).alias("bkey"))
            for b in range(bands)
        ]
    )
    buckets = sigs.select(F.col(id_col), F.explode(band_structs).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    )
    if max_bucket is not None:
        from flox_spark.plans.util import pin_keyed_parallelism

        # pin the window exchange: byte-small bucket frames otherwise
        # AQE-coalesce to one task and the count window serializes
        buckets = pin_keyed_parallelism(buckets, ["band", "bkey"])
        w = Window.partitionBy("band", "bkey")
        buckets = (
            buckets.withColumn("__bs", F.count(F.lit(1)).over(w))
            .filter(F.col("__bs") <= max_bucket)
            .drop("__bs")
        )
    # materialize: the self-join would otherwise recompute all 16
    # hyperplane projections for each side (see dedup.py note).
    # Size-gated below the unroll limit only: below 8 MB the double
    # CODEGEN projection is cheaper than the extra checkpoint job,
    # but past _UNROLL_MAX_DIM the projections run INTERPRETED
    # (planes x dim expr evals per row) and the byte gate measures
    # none of that CPU (the compressed-stats-vs-CPU trap) — measured
    # 19 s at sf0.1/dim 768 from the double fold, so high dims always
    # checkpoint.
    from flox_spark.plans.util import materialize_shared

    buckets = materialize_shared(
        buckets,
        min_bytes=(8 << 20) if dim <= _UNROLL_MAX_DIM else None,
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def ivf_centroids(
    df: DataFrame,
    cluster_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """Elementwise-mean centroid per cluster: posexplode ->
    groupBy(cluster, pos).avg -> rebuild array ordered by pos.
    Components are rounded so centroid scores are reproducible across
    engines despite summation-order float jitter.  Output:
    (cluster, centroid array<double>)."""
    exploded = df.select(
        F.col(cluster_col), F.posexplode(F.col(vec_col)).alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    means = exploded.groupBy(cluster_col, "pos").agg(F.round(F.avg("v"), round_to).alias("m"))
    return (
        means.groupBy(cluster_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(F.col(cluster_col), F.transform("pm", lambda s: s["m"]).alias("centroid"))
    )


def ivf_topk(
    base: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    round_to: int | None = 6,
    two_level_probe: bool = False,
    coarse_probe: int = 2,
    kernel: str = "auto",
) -> DataFrame:
    """IVF-style approximate top-k: score each query against the
    (tiny) centroid table, keep the ``nprobe`` nearest clusters, and
    run exact cosine only inside those clusters.

    The coarse quantizer is the precomputed ``cluster_col`` (e.g. a
    KMeans label written at ingest); the probe step is a broadcast
    join, and the fine search scans ``nprobe/num_clusters`` of the
    base — the classic IVF trade, expressed as three joins Catalyst
    can reorder.  Ties probe lower cluster ids for determinism.

    ``two_level_probe``: past ~1024 clusters, scoring every query
    against every centroid pins the probe — route it through the
    coarse-then-fine quantizer instead: score the ~sqrt(num_clusters)
    coarse cells, keep the best ``coarse_probe``, and rank only their
    member centroids for the nprobe choice (a pure array projection
    on the query side, no window).  Opt-in (the cluster count is not
    knowable without a job, so there is no declarative auto-switch);
    the probed-cluster choice becomes approximate in the usual IVF
    sense."""
    # fine-scoring kernel split (cosine_topk's): past the unroll limit
    # the per-candidate fold is interpreted — route the probed
    # candidate pairs through the shared Arrow einsum pass when plan
    # stats say the base dominates the round trip; oracle scales keep
    # the bit-exact fold.  Picked first, so a bad ``kernel`` raises
    # before the two-level probe's centroid collect runs.
    kernel = _pick_kernel(kernel, dim, base, queries)
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qv"),
        _norm(vec_col, dim).alias("__qn"),
    )
    cent_df = ivf_centroids(base, cluster_col, vec_col, dim)
    if two_level_probe:
        from flox_spark.operators.kmeans import _packed_two_level

        crows = [
            (r[cluster_col], list(r["centroid"]))
            for r in cent_df.collect()
        ]
        if not crows:
            # empty base table: fall through to the flat probe, whose
            # broadcast of the empty centroid frame yields the correct
            # empty result (the nested pack cannot represent empty)
            two_level_probe = False
    if two_level_probe:
        packed2 = _packed_two_level(
            base.sparkSession, crows, max(1, int(len(crows) ** 0.5))
        )
        neg_cos_c = (
            "-(aggregate(zip_with(__qv, g.ccent, (x, y) -> "
            "CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x) / (__qn * "
            "sqrt(aggregate(transform(g.ccent, x -> x * x), 0.0D, (acc, x) -> acc + x))))"
        )
        neg_cos_m = (
            "-(aggregate(zip_with(__qv, c.centroid, (x, y) -> "
            "CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x) / (__qn * "
            "sqrt(aggregate(transform(c.centroid, x -> x * x), 0.0D, (acc, x) -> acc + x))))"
        )
        probe_expr = (
            # top coarse_probe coarse cells by cosine, then rank their
            # member centroids; struct sort = (negcs asc, cluster asc),
            # exactly the flat probe's (cs desc, cluster asc) tie-break
            "transform(slice(array_sort(transform(flatten(transform("
            f"slice(array_sort(transform(__cents2, (g, i) -> struct({neg_cos_c} AS negcs, i AS gix))), 1, {coarse_probe}), "
            "s -> element_at(__cents2, s.gix + 1).members)), "
            f"c -> struct({neg_cos_m} AS negcs, c.__cid AS cluster))), 1, {nprobe}), s -> s.cluster)"
        )
        probed = (
            q.crossJoin(F.broadcast(packed2))
            .select(
                F.col(query_id_col),
                F.explode(F.expr(probe_expr)).alias(cluster_col),
                "__qv",
                "__qn",
            )
        )
    else:
        # per-row norms once on each side (see cosine_topk note)
        cents = F.broadcast(
            cent_df.select(
                F.col(cluster_col),
                F.col("centroid"),
                _norm("centroid", dim).alias("__cn"),
            )
        )
        qscore = q.crossJoin(cents).withColumn(
            "__cs",
            _dot("__qv", "centroid", dim) / (F.col("__qn") * F.col("__cn")),
        )
        wq = Window.partitionBy(query_id_col).orderBy(
            F.col("__cs").desc(), F.col(cluster_col).asc()
        )
        probed = (
            qscore.withColumn("__pr", F.row_number().over(wq))
            .filter(F.col("__pr") <= nprobe)
            .select(query_id_col, cluster_col, "__qv", "__qn")
        )
    if kernel == "numpy":
        # no base-side norm staging (an interpreted per-row fold past
        # the unroll limit) — the Arrow pass computes both norms from
        # the vectors it already ships; the probe's __qn rides along
        # unused and is projected away below
        cand = base.select(
            F.col(id_col),
            F.col(cluster_col),
            F.col(vec_col).alias("__va"),
        ).join(F.broadcast(probed.withColumnRenamed("__qv", "__vb")), cluster_col)
        scored = _arrow_cosine_pass(cand, dim)
    else:
        cand = base.select(
            F.col(id_col),
            F.col(cluster_col),
            F.col(vec_col).alias("__bv"),
            _norm(vec_col, dim).alias("__bn"),
        ).join(F.broadcast(probed), cluster_col)
        sim = _dot("__bv", "__qv", dim) / (F.col("__bn") * F.col("__qn"))
        scored = cand.withColumn("__sim", sim)
    return _topk_per_query(scored, query_id_col, id_col, k).select(
        query_id_col,
        id_col,
        (F.round(F.col("__sim"), round_to) if round_to else F.col("__sim")).alias("cos_sim"),
    )


def _arrow_cosine_pass(joined: DataFrame, dim: int) -> DataFrame:
    """ONE Arrow-batched ``mapInPandas`` pass appending ``__sim`` =
    cosine of (``__va``, ``__vb``) with staged norms ``__na``/``__nb``
    — the pair-verify kernel for dims past the JIT unroll limit,
    where the declarative fold runs interpreted per pair (measured
    0.21 us/element at dim 768, SCALE.md r9 table; the einsum runs
    the same multiply-adds at memory bandwidth).

    Guarded stack (same shape as assign_clusters_numpy.run,
    kmeans.py): one vstack when every vector is clean, a per-row
    fallback that SKIPS NULL / wrong-length / non-finite vectors
    otherwise.  Corrupt pairs are dropped from the batch (NOT emitted
    with a NaN __sim: Spark's total order puts NaN ABOVE every
    double, so a NaN surviving the Arrow boundary would pass a
    >= threshold filter) — matching the expr kernels' semantics,
    where a NULL vector yields a NULL similarity and the pair drops,
    instead of one bad row killing the whole task — exactly wrong on
    the path that exists FOR the 100 TB case where corrupt rows are
    a certainty.  Differs from the fold only at last-ulp (pairwise
    vs sequential summation).

    When ``__na``/``__nb`` are ABSENT from ``joined`` the norms are
    computed here from the stacked vectors — at dims past the unroll
    limit the expr norm staging is itself an interpreted per-row
    fold, so callers on the numpy route skip it entirely."""
    import pandas as pd  # noqa: F401 — document the Arrow boundary

    from pyspark.sql.types import StructType

    have_norms = "__na" in joined.columns
    out_schema = StructType(
        [joined.schema[c] for c in joined.columns if c not in ("__va", "__vb")]
    ).add("__sim", "double")

    def run(batches):
        import numpy as np
        import pandas as pd

        def stack(vecs, n):
            V = np.zeros((n, dim), dtype=np.float64)
            ok = np.zeros(n, dtype=bool)
            try:
                M = np.asarray(np.vstack(vecs.to_numpy()), dtype=np.float64)
                if M.shape != (n, dim):
                    raise ValueError("ragged")
                ok = np.isfinite(M).all(axis=1)
                V = np.where(ok[:, None], M, 0.0)
            except Exception:
                for i, v in enumerate(vecs):
                    if v is None or len(v) != dim:
                        continue
                    arr = np.asarray(
                        [np.nan if x is None else float(x) for x in v],
                        dtype=np.float64,
                    )
                    if np.isfinite(arr).all():
                        V[i] = arr
                        ok[i] = True
            return V, ok

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            A, oka = stack(pdf["__va"], n)
            B, okb = stack(pdf["__vb"], n)
            ok = oka & okb
            dot = np.einsum("ij,ij->i", A, B)
            if have_norms:
                na = pd.to_numeric(pdf["__na"], errors="coerce").to_numpy(
                    dtype=np.float64
                )
                nb = pd.to_numeric(pdf["__nb"], errors="coerce").to_numpy(
                    dtype=np.float64
                )
            else:
                na = np.sqrt(np.einsum("ij,ij->i", A, A))
                nb = np.sqrt(np.einsum("ij,ij->i", B, B))
            out = pdf.drop(columns=["__va", "__vb"]).copy()
            with np.errstate(divide="ignore", invalid="ignore"):
                out["__sim"] = dot / (na * nb)
            if not ok.all():
                out = out[ok]
            yield out

    return joined.mapInPandas(run, out_schema)


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    round_to: int | None = 6,
    verify: str = "auto",
    signature_kernel: str = "auto",
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-duplicate vector pairs: LSH candidates verified with exact
    cosine >= threshold.  Output (id_a, id_b, cos_sim).

    ``signature_kernel`` routes the bucketing signatures
    (``lsh_signature_bits``): past the unroll limit the expr path is
    an interpreted planes x dim fold per row, so high-dim forced-numpy
    callers should force the (bit-identical, pytest-pinned) Arrow
    matmul here too.  ``max_bucket`` is the quadratic guard on
    degenerate buckets (``lsh_bucket_candidates``) — it matters
    doubly here because every surviving candidate pair ships TWO
    ``dim``-sized arrays into the verify stage.

    ``verify``: how the exact cosine runs over the candidate pairs —
    ``'expr'`` (declarative: unrolled codegen below
    ``_UNROLL_MAX_DIM``, interpreted HOF fold above it), ``'numpy'``
    (one Arrow-batched ``mapInPandas`` pass: row-wise
    ``einsum('ij,ij->i')`` over the joined vector pair batches — the
    scale shape for dims past the JIT unroll limit, where the fold
    runs interpreted per pair), or ``'auto'`` (numpy exactly when the
    dim is past the unroll limit AND plan-stats say the base is big
    enough that the per-pair fold dominates the Arrow round trip;
    small/oracle-scale inputs keep the bit-exact declarative
    arithmetic).  numpy differs from the fold only at last-ulp
    (pairwise vs sequential summation), which the rounded ``cos_sim``
    absorbs except for exact threshold-boundary pairs."""
    verify = _pick_kernel(verify, dim, df, what="verify")
    cands = lsh_bucket_candidates(
        df, id_col, vec_col, planes, bands, dim, max_bucket=max_bucket,
        signature_kernel=signature_kernel,
    )
    if verify == "numpy":
        # no norm staging: past the unroll limit the expr norm is
        # itself an interpreted per-row fold — the Arrow pass computes
        # norms from the vectors it already ships.
        # Pin the pair list's parallelism FIRST: candidates are two
        # ids per row (byte-small), but the vector joins expand each
        # row by 2*dim doubles — AQE sizes the post-join stage by the
        # pair list's bytes and coalesces the gather + einsum to ONE
        # task (the byte-gate-vs-CPU trap; observed single-task
        # stages over a 3 GB expansion at sf0.1/dim 768, 32-way after
        # the pin).  An explicit repartition count is
        # AQE-coalesce-proof, and the exchange only carries id pairs.
        cands = cands.repartition(df.sparkSession.sparkContext.defaultParallelism)
        va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
        vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
        scored = _arrow_cosine_pass(cands.join(va, "id_a").join(vb, "id_b"), dim)
    else:
        # norms are per-ROW: stage them below the join (n evaluations)
        # instead of inside the per-PAIR similarity expression — also
        # keeps the post-join predicate one small codegen method (the
        # _UNROLL_MAX_DIM note: dot + two inline norms in one
        # expression is ~3x the generated bytecode and crosses the
        # JIT limit)
        va = df.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("__va"),
            _norm(vec_col, dim).alias("__na"),
        )
        vb = df.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("__vb"),
            _norm(vec_col, dim).alias("__nb"),
        )
        joined = cands.join(va, "id_a").join(vb, "id_b")
        sim = _dot("__va", "__vb", dim) / (F.col("__na") * F.col("__nb"))
        scored = joined.withColumn("__sim", sim)
    # NOT isnan: Spark's total order puts NaN ABOVE every double, so a
    # non-finite vector (expr path: the fold yields NaN; numpy path: a
    # 0/0 on zero norms) would otherwise PASS >= threshold and emit a
    # NaN "near-duplicate".  A pair whose cosine is not a finite number
    # is not a duplicate — both kernels agree under this guard.
    return (
        scored.filter((F.col("__sim") >= threshold) & ~F.isnan("__sim"))
        .select(
            "id_a",
            "id_b",
            (F.round(F.col("__sim"), round_to) if round_to else F.col("__sim")).alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# embedding preprocessing (pipeline utilities)
# ---------------------------------------------------------------------------


def normalize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    out_col: str | None = None,
    kernel: str = "auto",
) -> DataFrame:
    """L2-normalize embedding vectors (pure array expressions, one
    projection, no shuffle).  Cosine against normalized vectors
    reduces to a dot product, halving the per-pair work in the
    brute-force and LSH-verify paths.  The norm is the same
    sequential fold as ``_dot``/``_norm``, so results are
    bit-reproducible across engines.  Zero vectors pass through
    unchanged (their norm is 0).

    ``kernel``: ``'expr'`` / ``'numpy'`` / ``'auto'`` — the standard
    split (see ``lsh_signature_bits``): past the unroll limit the
    norm fold runs interpreted per ROW over the whole corpus, so
    'auto' routes big batch inputs through one Arrow pass.  numpy
    differs at last-ulp (summation order) and maps corrupt rows'
    NULL elements to NaN output (the Arrow boundary folds list NULLs
    into NaN — same caveat as the signature kernel); oracle-scale
    inputs keep the fold."""
    if _pick_kernel(kernel, dim, df) == "numpy":
        return _numpy_normalize_pass(df, vec_col, out_col or vec_col, dim)
    v = F.col(vec_col)
    nrm = _norm(vec_col, dim)
    out = F.when(nrm == 0, F.transform(v, lambda x: x.cast("double"))).otherwise(
        F.transform(v, lambda x: x.cast("double") / nrm)
    )
    return df.withColumn(out_col or vec_col, out)


def _numpy_normalize_pass(
    df: DataFrame, vec_col: str, out_col: str, dim: int
) -> DataFrame:
    """One Arrow pass dividing each vector by the L2 norm of its first
    ``dim`` elements — exactly the expr fold's semantics, so
    ``kernel='auto'`` flipping at the stats gate never changes a row's
    outcome:

    - len(v) == dim: divide by the full norm (zero-norm vectors pass
      through unchanged);
    - len(v) <  dim: the fold's ``v[i]`` reads past the end -> NULL
      norm -> an array of len(v) NULL elements.  The numpy route emits
      len(v) NaNs, which the pandas->Arrow return boundary maps to
      NULL elements — same output, and the corrupt row KEEPS its
      recognizable NULL marker for downstream near-dup stages;
    - len(v) >  dim: divide ALL elements by the first-``dim`` norm
      (the fold transforms the whole array but sums only ``dim``
      terms);
    - NULL vectors stay NULL; NaN-bearing rows come back all-NULL
      (the all-NaN row maps to NULL elements at the Arrow boundary,
      where the expr fold emits all-NaN — same corrupt-row class,
      different spelling, only past the size gate)."""
    import numpy as np

    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    fields = [
        StructField(out_col, ArrayType(DoubleType()), True)
        if f.name == out_col
        else f
        for f in df.schema.fields
    ]
    if out_col not in df.columns:
        fields = fields + [StructField(out_col, ArrayType(DoubleType()), True)]
    out_schema = StructType(fields)

    def norm_one(v):
        if v is None:
            return None
        arr = np.asarray(v, dtype=np.float64)
        if arr.ndim != 1:
            return None
        if arr.shape[0] < dim:
            # expr parity: NULL norm -> len(v) NULL elements
            return np.full(arr.shape[0], np.nan)
        head = arr[:dim]
        nr = float(np.sqrt((head * head).sum()))
        return arr if nr == 0.0 else arr / nr

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vecs = pdf[vec_col]
            try:
                # NULL pre-check: np.vstack over an all-None batch
                # does NOT raise — it broadcasts to a (n, 1) object
                # array that float64-casts to NaN and would normalize
                # NULL vectors into [NULL] singletons
                if vecs.isna().any():
                    raise ValueError("nulls")
                M = np.asarray(np.vstack(vecs.to_numpy()), dtype=np.float64)
                # uniform-width batches only: exactly dim -> full-norm
                # fast path; uniformly longer -> first-dim norm (expr
                # parity); shorter or mixed widths -> per-row fallback
                if M.ndim != 2 or M.shape[0] != n or M.shape[1] < dim:
                    raise ValueError("ragged")
                nrm = np.sqrt(np.einsum("ij,ij->i", M[:, :dim], M[:, :dim]))
                with np.errstate(divide="ignore", invalid="ignore"):
                    O = np.where(nrm[:, None] == 0.0, M, M / nrm[:, None])
                res = list(O)
            except Exception:
                res = [norm_one(v) for v in vecs]
            out = pdf.copy()
            out[out_col] = res
            yield out[[f.name for f in out_schema.fields]]

    return df.mapInPandas(run, out_schema)


def quantize_embeddings_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    out_col: str = "q_embedding",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = sign(x_i) * floor(|x_i|/scale + 0.5) in [-127, 127] — 4x
    storage cut for ANN candidate stages.  The explicit
    sign*floor(+0.5) form (instead of round()) makes the result
    bit-identical in any engine evaluating IEEE doubles, which the
    embed_quantize oracle row verifies.  Zero vectors quantize to
    zeros with scale 0."""
    v = F.col(vec_col)
    absmax = F.aggregate(
        F.transform(v, lambda x: F.abs(x.cast("double"))), F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale = absmax / F.lit(127.0)
    q = F.when(scale == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: (
                F.when(x < 0, F.lit(-1)).otherwise(F.lit(1))
                * F.floor(F.abs(x.cast("double")) / scale + F.lit(0.5))
            ).cast("int"),
        )
    )
    return df.withColumn(scale_col, scale).withColumn(out_col, q)


# ---------------------------------------------------------------------------
# SemDeDup: cluster-pruned semantic deduplication
# ---------------------------------------------------------------------------


def semantic_dedup_pairs(
    df: DataFrame,
    k: int = 4,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    centroids: DataFrame | None = None,
    max_iter: int = 0,
    max_cluster: int | None = 10000,
    round_to: int | None = 6,
    two_level: bool | None = None,
    coarse_k: int | None = None,
    verify: str = "auto",
) -> DataFrame:
    """SemDeDup-style candidate pairs: k-means cluster the embeddings
    (coarse quantizer — near-duplicates land in the same cell), then
    exact-cosine only WITHIN each cluster.  Output (id_a, id_b,
    cos_sim) with id_a < id_b and cosine >= threshold.

    Scale shape: the pair expansion is cluster-bucketed, never
    all-pairs — the same pruning idea as IVF search and MinHash
    banding, and exactly the published SemDeDup recipe (cluster with
    k-means, deduplicate within cells).  ``max_cluster`` caps
    degenerate cells before the self-join (the quadratic guard);
    recall is bounded by the quantizer like any SemDeDup run — raise
    ``k`` for finer cells or pass trained ``centroids``.

    ``centroids``: reuse a fitted (cid, centroid) frame; otherwise a
    ``kmeans_fit(max_iter=...)`` model is trained inline
    (``max_iter=0`` = the deterministic hash-draw seeds, fully
    oracle-reproducible).

    ``two_level``: route the nearest-cell fold through the
    coarse-then-fine quantizer (``assign_clusters_two_level``) —
    O(2*sqrt(k)*dim) per row instead of O(k*dim).  Default (None)
    switches it on automatically past k >= 1024, where the flat fold
    pins assignment CPU (SCALE.md); the cell assignment becomes
    approximate in the usual IVF sense, which for SemDeDup only
    perturbs which cell a borderline point dedups within — the same
    recall trade every quantizer k choice already makes.  Explicit
    False forces the flat fold at any k (the oracle-exact path).

    ``verify``: the in-cell cosine kernel — ``'expr'`` (declarative;
    unrolled codegen below ``_UNROLL_MAX_DIM``, interpreted fold
    above), ``'numpy'`` (one Arrow ``mapInPandas`` einsum pass over
    the expanded pairs — the 100 TB shape past the unroll limit), or
    ``'auto'`` (numpy exactly when the dim needs the fold AND the
    pair volume — exact from the collected cluster sizes on the
    small path, plan-stats-estimated otherwise — dominates the Arrow
    round trip; oracle-scale inputs keep the bit-exact declarative
    arithmetic).  Same split, gates, and corrupt-row semantics as
    ``embedding_near_duplicates``.

    NB on the small-gate path the seed draw and the ``max_cluster``
    cap run eager collects at PLAN-BUILD time through
    ``scoped_tiny_collect`` (k-/cell-sized traffic): small inputs make
    this builder not session-concurrent with arbitrary OUTSIDE queries
    on the same SparkSession (see that helper's docstring).  The large
    path is fully declarative."""
    from flox_spark.operators.dedup import cap_buckets
    from flox_spark.operators.kmeans import (
        _nearest_cid,
        _nearest_cid_in_group,
        _nearest_coarse_gix,
        _packed_centroids,
        _packed_two_level,
        kmeans_fit,
        seed_centroids,
    )
    from flox_spark.plans.util import estimate_size_bytes, materialize_shared

    spark = df.sparkSession
    fit_assigned = None
    if centroids is not None:
        cents = centroids
    elif max_iter == 0:
        # the hash-draw init needs no iteration: keep it a DECLARATIVE
        # plan fragment so the whole query is ONE action — the old
        # flow paid a separate seed-collect job (plus its py4j plan
        # build) before the pair query even started.  Built LAZILY:
        # the small seed-draw path composes its own copy into the
        # pair plan, and building this one anyway doubled the
        # dominant py4j term of the plan-build wall (r12 VERDICT
        # next #3 — seed_centroids measured ~450 round trips each).
        cents = None
    else:
        # reuse the fit's FINAL E-step labels instead of re-assigning
        # against the returned centroids: at web-scale k that second
        # assignment pass is the dominant cost (r6/r8 flag analysis),
        # and the labels are the sklearn labels_ contract — identical
        # once the fit converged, one E-step stale when it stopped on
        # max_iter, which for SemDeDup only perturbs which cell a
        # borderline point dedups within (the same recall trade every
        # quantizer choice already makes)
        cents, fit_assigned = kmeans_fit(
            df, k, id_col=id_col, vec_col=vec_col, max_iter=max_iter,
            return_assignment=True,
        )
    def _cents() -> DataFrame:
        nonlocal cents
        if cents is None:
            cents = seed_centroids(df, k, id_col=id_col, vec_col=vec_col)
        return cents

    if two_level is None:
        two_level = k >= 1024
    # fixed-cost gating: below this PLAN-STATS size the fold is cheap
    # enough (size/8 * k ops total) that the fan-out exchange, the
    # checkpoint job and the pinned co-partitioning each cost more
    # wall than the work they parallelize/save — take the broadcast
    # pair shape instead.  The threshold scales inversely with k (the
    # fold's per-row cost); unknown stats keep the safe scale path.
    size = estimate_size_bytes(df)
    small = size is not None and size * max(1, k // 8) < (32 << 20)
    pair_work = None  # exact pair-expansion elements, when known
    if not (verify == "auto" and small and dim > _UNROLL_MAX_DIM):
        # resolve NOW so the per-row norm staging below (itself an
        # interpreted fold past the unroll limit) can be skipped on
        # the Arrow route; the small path past the unroll limit
        # resolves later from the exact pair volume, with the (cheap
        # at that scale) staged norms feeding either kernel
        verify = _pick_kernel(verify, dim, df, what="verify")
    stage_norms = verify != "numpy"
    proj = df.select(F.col(id_col), F.col(vec_col))
    fanned = proj if small else ensure_parallelism(proj)
    assigned = None  # set directly by the one-statement small path
    if fit_assigned is not None:
        # labels already computed (and, in the plan loop, checkpointed)
        # by the fit — no second assignment pass of ANY flavor
        folded = fit_assigned.select(
            F.col(id_col), F.col("__v").alias(vec_col), F.col("__cid").alias("__cl")
        )
    elif small and centroids is None and max_iter == 0 and not two_level:
        # SMALL seed-draw path (r11): the hash-draw init rides INSIDE
        # the pair plan as a collect-free fragment again — but joined
        # through a CARTESIAN with the one-row packed-seed aggregate
        # (shuffle_replicate_nl) instead of a broadcast subquery, so
        # there is no broadcast-build job and no separate seed-collect
        # job: the whole seed+fold subtree materializes under the
        # single AQE-off checkpoint job below (r10 VERDICT #1 — the
        # seed collect was the path's 5th structural job).  Selection
        # is ``seed_centroids``, the bit-exact plan twin of
        # ``_seed_cents`` (kmeans contract), so the oracle assignment
        # is unchanged; the right side is ONE row, so the cartesian
        # replicates k*dim doubles per task, never data.
        # Assembled as ONE parameterized spark.sql statement (r15):
        # the Column form (agg + crossJoin + withColumn + select +
        # filter) cost ~0.25 s of py4j round trips per build; the
        # expressions are the same text the Column path parses
        # (_nearest_cid_sql/_norm_sql are the single-source strings).
        from flox_spark.operators.kmeans import _nearest_cid_sql

        idq = _sqlref(id_col)
        vecq = _sqlref(vec_col)
        nrm = f", {_norm_sql(vecq, dim)} AS __nrm" if stage_norms else ""
        sql = (
            "SELECT * FROM (\n"
            "  SELECT /*+ SHUFFLE_REPLICATE_NL(p) */ "
            f"{idq}, {vecq}, {_nearest_cid_sql(vec_col)} AS __cl{nrm}\n"
            "  FROM {src} CROSS JOIN (SELECT array_sort(collect_list("
            "struct(__cid, centroid))) AS __cents FROM {seeds}) p\n"
            ") WHERE __cl >= 0"
        )
        assigned = spark.sql(
            sql, src=fanned,
            seeds=seed_centroids(df, k, id_col=id_col, vec_col=vec_col),
        )
        folded = None
    elif two_level:
        # the numpy coarse partition needs the centroid VALUES: one
        # k-sized collect (only on this path)
        cents_rows = [
            (r["__cid"], None if r["centroid"] is None else list(r["centroid"]))
            for r in _cents().select("__cid", "centroid").collect()
        ]
        if not cents_rows:
            return spark.createDataFrame(
                [], schema=f"id_a {df.schema[id_col].dataType.simpleString()}, "
                f"id_b {df.schema[id_col].dataType.simpleString()}, cos_sim double"
            )
        from flox_spark.operators.kmeans import (
            _NUMPY_ASSIGN_MIN_WORK,
            _numpy_assign_work,
            assign_clusters_numpy,
        )

        work = _numpy_assign_work(df, k)
        if work is not None and work > _NUMPY_ASSIGN_MIN_WORK:
            # web-scale work volume (rows x k): the interpreted
            # two-level fold pins executor CPU (measured >20 min at
            # 6M rows x k=24000); one Arrow-batched BLAS argmin pass
            # is the 100 TB shape (assign_clusters_numpy docstring)
            folded = assign_clusters_numpy(fanned, cents_rows, vec_col, "__cl")
        else:
            packed2 = _packed_two_level(
                spark,
                cents_rows,
                coarse_k or max(1, int(len(cents_rows) ** 0.5)),
            )
            folded = (
                fanned.crossJoin(F.broadcast(packed2))
                .withColumn("__g", _nearest_coarse_gix(vec_col))
                .withColumn("__cl", _nearest_cid_in_group(vec_col))
            )
    else:
        # packed as a broadcast SUBQUERY (agg over the k-row centroid
        # frame): referenced by both join sides, Spark's ReuseExchange
        # builds the broadcast once; no driver collect anywhere
        folded = fanned.crossJoin(_packed_centroids(_cents())).withColumn(
            "__cl", _nearest_cid(vec_col)
        )
    if assigned is None:
        cols = [F.col(id_col), F.col(vec_col), F.col("__cl")]
        if stage_norms:
            # norms precomputed per ROW: computing them inside the pair
            # expression re-evaluates per PAIR — O(pairs*dim) instead
            # of O(rows*dim).  Skipped on the pre-resolved Arrow route,
            # which computes norms from the vectors it already ships.
            cols.append(_norm(vec_col, dim).alias("__nrm"))
        assigned = (
            folded.select(*cols)
            # -1 is the no-valid-cell sentinel (NaN/NULL vectors, or an
            # EMPTY centroid table): those rows belong to no cell and
            # must not pair with each other through a shared "-1 cell"
            .filter(F.col("__cl") >= 0)
        )
    # Two physical shapes for the in-cell pair stage, picked by the
    # size gate above:
    #
    # SMALL (fits executor memory comfortably): broadcast one side
    # and round-robin the probe side across the cluster — a
    # BroadcastHashJoin on __cl whose parallelism is the PROBE side's
    # partitioning, NOT the cell count.  The co-partitioned plan
    # below caps parallelism at k non-empty hash partitions (k=4 ->
    # 4 tasks grinding the quadratic pair expansion) and pays a
    # pinned exchange in fixed jobs; this shape reaches full
    # parallelism with one cheap exchange, and shares the assignment
    # fold across the two branches with a lazy local checkpoint.
    #
    # LARGE: co-partitioned sort-merge self-join.  ORDER MATTERS for
    # parallelism (all three steps observed collapsing to one task in
    # other orders):
    # 1. materialize FIRST — the fold (k*dim ops/row) runs once
    #    across the scan's partitions and the self-join diamond reads
    #    the checkpoint; a checkpoint LOSES partitioning metadata, so
    #    anything pinned before it is forgotten;
    # 2. repartition(n, __cl) AFTER it — an explicit partition count
    #    AQE cannot coalesce away (byte-based coalescing would run
    #    the CPU-bound in-cell pair expansion of a byte-small frame
    #    on ONE task — observed 60s single-task stages);
    # 3. the cap window and the self-join both require
    #    hashpartitioning(__cl) and REUSE that one pinned exchange.
    if small:
        # ONE structural job for the whole staging (r11): the probe
        # fan-out exchange moves BEFORE the checkpoint, and the
        # checkpoint RDD is CREATED inside the AQE-off guard — plan ->
        # RDD conversion freezes the adaptive context, so the entire
        # seed + fold + repartition subtree materializes as plain
        # shuffle stages UNDER the sizes collect instead of a fan of
        # separate AQE stage jobs (the r10 decomposition's extra
        # jobs).  The checkpoint keeps the 32-way physical layout
        # (metadata is lost, the partitions aren't), so the pair
        # probe inherits full parallelism with no post-checkpoint
        # exchange, and the broadcast build reads the same cache.
        # Sharing the checkpoint between probe and broadcast branches
        # still saves re-running the fold (measured 1.05 s -> 0.93 s
        # at sf0.1 before the r11 restructure).
        from flox_spark.plans.util import scoped_tiny_collect

        with scoped_tiny_collect(spark):
            assigned = assigned.repartition(
                spark.sparkContext.defaultParallelism
            )
            assigned = materialize_shared(assigned)
            if max_cluster is not None:
                # r9: LITERAL cap — cluster sizes are a k-row
                # aggregate over the checkpoint, so collect them
                # (k-sized driver traffic, the kmeans class) and cap
                # with a literal NOT IN filter.  The declarative
                # cap_buckets window costs a __cl exchange + window
                # pass PER BRANCH here (probe and broadcast build
                # both re-evaluate it); the literal filter costs zero
                # exchanges.  The LARGE path keeps the windowed cap:
                # its k can be huge and it already pins a reusable
                # __cl exchange that the window shares.  coalesce(1):
                # one narrow single-task stage over the (gated-small)
                # post-shuffle cache collapses the two-phase agg —
                # the lm.py _small vocab trick; the CPU-bound fold
                # stays parallel on the repartition's map side.
                sizes = (
                    assigned.coalesce(1).groupBy("__cl").count().collect()
                )
        if max_cluster is not None:
            bad = [r["__cl"] for r in sizes if r["count"] > max_cluster]
            if bad:
                assigned = assigned.filter(~F.col("__cl").isin(*[F.lit(x) for x in bad]))
            # the sizes also give the EXACT pair-expansion work for
            # the verify-kernel choice below: unrolled codegen
            # (~2 ns/element, dim <= _UNROLL_MAX_DIM) affords ~1e8
            # elements; past the unroll limit the fold runs
            # INTERPRETED at ~0.3 us/element (measured, SCALE.md), so
            # the Arrow crossover budget drops to ~2e6
            pair_work = sum(
                r["count"] * r["count"] for r in sizes if r["count"] <= max_cluster
            ) * max(1, dim) // 2
        a = assigned.alias("a")
        b = F.broadcast(assigned).alias("b")
    else:
        assigned = materialize_shared(assigned)
        assigned = assigned.repartition(
            spark.sparkContext.defaultParallelism, F.col("__cl")
        )
        assigned = cap_buckets(assigned, ["__cl"], max_cluster)
        a, b = assigned.alias("a"), assigned.alias("b")
    # in-cell verify kernel, the embedding_near_duplicates split: past
    # the JIT unroll limit the per-pair fold runs INTERPRETED — at
    # web-scale pair volumes that pins executor CPU (dim-768 table in
    # SCALE.md: 0.21 us/element vs the einsum's memory-bandwidth
    # pass).  'auto' routes through Arrow when dim needs the fold AND
    # the pair volume is known (small path: EXACT, from the collected
    # cluster sizes) or estimated (stats > 64 MB) to dominate the
    # Arrow round trip; oracle-scale inputs keep the bit-exact fold.
    # (Resolved BEFORE the pair join is assembled — r15 — so the
    # small/expr shape can build join+score+filter as one statement.)
    # Only the small path gets here unresolved, and its plan stats sit
    # far below _pick_kernel's 64 MB, so without cluster sizes
    # (max_cluster=None) it keeps the fold.  1<<26 sits between the
    # sf0.1 oracle/bench row (3.3e7 elements, fold wall well under a
    # second across the pinned 32-way probe) and the measured dim-768
    # crossover (99k pairs = 7.6e7 elements: fold 12.3 s vs einsum
    # 2.4 s verify-only, SCALE.md r9 table).
    if verify == "auto":
        verify = "numpy" if pair_work is not None and pair_work > (1 << 26) else "expr"
    thr = f"CAST('{float(threshold)!r}' AS DOUBLE)"
    if small and verify == "expr" and stage_norms:
        # ONE parameterized statement for broadcast-join + cosine +
        # threshold + rounding (r15): the Column chain (join + 6-col
        # select + withColumn + filter + select) cost ~0.2 s of py4j
        # per build.  Expressions are the exact twins (same _dot_sql
        # text, same CASTs); both {ckpt} references resolve to the
        # same checkpointed frame, so the broadcast build reads the
        # cache the probe scans.
        idq = _sqlref(id_col)
        vecq = _sqlref(vec_col)
        out = (
            f"round(__sim, {int(round_to)})" if round_to is not None else "__sim"
        )
        sim = f"({_dot_sql('a.' + vecq, 'b.' + vecq, dim)} / (a.__nrm * b.__nrm))"
        pair_sql = (
            "SELECT id_a, id_b, " + out + " AS cos_sim FROM (\n"
            f"  SELECT /*+ BROADCAST(b) */ a.{idq} AS id_a, b.{idq} AS id_b,"
            f" {sim} AS __sim\n"
            "  FROM {ckpt} a JOIN {ckpt} b"
            f" ON a.__cl = b.__cl AND a.{idq} < b.{idq}\n"
            f") WHERE __sim >= {thr} AND NOT isnan(__sim)"
        )
        return spark.sql(pair_sql, ckpt=assigned)
    joined = a.join(
        b,
        (F.col("a.__cl") == F.col("b.__cl"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col(f"a.{vec_col}").alias("__va"),
        F.col(f"b.{vec_col}").alias("__vb"),
        *(
            [F.col("a.__nrm").alias("__na"), F.col("b.__nrm").alias("__nb")]
            if stage_norms
            else []
        ),
    )
    if verify == "numpy":
        scored = _arrow_cosine_pass(joined, dim)
    else:
        scored = joined.withColumn(
            "__sim", _dot("__va", "__vb", dim) / (F.col("__na") * F.col("__nb"))
        )
    out_sim = (
        F.round(F.col("__sim"), round_to) if round_to is not None else F.col("__sim")
    )
    # ~isnan: the kernels agree that a non-finite cosine (NaN vector
    # through the fold, 0/0 on zero norms) is not a duplicate — and
    # Spark's NaN-above-everything total order would otherwise let
    # those pairs PASS >= threshold (embedding_near_duplicates note)
    return (
        scored.filter(
            (F.col("__sim") >= F.lit(float(threshold))) & ~F.isnan("__sim")
        )
        .select("id_a", "id_b", out_sim.alias("cos_sim"))
    )


def semantic_dedup(
    df: DataFrame,
    k: int = 4,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    centroids: DataFrame | None = None,
    max_iter: int = 0,
    max_cluster: int | None = 10000,
) -> DataFrame:
    """SemDeDup decision step: drop all but one representative (the
    minimum id, via connected components over the pair graph) from
    every group of semantically near-duplicate embeddings.  Returns
    the surviving rows of ``df`` unchanged."""
    from flox_spark.operators.dedup import _literal_cc_cap, dedup_clusters

    pairs = semantic_dedup_pairs(
        df, k, threshold, id_col, vec_col, dim, centroids, max_iter, max_cluster,
        round_to=None,
    )
    clusters = dedup_clusters(
        pairs.select("id_a", "id_b"), literal_max_pairs=_literal_cc_cap(df)
    )
    drops = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(drops, [id_col], "left_anti")
