"""Unrolled small-dim kernels (similarity._dot/_norm, LSH planes)
must be BIT-identical to the sequential HOF folds they replace —
same left-to-right association from 0.0 — on full-length vectors,
and must NULL out ragged rows (dim is authoritative)."""

import math

import pytest
from pyspark.sql import functions as F

from flox_spark.operators import similarity as sim


@pytest.fixture(scope="module")
def vecs(spark):
    comp = lambda s, d: [
        ((F.col("id") * (2654435761 + 97 * j + s) + 12345 * j) % 1000 / 500.0 - 1.0).cast("float")
        for j in range(d)
    ]
    return spark.range(500).select(
        F.col("id"),
        F.array(*comp(0, 16)).alias("a"),
        F.array(*comp(7, 16)).alias("b"),
    )


def _hof_dot(a, b):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _hof_norm(a):
    return F.expr(
        f"sqrt(aggregate(transform({a}, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "0.0D, (acc, x) -> acc + x))"
    )


def test_unrolled_dot_bit_identical_to_fold(spark, vecs):
    assert 16 <= sim._UNROLL_MAX_DIM
    out = vecs.select(
        (sim._dot("a", "b", 16) - _hof_dot("a", "b")).alias("dd"),
        (sim._norm("a", 16) - _hof_norm("a")).alias("dn"),
    ).agg(F.max(F.abs("dd")), F.max(F.abs("dn"))).collect()[0]
    assert out[0] == 0.0 and out[1] == 0.0  # bit-identical, not tolerance


def test_unrolled_ragged_vector_nulls_out(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0], [3.0, 4.0]), (2, [1.0], [3.0, 4.0])],
        "id long, a array<float>, b array<float>",
    )
    rows = {r["id"]: r["d"] for r in df.select("id", sim._dot("a", "b", 2).alias("d")).collect()}
    assert rows[1] == pytest.approx(11.0)
    assert rows[2] is None  # shorter than dim -> NULL, corrupt row drops out


def test_large_dim_keeps_fold(spark):
    # past the JIT gate the expression must be the HOF fold, not 200 gets
    c = sim._dot("a", "b", 64)
    s = c._jc.toString() if hasattr(c, "_jc") else str(c)
    assert "aggregate" in s and "get(" not in s


def test_lsh_unrolled_sigs_match_fold_sigs(spark, vecs):
    base = vecs.select(F.col("id").alias("vec_id"), F.col("a").alias("embedding"))
    unrolled = {
        r["vec_id"]: r["sig"]
        for r in sim.lsh_signature_bits(base, dim=16).collect()
    }
    # dim > _UNROLL_MAX_DIM forces the fold path; trailing components
    # past the true vector length contribute NULL -> the fold treats
    # them as no-ops only if absent, so compare via the fold at the
    # TRUE dim by temporarily lowering the gate
    old = sim._UNROLL_MAX_DIM
    try:
        sim._UNROLL_MAX_DIM = 0  # force the fold path at dim=16
        fold = {
            r["vec_id"]: r["sig"]
            for r in sim.lsh_signature_bits(base, dim=16).collect()
        }
    finally:
        sim._UNROLL_MAX_DIM = old
    assert unrolled == fold


def test_neardup_numpy_verify_matches_expr(spark):
    from flox_spark.operators.similarity import embedding_near_duplicates

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    kw = dict(threshold=0.45, dim=64, round_to=6)
    e = sorted(
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in embedding_near_duplicates(df, verify="expr", **kw).collect()
    )
    n = sorted(
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in embedding_near_duplicates(df, verify="numpy", **kw).collect()
    )
    assert e == n and len(e) > 0


def test_neardup_verify_param_validated(spark):
    from flox_spark.operators.similarity import embedding_near_duplicates

    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    with pytest.raises(ValueError):
        embedding_near_duplicates(df, verify="blas")


def test_neardup_numpy_verify_drops_ragged_and_null(spark):
    """ADVICE r8 / VERDICT r8 What's-wrong #1: one corrupt row (NULL or
    short vector) in an Arrow batch must DROP its pairs, not raise out
    of np.vstack and kill the task.  Corrupt vectors carry the all-zero
    LSH signature, so they all bucket together and reach the verify."""
    from flox_spark.operators.similarity import embedding_near_duplicates

    dim = 8
    rows = [
        (1, [1.0] * dim),
        (2, [1.0] * dim),          # exact dup of 1 -> surviving pair
        (3, None),                 # NULL vector
        (4, [1.0, 2.0]),           # ragged (shorter than dim)
        (5, [float("nan")] * dim), # non-finite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(threshold=0.9, planes=8, bands=4, dim=dim, round_to=6)
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(df, verify="numpy", **kw).collect()
    }
    # the clean pair survives; no pair touches a corrupt id
    assert (1, 2) in got or (2, 1) in got
    assert all(a not in (3, 4, 5) and b not in (3, 4, 5) for a, b in got)
    # and the expr path agrees (documented semantics hold on BOTH kernels)
    exp = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(df, verify="expr", **kw).collect()
    }
    assert got == exp


def test_lsh_numpy_kernel_matches_fold(spark):
    # r9: the Arrow matmul signature kernel must reproduce the fold's
    # bits on clean data (generic projections sit far from 0, so the
    # last-ulp summation-order difference cannot flip a sign) and the
    # fold's corrupt-row buckets: NULL/short -> all-'0', NaN -> all-'1'
    import pytest as _pytest

    from flox_spark.operators.similarity import (
        _numpy_signature_pass,
        lsh_signature_bits,
    )

    d = 40  # past _UNROLL_MAX_DIM -> the fold path is the comparator
    comp = lambda j: (
        (F.col("id") * (2654435761 + 97 * j) + 12345 * j) % 1000 / 500.0 - 1.0
    ).cast("float")
    clean = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array(*[comp(j) for j in range(d)]).alias("embedding"),
    )
    fold = {
        r["vec_id"]: r["sig"]
        for r in lsh_signature_bits(clean, dim=d, kernel="expr").collect()
    }
    np_ = {
        r["vec_id"]: r["sig"]
        for r in _numpy_signature_pass(clean, "vec_id", "embedding", 16, d).collect()
    }
    assert np_ == fold and len(fold) == 300

    dirty = spark.createDataFrame(
        [
            (1, [1.0] * d),
            (2, None),
            (3, [1.0, 2.0]),
            (4, [float("nan")] * d),
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["sig"]
        for r in _numpy_signature_pass(dirty, "vec_id", "embedding", 16, d).collect()
    }
    exp = {
        r["vec_id"]: r["sig"]
        for r in lsh_signature_bits(dirty, dim=d, kernel="expr").collect()
    }
    assert got[1] == exp[1]                    # clean row identical
    assert got[2] == exp[2] == "0" * 16        # NULL vector
    assert got[3] == exp[3] == "0" * 16        # short vector
    assert got[4] == exp[4] == "1" * 16        # NaN vector
    with _pytest.raises(ValueError, match="kernel"):
        lsh_signature_bits(clean, dim=d, kernel="blas")


def test_ann_numpy_kernels_match_expr(spark):
    # r9: brute-force and IVF scoring gained the Arrow kernels; forced
    # numpy must reproduce the declarative top-k exactly on clean data
    import pytest as _pytest

    from flox_spark.operators.kmeans import assign_clusters, kmeans_fit
    from flox_spark.operators.similarity import cosine_topk, ivf_topk
    from flox_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = sorted(map(tuple, cosine_topk(emb, q, k=5, dim=64, kernel="expr").collect()))
    b = sorted(map(tuple, cosine_topk(emb, q, k=5, dim=64, kernel="numpy").collect()))
    assert a == b and len(a) == 15
    cents = kmeans_fit(emb, k=4, max_iter=2)
    lab = emb.join(assign_clusters(emb, cents), "vec_id").withColumnRenamed(
        "cluster", "km"
    )
    c = sorted(map(tuple, ivf_topk(
        lab, q, k=5, nprobe=2, cluster_col="km", dim=64, kernel="expr").collect()))
    d = sorted(map(tuple, ivf_topk(
        lab, q, k=5, nprobe=2, cluster_col="km", dim=64, kernel="numpy").collect()))
    assert c == d and len(c) == 15
    with _pytest.raises(ValueError, match="kernel"):
        cosine_topk(emb, q, kernel="blas")
    with _pytest.raises(ValueError, match="kernel"):
        ivf_topk(lab, q, cluster_col="km", kernel="blas").collect()


def test_ann_numpy_kernel_drops_corrupt_rows(spark):
    # corrupt base vectors produce no pairs on the numpy route (the
    # expr route's NULL sims rank last — same top-k when enough valid
    # neighbors exist); corrupt queries score nothing
    from flox_spark.operators.similarity import cosine_topk

    dim = 8
    base = spark.createDataFrame(
        [(i, [float(i + j) for j in range(dim)]) for i in range(6)]
        + [(97, None), (98, [1.0]), (99, [float("nan")] * dim)],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame(
        [(0, [1.0] * dim), (1, None)], "query_id long, embedding array<float>"
    )
    out = cosine_topk(base, q, k=3, dim=dim, kernel="numpy").collect()
    assert {r["query_id"] for r in out} == {0}
    assert all(r["vec_id"] not in (97, 98, 99) for r in out)
    assert len(out) == 3


def test_normalize_numpy_kernel_matches_expr(spark):
    import pytest as _pytest

    from flox_spark.operators.similarity import normalize_embeddings
    from flox_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    e = {r["vec_id"]: r["embedding"]
         for r in normalize_embeddings(emb, dim=64, kernel="expr").collect()}
    n = {r["vec_id"]: r["embedding"]
         for r in normalize_embeddings(emb, dim=64, kernel="numpy").collect()}
    assert set(e) == set(n)
    for i in e:
        assert e[i] == _pytest.approx(n[i], rel=1e-12, abs=1e-15), i
    # corrupt rows: NULL stays NULL, zero vector passes through, NaN
    # rows normalize to all-NaN on both kernels
    dirty = spark.createDataFrame(
        [(1, None), (2, [0.0, 0.0]), (3, [float("nan"), 1.0]), (4, [3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r["embedding"]
           for r in normalize_embeddings(dirty, dim=2, kernel="numpy").collect()}
    assert got[1] is None
    assert got[2] == [0.0, 0.0]
    # the computed all-NaN row maps to NULL elements at the Arrow
    # return boundary (expr spells the same corruption as all-NaN)
    assert all(x is None or math.isnan(x) for x in got[3])
    assert got[4] == _pytest.approx([0.6, 0.8])
    with _pytest.raises(ValueError, match="kernel"):
        normalize_embeddings(dirty, kernel="blas")


def test_normalize_numpy_kernel_ragged_dim_parity(spark):
    # r9 ADVICE (medium): the numpy pass must honor `dim` exactly like
    # the expr fold — a SHORT vector keeps its NULL corrupt-marker
    # (fold: v[i] past the end -> NULL norm -> per-element NULLs), a
    # LONG vector divides by the first-`dim` norm, never the full norm
    import pytest as _pytest

    from flox_spark.operators.similarity import normalize_embeddings

    dim = 3
    rows = [
        (1, [3.0, 4.0]),                 # shorter than dim
        (2, [0.0, 3.0, 4.0]),            # exact
        (3, [0.0, 3.0, 4.0, 100.0]),     # longer: norm over first 3 only
        (4, None),
        (5, [0.0, 0.0, 0.0]),            # zero norm passes through
    ]
    dirty = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for batch in (dirty, dirty.filter("vec_id in (2, 3)")):  # mixed + uniform
        e = {r["vec_id"]: r["embedding"]
             for r in normalize_embeddings(batch, dim=dim, kernel="expr").collect()}
        n = {r["vec_id"]: r["embedding"]
             for r in normalize_embeddings(batch, dim=dim, kernel="numpy").collect()}
        assert set(e) == set(n)
        for i in e:
            if e[i] is None or any(x is None for x in e[i]):
                # expr's corrupt marker (NULL elements) must survive the
                # numpy route — never healthy-looking values
                assert n[i] is None or all(x is None for x in n[i]), (i, n[i])
            else:
                assert len(n[i]) == len(e[i]), i
                assert e[i] == _pytest.approx(n[i], rel=1e-12, abs=1e-15), i
    # the longer row's tail element proves first-dim norm (100/5 = 20)
    n3 = {r["vec_id"]: r["embedding"]
          for r in normalize_embeddings(dirty, dim=dim, kernel="numpy").collect()}[3]
    assert n3 == _pytest.approx([0.0, 0.6, 0.8, 20.0])
