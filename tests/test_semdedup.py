"""SemDeDup (cluster-pruned semantic dedup): numpy differential on
planted near-duplicates, representative-keeping semantics, and the
cluster-bucketed (never all-pairs) plan shape."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from flox_spark.operators import semantic_dedup, semantic_dedup_pairs

DIM = 8


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(41)
    base = rng.normal(size=(6, DIM))
    rows = []
    vid = 0
    for b in base:
        # each base vector plus two tiny perturbations -> a planted
        # near-dup triple
        for eps in (0.0, 0.001, 0.002):
            v = b + eps * rng.normal(size=DIM)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    return spark.createDataFrame(pdf), pdf


def _numpy_semdedup(pdf, k, threshold):
    import hashlib

    ids = pdf.vec_id.to_numpy()
    V = np.array([np.array(v) for v in pdf.embedding])
    order = sorted(
        range(len(ids)), key=lambda i: hashlib.md5(f"{ids[i]}:0".encode()).hexdigest()
    )
    seeds = V[order[:k]]
    d = ((V[:, None, :] - seeds[None, :, :]) ** 2).sum(axis=2)
    cl = d.argmin(axis=1)
    pairs = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if cl[i] != cl[j]:
                continue
            a, b = V[i], V[j]
            sim = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            ia, ib = sorted((ids[i], ids[j]))
            if sim >= threshold:
                pairs.append((ia, ib, sim))
    # connected components, min-id representative
    parent = {i: i for p in pairs for i in p[:2]}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    drops = {i for i in parent if find(i) != i}
    return pairs, set(ids) - drops


def test_pairs_match_numpy(spark, vecs):
    df, pdf = vecs
    thr = 0.999
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in semantic_dedup_pairs(
            df, k=3, threshold=thr, dim=DIM, max_iter=0
        ).collect()
    }
    exp_pairs, _ = _numpy_semdedup(pdf, k=3, threshold=thr)
    assert set(got) == {(a, b) for a, b, _ in exp_pairs}
    for a, b, sim in exp_pairs:
        assert got[(a, b)] == pytest.approx(round(sim, 6), abs=2e-6)
    # planted triples are near-identical: every triple that lands in
    # one cell contributes its pairs
    assert len(got) >= 3


def test_semantic_dedup_keeps_min_id_survivors(spark, vecs):
    df, pdf = vecs
    thr = 0.999
    kept = {
        r["vec_id"]
        for r in semantic_dedup(df, k=3, threshold=thr, dim=DIM, max_iter=0).collect()
    }
    _, exp_keep = _numpy_semdedup(pdf, k=3, threshold=thr)
    assert kept == exp_keep
    # representatives are the minimum ids of their triples
    assert 0 in kept  # first planted triple's min id always survives


def test_pair_join_is_cluster_bucketed(spark, vecs):
    df, _ = vecs
    plan = (
        semantic_dedup_pairs(df, k=3, dim=DIM, max_iter=0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the self-join keys on the cluster id -> a hash/sort-merge join,
    # never a cartesian over the corpus.  (The ONE-ROW packed-centroid
    # attach is a BroadcastNestedLoopJoin by construction — build side
    # is a single struct row, the benign crossJoin class — so the
    # assertion targets the PAIR join: a keyed join must be present
    # and no true cartesian anywhere.)
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan), plan
    # every nested-loop join in the plan builds the one-row centroid
    # pack, never a data-sized side
    import re

    for m in re.finditer(r"BroadcastNestedLoopJoin[^\n]*", plan):
        assert "Cross" in m.group(0)


def test_max_cluster_caps_degenerate_cells(spark, vecs):
    df, _ = vecs
    # k=1 puts everything in one cell; max_cluster below the corpus
    # size must drop the mega-bucket entirely (the quadratic guard)
    out = semantic_dedup_pairs(
        df, k=1, threshold=0.0, dim=DIM, max_iter=0, max_cluster=5
    )
    assert out.count() == 0


def test_semdedup_pairs_verify_numpy_matches_expr(spark):
    # r9: the in-cell cosine has the same expr/numpy kernel split as
    # embedding_near_duplicates — forced numpy must reproduce the
    # declarative pair set (rounded sims absorb last-ulp summation
    # order) and validate its param
    import pytest as _pytest

    from flox_spark.operators.similarity import semantic_dedup_pairs
    from flox_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    kw = dict(k=4, threshold=0.4, max_iter=0, round_to=6)
    e = sorted(map(tuple, semantic_dedup_pairs(emb, verify="expr", **kw).collect()))
    n = sorted(map(tuple, semantic_dedup_pairs(emb, verify="numpy", **kw).collect()))
    assert e == n and len(e) > 0
    with _pytest.raises(ValueError, match="verify"):
        semantic_dedup_pairs(emb, verify="blas", **kw)


def test_semdedup_small_path_is_three_jobs(spark, vecs):
    # r11 (VERDICT #1): the small seed-draw path's whole staging —
    # declarative cartesian-packed seeds + fold + probe fan-out — is
    # ONE AQE-off checkpoint job under the sizes collect, then the
    # pair query pays broadcast build + final stage: 3 jobs total
    # (was 5: separate seed collect, checkpoint stage jobs, probe
    # exchange).  Count via a job group around build + execution.
    df, _ = vecs
    sc = spark.sparkContext
    group = "semdedup-jobs-pin"
    sc.setJobGroup(group, "pin")
    try:
        out = semantic_dedup_pairs(df, k=3, dim=DIM, max_iter=0)
        out.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    njobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert njobs <= 3, njobs


def test_semdedup_declarative_seed_edge_shapes(spark):
    # the r11 declarative seed path no longer early-returns on the
    # driver: empty inputs, fewer rows than k, and all-NULL vectors
    # must flow through the plan to the same (typed, empty/tiny)
    # results the literal path produced
    from flox_spark.operators.similarity import semantic_dedup

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert semantic_dedup_pairs(empty, k=4, max_iter=0, dim=DIM).collect() == []
    nulls = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<double>"
    )
    assert semantic_dedup_pairs(nulls, k=2, max_iter=0, dim=DIM).collect() == []
    two = spark.createDataFrame(
        [(1, [1.0] * DIM), (2, [1.0] * DIM)], "vec_id long, embedding array<double>"
    )
    pairs = semantic_dedup_pairs(two, k=4, threshold=0.9, max_iter=0, dim=DIM).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    kept = semantic_dedup(two, k=4, threshold=0.9, dim=DIM, max_iter=0).collect()
    assert [r["vec_id"] for r in kept] == [1]


@pytest.mark.parametrize("capped", [False, True])
def test_small_path_matches_general_path(spark, vecs, monkeypatch, capped):
    # the small path assembles seeds + fold and join + cosine +
    # threshold as one SQL statement each; with plan stats unknown the
    # general Column path runs instead.  Both must return identical
    # rows, uncapped and with one cell over max_cluster
    import hashlib

    from flox_spark.plans import util

    df, pdf = vecs
    k = 3
    max_cluster = None
    if capped:
        # cell sizes of the hash-draw seeds (as in _numpy_semdedup):
        # cap just below the one largest cell
        ids = pdf.vec_id.to_numpy()
        V = np.array([np.array(v) for v in pdf.embedding])
        order = sorted(
            range(len(ids)), key=lambda i: hashlib.md5(f"{ids[i]}:0".encode()).hexdigest()
        )
        cl = ((V[:, None, :] - V[order[:k]][None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        sizes = sorted(np.bincount(cl, minlength=k))
        assert sizes[-1] > sizes[-2] >= 2
        max_cluster = int(sizes[-1]) - 1
    kw = dict(k=k, threshold=-1.0, dim=DIM, max_iter=0, max_cluster=max_cluster)
    small = sorted(map(tuple, semantic_dedup_pairs(df, **kw).collect()))
    monkeypatch.setattr(util, "estimate_size_bytes", lambda _df: None)
    general = sorted(map(tuple, semantic_dedup_pairs(df, **kw).collect()))
    assert small == general and len(small) > 0
    if capped:
        uncapped = semantic_dedup_pairs(df, **{**kw, "max_cluster": None}).count()
        assert len(small) < uncapped
