import math

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from flox_spark import groupby_transform, standardize
from flox_spark.sources import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tdata():
    rng = np.random.default_rng(23)
    n = 300
    pdf = pd.DataFrame(
        {"k": rng.integers(0, 5, n), "rid": range(n), "v": rng.normal(size=n) * 7}
    )
    pdf.loc[rng.random(n) < 0.1, "v"] = np.nan
    return pdf


def test_transform_matches_pandas(spark, tdata):
    df = spark.createDataFrame(tdata)
    got = {
        r["rid"]: r["nanmean_v"]
        for r in groupby_transform(df, "k", func="nanmean", value="v").collect()
    }
    want = tdata.groupby("k")["v"].transform("mean")
    for rid, w in zip(tdata["rid"], want):
        assert got[rid] == pytest.approx(w, rel=1e-9), rid


def test_transform_row_count_preserved_and_broadcast(spark):
    li = load_table(spark, SF, "lineitem")
    out = groupby_transform(li, "l_returnflag", func="nansum", value="l_quantity",
                            alias="grp_qty")
    assert out.count() == li.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_standardize_matches_pandas(spark, tdata):
    df = spark.createDataFrame(tdata)
    got = {r["rid"]: r["v_z"] for r in standardize(df, "k", value="v").collect()}
    grp = tdata.groupby("k")["v"]
    want = (tdata["v"] - grp.transform("mean")) / grp.transform(lambda s: s.std(ddof=0))
    for rid, w in zip(tdata["rid"], want):
        g = got[rid]
        if pd.isna(w):
            assert g is None or math.isnan(g), rid
        else:
            assert g == pytest.approx(w, rel=1e-9), rid


def test_standardize_single_shuffle(spark, tdata, monkeypatch):
    import flox_spark.plans.util as plan_util

    # the distributed plan (a small input runs as one task, no exchange)
    monkeypatch.setattr(plan_util, "SMALL_INPUT_MAX_BYTES", 0)
    df = spark.createDataFrame(tdata)
    plan = standardize(df, "k", value="v")._jdf.queryExecution().executedPlan().toString()
    # one hash aggregation pass feeds both stats (multi API); the join
    # back is broadcast — no second fact-table shuffle
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan


def test_stratified_sampling_rates(spark):
    from flox_spark.operators import sample_stratified

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    out = sample_stratified(
        docs, "lang", {"en": 0.2, "de": 1.0}, id_col="doc_id", default_fraction=0.0, seed="t"
    )
    got = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got.get("de") == sizes["de"]  # fraction 1.0 keeps everything
    assert set(got) <= {"en", "de"}  # default 0 drops other strata
    n_en, exp = got.get("en", 0), sizes["en"] * 0.2
    assert abs(n_en - exp) < 4 * (sizes["en"] * 0.2 * 0.8) ** 0.5 + 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_apply_batched_multikey_windowed_op_trap(spark):
    # r13 VERDICT #6: demonstrate the pandas multi-key windowed-op
    # alignment trap THROUGH the hatch, and pin the documented
    # realignment recipe.  GroupBy(sort=False).<windowed-op>() orders
    # output groups by per-level first-appearance codes, so with a
    # multi-key grouper whose second level reuses values, positions
    # come back shuffled — the naive to_numpy() write misassigns rows
    # while the droplevel/sort_index recipe is correct.
    import numpy as np
    import pandas as pd

    from flox_spark.transform import groupby_apply_batched

    rows = []
    # the trigger shape (r13 SCALE.md): DIFFERENT second-level key
    # subsets per first-level key, so a later first-level key's
    # smaller b value gets a LARGER first-appearance code than an
    # earlier-seen bigger b — the harness sorts each partition by
    # (keys, order), so pandas' code-ordered output then disagrees
    # with frame order.  Many first-level keys so every shuffle
    # partition deterministically holds both subset shapes.
    for i in range(40):
        a = f"k{i:02d}"
        bs = [2, 3] if i % 2 == 0 else [1, 3]
        for b in bs:
            for t in range(4):
                rows.append((a, b, t, float(10 * b + t)))
    pdf = pd.DataFrame(rows, columns=["a", "b", "t", "v"])
    df = spark.createDataFrame(pdf)
    keys = ["a", "b"]
    schema = "a string, b bigint, t bigint, v double, naive double, good double"

    def fn(p):
        p = p.reset_index(drop=True)
        res = p.groupby(keys, sort=False)["v"].ewm(alpha=0.5).mean()
        p["naive"] = res.to_numpy()  # the trap: trusts output order
        p["good"] = (
            res.droplevel(list(range(len(keys)))).sort_index().to_numpy()
        )
        return p

    out = groupby_apply_batched(
        df, *keys, fn=fn, schema=schema, order_by="t"
    ).collect()
    # golden: per-(a,b) pandas ewm in isolation
    want = {}
    for (a, b), g in pdf.groupby(["a", "b"]):
        g = g.sort_values("t")
        for t, y in zip(g["t"], g["v"].ewm(alpha=0.5).mean()):
            want[(a, b, t)] = y
    good_ok = all(
        abs(r["good"] - want[(r["a"], r["b"], r["t"])]) < 1e-12 for r in out
    )
    naive_bad = any(
        abs(r["naive"] - want[(r["a"], r["b"], r["t"])]) > 1e-9 for r in out
    )
    assert good_ok, "documented realignment recipe must be exact"
    assert naive_bad, (
        "the naive positional write should demonstrate the trap on "
        "this shape (if pandas changed behavior, revisit the "
        "groupby_apply_batched docstring warning)"
    )
