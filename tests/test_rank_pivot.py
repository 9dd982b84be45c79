"""groupby_rank / groupby_pivot / shift-diff scans vs pandas."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from flox_spark import groupby_pivot, groupby_rank, groupby_scan


@pytest.fixture(scope="module")
def frame():
    rng = np.random.default_rng(7)
    n = 400
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 5, n),
            "v": rng.integers(0, 20, n).astype(float),  # many ties
            "t": np.arange(n),
        }
    )
    pdf.loc[rng.random(n) < 0.1, "v"] = np.nan
    return pdf


@pytest.mark.parametrize("method", ["average", "min", "max", "dense", "first"])
@pytest.mark.parametrize("ascending", [True, False])
def test_rank_matches_pandas(spark, frame, method, ascending):
    df = spark.createDataFrame(frame)
    kw = {"order_by": "t"} if method == "first" else {}
    got = (
        groupby_rank(df, "k", value="v", method=method, ascending=ascending, **kw)
        .toPandas()
        .sort_values("t")["rank"]
        .to_numpy(float)
    )
    want = frame.groupby("k")["v"].rank(method=method, ascending=ascending).to_numpy(float)
    assert np.allclose(got, want, equal_nan=True)


@pytest.mark.parametrize("na_option", ["top", "bottom"])
def test_rank_na_option(spark, frame, na_option):
    df = spark.createDataFrame(frame)
    got = (
        groupby_rank(df, "k", value="v", na_option=na_option)
        .toPandas()
        .sort_values("t")["rank"]
        .to_numpy(float)
    )
    want = frame.groupby("k")["v"].rank(na_option=na_option).to_numpy(float)
    assert np.allclose(got, want, equal_nan=True)


def test_rank_first_requires_order(spark, frame):
    df = spark.createDataFrame(frame)
    with pytest.raises(ValueError, match="order_by"):
        groupby_rank(df, "k", value="v", method="first")


@pytest.mark.parametrize("periods", [1, 2, -1])
def test_shift_diff_match_pandas(spark, frame, periods):
    df = spark.createDataFrame(frame)
    for func, pfn in (("shift", "shift"), ("diff", "diff")):
        got = (
            groupby_scan(
                df, "k", func=func, value="v", order_by="t",
                finalize_kwargs={"periods": periods},
            )
            .toPandas()
            .sort_values("t")[func]
            .to_numpy(float)
        )
        want = getattr(frame.groupby("k")["v"], pfn)(periods).to_numpy(float)
        assert np.allclose(got, want, equal_nan=True), (func, periods)


def test_shift_int_head_is_null(spark):
    # typed-column semantics: integer shift keeps the long dtype with
    # NULL heads (pandas would upcast to float64 + NaN)
    pdf = pd.DataFrame({"k": [0, 0], "v": pd.array([4, 5], dtype="int64"), "t": [0, 1]})
    out = groupby_scan(
        spark.createDataFrame(pdf), "k", func="shift", value="v", order_by="t"
    )
    assert dict(out.dtypes)["shift"] == "bigint"
    rows = {r["t"]: r["shift"] for r in out.collect()}
    assert rows == {0: None, 1: 4}


def test_pivot_matches_pandas(spark, frame):
    pdf = frame.assign(c=(frame["t"] % 3).map({0: "a", 1: "b", 2: "c"}))
    df = spark.createDataFrame(pdf)
    got = (
        groupby_pivot(df, "k", pivot="c", value="v", values=["a", "b", "c"], func="nansum")
        .toPandas()
        .set_index("k")
    )
    want = pdf.pivot_table(index="k", columns="c", values="v", aggfunc="sum")
    for c in ("a", "b", "c"):
        assert np.allclose(got[c].to_numpy(float), want[c].to_numpy(float), equal_nan=True)


def test_pivot_fill_and_undeclared_value_dropped(spark):
    pdf = pd.DataFrame({"k": [0, 0, 1], "c": ["x", "y", "x"], "v": [1.0, 2.0, 3.0]})
    out = groupby_pivot(
        spark.createDataFrame(pdf), "k", pivot="c", value="v",
        values=["x", "z"], func="nansum", fill_value=0.0,
    ).collect()
    rows = {r["k"]: (r["x"], r["z"]) for r in out}
    assert rows == {0: (1.0, 0.0), 1: (3.0, 0.0)}  # 'y' dropped, 'z' filled


def test_pivot_rejects_multistage(spark):
    pdf = pd.DataFrame({"k": [0], "c": ["x"], "v": [1.0]})
    with pytest.raises(ValueError, match="multi-stage"):
        groupby_pivot(
            spark.createDataFrame(pdf), "k", pivot="c", value="v",
            values=["x"], func="nanmode",
        )


def test_rank_single_exchange_plan(spark, frame, monkeypatch):
    # average/max tie handling must come from the reversed-order rank
    # over the SAME group-key partitioning — one hash exchange total,
    # never a second (keys, value)-partitioned shuffle.  A small input
    # runs the one-task plan (no exchange at all); the bound at 0 pins
    # the distributed plan.
    import flox_spark.plans.util as plan_util

    df = spark.createDataFrame(frame)

    def plan():
        return (
            groupby_rank(df, "k", value="v", method="average")
            ._jdf.queryExecution().executedPlan().toString()
        )

    assert "Exchange" not in plan()
    monkeypatch.setattr(plan_util, "SMALL_INPUT_MAX_BYTES", 0)
    assert plan().count("Exchange hashpartitioning") == 1


def test_rank_order_by_does_not_split_ties(spark):
    # regression: order_by is an occurrence tiebreak for 'first' ONLY;
    # average/min/dense must keep pandas tie blocks even when it is
    # passed
    pdf = pd.DataFrame({"k": [0, 0, 0], "v": [5.0, 5.0, 7.0], "t": [0, 1, 2]})
    df = spark.createDataFrame(pdf)
    for method, want in (
        ("average", [1.5, 1.5, 3.0]),
        ("min", [1.0, 1.0, 3.0]),
        ("dense", [1.0, 1.0, 2.0]),
    ):
        got = (
            groupby_rank(df, "k", value="v", method=method, order_by="t")
            .toPandas().sort_values("t")["rank"].tolist()
        )
        assert got == want, method


def test_pivot_finalize_kwargs_reach_the_reduction(spark):
    pdf = pd.DataFrame(
        {"k": [0] * 6, "c": ["a"] * 3 + ["b"] * 3, "v": [1.0, 2.0, 10.0, 5.0, 6.0, 7.0]}
    )
    out = groupby_pivot(
        spark.createDataFrame(pdf), "k", pivot="c", value="v", values=["a", "b"],
        func="nanquantile", finalize_kwargs={"q": 0.0},
    ).collect()[0]
    assert out["a"] == 1.0 and out["b"] == 5.0  # q=0 == min, not the median


def test_pct_change_matches_pandas(spark, frame):
    df = spark.createDataFrame(frame)
    got = (
        groupby_scan(df, "k", func="pct_change", value="v", order_by="t")
        .toPandas().sort_values("t")["pct_change"].to_numpy(float)
    )
    want = frame.groupby("k")["v"].pct_change(fill_method=None).to_numpy(float)
    # zero-lag divisions: pandas gives inf, try_divide gives NULL —
    # compare only where pandas is finite; NULL where pandas is inf/nan
    finite = np.isfinite(want)
    assert np.allclose(got[finite], want[finite], equal_nan=True)
    assert np.all(~finite[np.isfinite(got)] == False)


def test_rank_property_vs_pandas(spark):
    # randomized differential over all methods x na_options x orders:
    # duplicate-heavy integer values maximize tie blocks
    rng = np.random.default_rng(23)
    for trial in range(3):
        n = int(rng.integers(20, 120))
        pdf = pd.DataFrame(
            {
                "k": rng.integers(0, 3, n),
                "v": rng.integers(0, 6, n).astype(float),
                "t": np.arange(n),
            }
        )
        pdf.loc[rng.random(n) < 0.2, "v"] = np.nan
        df = spark.createDataFrame(pdf)
        for method in ("average", "min", "max", "dense", "first"):
            for asc in (True, False):
                for na in ("keep", "top", "bottom"):
                    kw = {"order_by": "t"} if method == "first" else {}
                    got = (
                        groupby_rank(
                            df, "k", value="v", method=method,
                            ascending=asc, na_option=na, **kw,
                        )
                        .toPandas().sort_values("t")["rank"].to_numpy(float)
                    )
                    want = (
                        pdf.groupby("k")["v"]
                        .rank(method=method, ascending=asc, na_option=na)
                        .to_numpy(float)
                    )
                    assert np.allclose(got, want, equal_nan=True), (
                        trial, method, asc, na,
                    )


@pytest.mark.parametrize("na_option", ["keep", "top", "bottom"])
@pytest.mark.parametrize("method", ["average", "min", "max", "dense", "first"])
def test_rank_pct_matches_pandas(spark, na_option, method):
    rng = np.random.default_rng(13)
    n = 300
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 4, n),
            "rid": range(n),
            # heavy ties + missing
            "v": rng.choice([1.0, 2.0, 2.0, 3.0, np.nan], n),
        }
    )
    from flox_spark import groupby_rank

    kw = dict(method=method, na_option=na_option, pct=True)
    if method == "first":
        got_df = groupby_rank(
            spark.createDataFrame(pdf), "k", value="v", order_by="rid", **kw
        )
    else:
        got_df = groupby_rank(spark.createDataFrame(pdf), "k", value="v", **kw)
    got = {r["rid"]: r["rank"] for r in got_df.collect()}
    exp = pdf.groupby("k")["v"].rank(**kw)
    for rid, e in zip(pdf.rid, exp):
        g = got[rid]
        if np.isnan(e):
            assert g is None, (rid, method, na_option)
        else:
            assert g == pytest.approx(e, rel=1e-12), (rid, method, na_option)


def test_value_counts_matches_pandas(spark):
    rng = np.random.default_rng(7)
    n = 500
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 3, n),
            "v": rng.choice(["a", "b", "c", None], n, p=[0.5, 0.3, 0.15, 0.05]),
        }
    )
    from flox_spark import groupby_value_counts

    df = spark.createDataFrame(pdf)
    got = {
        (r["k"], r["v"]): r["count"]
        for r in groupby_value_counts(df, "k", value="v").collect()
    }
    exp = pdf.groupby("k")["v"].value_counts()
    assert got == {(k, v): c for (k, v), c in exp.items()}
    # normalized
    gotn = {
        (r["k"], r["v"]): r["count"]
        for r in groupby_value_counts(df, "k", value="v", normalize=True).collect()
    }
    expn = pdf.groupby("k")["v"].value_counts(normalize=True)
    for key, p in expn.items():
        assert gotn[key] == pytest.approx(p, rel=1e-12), key
    # dropna=False keeps one missing row per group (pandas NaN row)
    gotna = {
        (r["k"], r["v"]): r["count"]
        for r in groupby_value_counts(df, "k", value="v", dropna=False).collect()
    }
    expna = pdf.groupby("k")["v"].value_counts(dropna=False)
    assert gotna == {
        (k, None if (isinstance(v, float) and np.isnan(v)) or v is None else v): c
        for (k, v), c in expna.items()
    }


def test_value_counts_normalize_dropna_false(spark):
    pdf = pd.DataFrame(
        {"k": [0] * 8, "v": ["a", "a", "b", None, None, "a", "c", None]}
    )
    from flox_spark import groupby_value_counts

    got = {
        r["v"]: r["count"]
        for r in groupby_value_counts(
            spark.createDataFrame(pdf), "k", value="v", normalize=True, dropna=False
        ).collect()
    }
    exp = pdf.groupby("k")["v"].value_counts(normalize=True, dropna=False)
    for (_, v), p in exp.items():
        key = None if (isinstance(v, float) and np.isnan(v)) or v is None else v
        assert got[key] == pytest.approx(p, rel=1e-12), v
