import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from flox_spark import groupby_reduce
from flox_spark.operators import grouped_topk
from flox_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def test_topk_matches_pandas(spark):
    orders = load_table(spark, SF, "orders")
    got = grouped_topk(
        orders, "o_orderstatus", value="o_totalprice", k=3, tiebreak="o_orderkey"
    ).select("o_orderstatus", "o_orderkey", "o_totalprice")
    pdf = orders.select("o_orderstatus", "o_orderkey", "o_totalprice").toPandas()
    want = (
        pdf.sort_values(["o_totalprice", "o_orderkey"], ascending=[False, True])
        .groupby("o_orderstatus")
        .head(3)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.itertuples(index=False)))


def test_topk_ascending_and_nan_skip(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 4 + ["b"] * 2,
            "id": range(6),
            "v": [3.0, np.nan, 1.0, 2.0, np.nan, 5.0],
        }
    )
    out = grouped_topk(
        spark.createDataFrame(pdf), "k", value="v", k=2, ascending=True, tiebreak="id"
    ).collect()
    got = {(r["k"], r["id"]) for r in out}
    # NaNs dropped; smallest two of a = ids 2,3; b has one non-NaN row
    assert got == {("a", 2), ("a", 3), ("b", 5)}


def test_topk_window_group_limit_plan(spark, monkeypatch):
    import flox_spark.plans.util as plan_util

    # the distributed plan, where the pre-trim runs below the exchange
    # (a small input runs as one task, no exchange)
    monkeypatch.setattr(plan_util, "SMALL_INPUT_MAX_BYTES", 0)
    orders = load_table(spark, SF, "orders")
    plan = (
        grouped_topk(orders, "o_orderstatus", value="o_totalprice", k=3, tiebreak="o_orderkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_nunique_reduction(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 5 + ["b"] * 3,
            "v": [1.0, 1.0, 2.0, np.nan, np.nan, 7.0, 7.0, 7.0],
        }
    )
    df = spark.createDataFrame(pdf)
    skip = {r["k"]: r["nannunique"] for r in groupby_reduce(df, "k", func="nannunique", value="v").collect()}
    assert skip == {"a": 2, "b": 1}
    # plain variant counts the missing class as one value (pandas
    # nunique(dropna=False))
    plain = {r["k"]: r["nunique"] for r in groupby_reduce(df, "k", func="nunique", value="v").collect()}
    assert plain == {"a": 3, "b": 1}


def test_nunique_vs_pandas_on_events(spark):
    ev = load_table(spark, SF, "events")
    got = {
        r["user_id"]: r["nannunique"]
        for r in groupby_reduce(ev, "user_id", func="nannunique", value="event_type").collect()
    }
    pdf = ev.select("user_id", "event_type").toPandas()
    want = pdf.groupby("user_id")["event_type"].nunique().to_dict()
    assert got == want


def test_approx_nunique_accuracy_and_plan(spark):
    ev = load_table(spark, SF, "events")
    exact = {
        r["user_id"]: r["nannunique"]
        for r in groupby_reduce(ev, "user_id", func="nannunique", value="event_id").collect()
    }
    approx = {
        r["user_id"]: r["approx_nunique"]
        for r in groupby_reduce(
            ev, "user_id", func="approx_nunique", value="event_id",
            finalize_kwargs={"rsd": 0.01},
        ).collect()
    }
    assert set(exact) == set(approx)
    for g in exact:
        assert abs(approx[g] - exact[g]) <= max(2, 0.05 * exact[g]), g
    # the sketch is one regular hash aggregation: no Expand stage
    plan = (
        groupby_reduce(ev, "user_id", func="approx_nunique", value="event_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" not in plan
