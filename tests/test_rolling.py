import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from flox_spark import groupby_rolling


@pytest.fixture(scope="module")
def frame(spark):
    rng = np.random.default_rng(11)
    n = 400
    pdf = pd.DataFrame(
        {
            "g": rng.integers(0, 5, n),
            "ts": pd.Timestamp("2024-03-01")
            + pd.to_timedelta(rng.integers(0, 72 * 3600, n), unit="s"),
            "v": rng.normal(size=n),
        }
    )
    # sprinkle NaNs; unique (g, ts) keeps results comparable with
    # pandas (both ROWS frames and pandas' positional time-lookback
    # are tie-order-dependent, while Spark RANGE frames include ALL
    # tied rows — a documented semantic split, not a bug)
    pdf.loc[::17, "v"] = np.nan
    pdf = pdf.drop_duplicates(["g", "ts"]).reset_index(drop=True)
    return pdf, spark.createDataFrame(pdf)


def _pandas_rolling(pdf, window, min_periods, func):
    out = []
    for g, sub in pdf.sort_values(["g", "ts"]).groupby("g"):
        s = sub.set_index("ts")["v"]
        r = s.rolling(window, min_periods=min_periods)
        got = getattr(r, func)()
        out.append(pd.DataFrame({"g": g, "ts": sub["ts"].values, "roll": got.values}))
    return pd.concat(out).reset_index(drop=True)


@pytest.mark.parametrize("func", ["sum", "mean", "min", "max", "count", "std"])
def test_time_window_matches_pandas(spark, frame, func):
    pdf, df = frame
    got = (
        groupby_rolling(df, "g", order_by="ts", aggs={"roll": (func, "v")}, window="2h")
        .orderBy("g", "ts")
        .toPandas()
    )
    want = _pandas_rolling(pdf, "2h", 1, func)
    for a, b in zip(got["roll"].tolist(), want["roll"].tolist()):
        if b != b:  # pandas NaN (e.g. std of 1 value)
            assert a is None or a != a
        else:
            assert a == pytest.approx(b, rel=1e-12), func


@pytest.mark.parametrize("func", ["sum", "mean", "count"])
def test_row_window_matches_pandas(spark, frame, func):
    pdf, df = frame
    got = (
        groupby_rolling(df, "g", order_by="ts", aggs={"roll": (func, "v")}, window=5)
        .orderBy("g", "ts")
        .toPandas()
    )
    want = _pandas_rolling(pdf, 5, 1, func)
    for a, b in zip(got["roll"].tolist(), want["roll"].tolist()):
        if b != b:
            assert a is None or a != a
        else:
            assert a == pytest.approx(b, rel=1e-12), func


def test_min_periods_masks(spark, frame):
    pdf, df = frame
    got = (
        groupby_rolling(
            df, "g", order_by="ts", aggs={"roll": ("mean", "v")}, window=4, min_periods=4
        )
        .orderBy("g", "ts")
        .toPandas()
    )
    # early rows of each group must be NULL (fewer than 4 present)
    first_rows = got.groupby("g").head(1)
    assert first_rows["roll"].isna().all()


def test_multiple_aggs_one_window_exec(spark, frame):
    _, df = frame
    out = groupby_rolling(
        df,
        "g",
        order_by="ts",
        aggs={"s": ("sum", "v"), "m": ("mean", "v"), "c": ("count", "v")},
        window="1h",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # all three aggregates share one window spec -> exactly one Window
    # operator, one exchange
    assert plan.count("Window") - plan.count("WindowGroupLimit") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_rejects_bad_args(spark, frame):
    _, df = frame
    with pytest.raises(ValueError, match="fixed-width"):
        groupby_rolling(df, "g", order_by="ts", aggs={"r": ("sum", "v")}, window="1mo")
    with pytest.raises(ValueError, match="unknown rolling func"):
        groupby_rolling(df, "g", order_by="ts", aggs={"r": ("prod", "v")}, window=3)
    with pytest.raises(ValueError, match="positive"):
        groupby_rolling(df, "g", order_by="ts", aggs={"r": ("sum", "v")}, window=0)
    with pytest.raises(ValueError, match="timestamp"):
        groupby_rolling(df, "g", order_by="v", aggs={"r": ("sum", "v")}, window="1h")


def test_numeric_order_row_window(spark):
    # row windows work over any orderable order column, not just time
    pdf = pd.DataFrame({"g": [0] * 6, "pos": range(6), "v": [1.0, 2, 3, 4, 5, 6]})
    df = spark.createDataFrame(pdf)
    got = (
        groupby_rolling(df, "g", order_by="pos", aggs={"r": ("sum", "v")}, window=3)
        .orderBy("pos")
        .toPandas()["r"]
        .tolist()
    )
    assert got == [1.0, 3.0, 6.0, 9.0, 12.0, 15.0]


def test_rolling_median_matches_pandas(spark):
    import numpy as np

    rng = np.random.default_rng(1)
    pdf = pd.DataFrame(
        {"k": rng.integers(0, 3, 200), "v": rng.normal(size=200), "t": range(200)}
    )
    pdf.loc[rng.random(200) < 0.1, "v"] = np.nan
    df = spark.createDataFrame(pdf)
    got = (
        groupby_rolling(df, "k", order_by="t", aggs={"m": ("median", "v")}, window=7)
        .toPandas().sort_values("t")["m"].to_numpy()
    )
    want = (
        pdf.groupby("k")["v"].rolling(7, min_periods=1).median()
        .reset_index(level=0, drop=True).sort_index().to_numpy()
    )
    assert np.allclose(got, want, equal_nan=True)


def test_rolling_median_approx_plan_and_accuracy(spark):
    # approx=True must (a) swap the exact frame-buffering percentile
    # for the KLL sketch in the plan — the giant-window OOM guard —
    # and (b) stay close to the exact result at the default accuracy
    rng = np.random.default_rng(11)
    n = 3000
    pdf = pd.DataFrame(
        {"k": rng.integers(0, 3, n), "t": np.arange(n), "v": rng.normal(size=n)}
    )
    df = spark.createDataFrame(pdf)
    exact = groupby_rolling(
        df, "k", order_by="t", aggs={"med": ("median", "v")}, window=50
    )
    approx = groupby_rolling(
        df, "k", order_by="t", aggs={"med": ("median", "v")}, window=50, approx=True
    )
    plan_a = approx._jdf.queryExecution().executedPlan().toString()
    assert "approx_percentile" in plan_a or "percentile_approx" in plan_a
    assert "ObjectHashAggregate" not in plan_a
    plan_e = exact._jdf.queryExecution().executedPlan().toString()
    assert "approx_percentile" not in plan_e and "percentile_approx" not in plan_e
    e = {r["t"]: r["med"] for r in exact.collect()}
    a = {r["t"]: r["med"] for r in approx.collect()}
    assert set(e) == set(a)
    # KLL at accuracy=10000 on 50-row frames is exact up to rank
    # rounding: allow a small quantile-neighborhood tolerance
    diffs = [abs(e[t] - a[t]) for t in e]
    # rank rounding can land a frame's sketch on a neighboring order
    # statistic; on N(0,1) data adjacent ranks in a 50-row frame can
    # sit ~1 apart at the tails
    assert np.median(diffs) < 0.1 and max(diffs) < 2.0


def test_row_window_timestamp_ntz_order(spark, frame):
    # a TIMESTAMP_NTZ order column (pandas/arrow-written parquet)
    # orders the row-count window like its TIMESTAMP twin
    pdf, df = frame
    ntz = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    assert dict(ntz.dtypes)["ts"] == "timestamp_ntz"
    got = (
        groupby_rolling(ntz, "g", order_by="ts", aggs={"roll": ("sum", "v")}, window=5)
        .orderBy("g", "ts")
        .toPandas()
    )
    want = _pandas_rolling(pdf, 5, 1, "sum")
    for a, b in zip(got["roll"].tolist(), want["roll"].tolist()):
        if b != b:
            assert a is None or a != a
        else:
            assert a == pytest.approx(b, rel=1e-12)
