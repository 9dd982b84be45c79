"""groupby_corr (pearson/spearman/cov) and time_weighted_mean."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from flox_spark import groupby_corr, time_weighted_mean


@pytest.fixture(scope="module")
def xy():
    rng = np.random.default_rng(3)
    n = 400
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 4, n),
            "x": rng.normal(size=n),
            "y": rng.normal(size=n),
        }
    )
    pdf["y"] += pdf["x"] * 0.5
    # ties for the spearman rank path, and pairwise missing
    pdf.loc[rng.random(n) < 0.1, "x"] = np.nan
    pdf.loc[rng.random(n) < 0.1, "y"] = np.nan
    pdf.loc[rng.random(n) < 0.1, "x"] = 1.5
    return pdf


def test_pearson_matches_pandas(spark, xy):
    df = spark.createDataFrame(xy)
    got = {
        r["k"]: (r["corr"], r["cov"], r["n_pairs"])
        for r in groupby_corr(df, "k", x="x", y="y", with_cov=True).collect()
    }
    for k, g in xy.groupby("k"):
        sub = g.dropna(subset=["x", "y"])
        c, cv, n = got[k]
        assert c == pytest.approx(sub["x"].corr(sub["y"]), rel=1e-12)
        assert cv == pytest.approx(sub["x"].cov(sub["y"]), rel=1e-12)
        assert n == len(sub)


def test_pearson_cov_ddof0(spark, xy):
    df = spark.createDataFrame(xy)
    got = {
        r["k"]: r["cov"]
        for r in groupby_corr(df, "k", x="x", y="y", with_cov=True, ddof=0).collect()
    }
    for k, g in xy.groupby("k"):
        sub = g.dropna(subset=["x", "y"])
        assert got[k] == pytest.approx(sub["x"].cov(sub["y"], ddof=0), rel=1e-12)


def test_spearman_matches_rank_pearson(spark, xy):
    # spearman == pearson of average ranks over the pairwise-complete
    # set (pandas/scipy definition, tie-aware)
    df = spark.createDataFrame(xy)
    got = {
        r["k"]: r["corr"]
        for r in groupby_corr(df, "k", x="x", y="y", method="spearman").collect()
    }
    for k, g in xy.groupby("k"):
        sub = g.dropna(subset=["x", "y"])
        want = sub["x"].rank().corr(sub["y"].rank())
        assert got[k] == pytest.approx(want, rel=1e-12)


def test_corr_degenerate_groups(spark):
    pdf = pd.DataFrame(
        {
            "k": [0, 1, 1, 2, 2],
            "x": [1.0, 1.0, 2.0, 3.0, 3.0],  # k=2: zero x-variance
            "y": [1.0, 1.0, 4.0, 1.0, 2.0],
        }
    )
    got = {r["k"]: r["corr"] for r in groupby_corr(spark.createDataFrame(pdf), "k", x="x", y="y").collect()}
    assert got[0] is None  # single pair
    assert got[1] == pytest.approx(1.0)
    assert got[2] is None or (isinstance(got[2], float) and np.isnan(got[2]))  # 0 variance


def test_corr_rejects_bad_method(spark):
    pdf = pd.DataFrame({"k": [0], "x": [1.0], "y": [1.0]})
    with pytest.raises(ValueError, match="pearson"):
        groupby_corr(spark.createDataFrame(pdf), "k", x="x", y="y", method="kendall")
    with pytest.raises(ValueError, match="with_cov"):
        groupby_corr(
            spark.createDataFrame(pdf), "k", x="x", y="y",
            method="spearman", with_cov=True,
        )


def test_twa_step_series(spark):
    tdf = pd.DataFrame(
        {
            "k": [0, 0, 0, 1],
            "v": [10.0, 20.0, 99.0, 5.0],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00",
                    "2024-01-01 00:10",
                    "2024-01-01 00:30",
                    "2024-01-01 00:00",
                ]
            ),
        }
    )
    out = {
        r["k"]: r["twa"]
        for r in time_weighted_mean(
            spark.createDataFrame(tdf), "k", value="v", ts="ts"
        ).collect()
    }
    # 10 for 10min, 20 for 20min; the last sample carries no weight
    assert out[0] == pytest.approx((10 * 10 + 20 * 20) / 30)
    assert out[1] is None  # single sample: no span


def test_twa_skips_missing_values_locf(spark):
    tdf = pd.DataFrame(
        {
            "k": [0, 0, 0],
            "v": [10.0, np.nan, 30.0],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 00:10", "2024-01-01 00:20"]
            ),
        }
    )
    out = time_weighted_mean(spark.createDataFrame(tdf), "k", value="v", ts="ts").collect()
    # the NaN row drops; 10 holds for the full 20 minutes (LOCF)
    assert out[0]["twa"] == pytest.approx(10.0)


def test_twa_constant_equals_value(spark):
    rng = np.random.default_rng(5)
    ts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        np.sort(rng.integers(0, 86_400, 50)), unit="s"
    )
    tdf = pd.DataFrame({"k": 0, "v": 7.25, "ts": ts})
    out = time_weighted_mean(spark.createDataFrame(tdf), "k", value="v", ts="ts").collect()
    assert out[0]["twa"] == pytest.approx(7.25)


def test_twa_zero_span_and_all_missing_groups(spark):
    # regression: identical timestamps (zero span) must give NULL, not
    # an ANSI DIVIDE_BY_ZERO; an all-missing group must still be
    # PRESENT in the output with a NULL result
    tdf = pd.DataFrame(
        {
            "k": [0, 0, 1, 1, 2],
            "v": [1.0, 2.0, np.nan, np.nan, 3.0],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00",
                    "2024-01-01 00:00",  # same instant: zero span
                    "2024-01-01 00:00",
                    "2024-01-01 00:10",
                    "2024-01-01 00:00",
                ]
            ),
        }
    )
    rows = {
        r["k"]: r["twa"]
        for r in time_weighted_mean(spark.createDataFrame(tdf), "k", value="v", ts="ts").collect()
    }
    assert set(rows) == {0, 1, 2}
    assert rows[0] is None and rows[1] is None and rows[2] is None


def test_streaming_corr_equals_batch(spark):
    # windowed streaming pearson over a 2-batch file stream must equal
    # the batch groupby_corr over the same windows (mergeable
    # co-moment state — cross-batch merge exercised by the split)
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import functions as F
    from flox_spark.streaming import groupby_corr_stream

    rng = np.random.default_rng(11)
    n = 200
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 2 * 3600, n), unit="s"),
            "k": rng.integers(0, 3, n),
            "x": rng.normal(size=n),
            "y": rng.normal(size=n),
        }
    )
    pdf["y"] += 0.5 * pdf["x"]
    tmp = tempfile.mkdtemp(prefix="flox_scorr_")
    try:
        spark.createDataFrame(pdf.iloc[:100]).coalesce(1).write.parquet(f"{tmp}/in/f0")
        _time.sleep(1.1)
        spark.createDataFrame(pdf.iloc[100:]).coalesce(1).write.parquet(f"{tmp}/in/f1")
        schema = spark.read.parquet(f"{tmp}/in/f0").schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/*")
        )
        out = groupby_corr_stream(stream, "k", x="x", y="y", time_col="ts", window="1 hour")
        q = (
            out.writeStream.format("memory").queryName("flox_scorr")
            .outputMode("complete").option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {
            (r["window_start"], r["k"]): r["corr"]
            for r in spark.sql("SELECT * FROM flox_scorr").collect()
        }
        # batch reference over the same derived windows
        from flox_spark import groupby_corr

        batch = spark.createDataFrame(pdf).withColumn(
            "w", F.window("ts", "1 hour").start
        )
        want = {
            (r["w"], r["k"]): r["corr"]
            for r in groupby_corr(batch, "w", "k", x="x", y="y").collect()
        }
        assert set(got) == set(want)
        for key in want:
            assert got[key] == pytest.approx(want[key], rel=1e-9), key
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_twa_timestamp_ntz_order_column(spark):
    # pandas/arrow-written parquet arrives as TIMESTAMP_NTZ, which
    # unix_micros rejects without a cast
    from pyspark.sql import functions as F

    tdf = pd.DataFrame(
        {
            "k": [0, 0, 0],
            "v": [10.0, 20.0, 99.0],
            "ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:10", "2024-01-01 00:30"]),
        }
    )
    df = spark.createDataFrame(tdf).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    out = time_weighted_mean(df, "k", value="v", ts="ts").collect()
    assert out[0]["twa"] == pytest.approx((10 * 10 + 20 * 20) / 30)
