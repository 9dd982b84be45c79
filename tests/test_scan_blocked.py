"""Blocked (skew-path) scans must equal the plain window scans
exactly — including null runs straddling block boundaries."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from flox_spark import groupby_scan, groupby_scan_blocked


@pytest.fixture(scope="module")
def skew_df(spark):
    rng = np.random.default_rng(21)
    n = 5000
    # one giant group (90%) + several small ones; 30% missing values
    k = np.where(rng.random(n) < 0.9, 0, rng.integers(1, 6, n))
    v = rng.normal(size=n)
    v[rng.random(n) < 0.3] = np.nan
    pdf = pd.DataFrame({"idx": np.arange(n, dtype=np.int64), "k": k, "v": v})
    return spark.createDataFrame(pdf).repartition(8)


@pytest.mark.parametrize("func", ["nancumsum", "cumsum", "cumcount", "ffill", "bfill", "cumprod", "nancumprod"])
@pytest.mark.parametrize("num_blocks", [1, 7, 32])
def test_blocked_equals_plain(spark, skew_df, func, num_blocks):
    plain = {
        r["idx"]: r[func]
        for r in groupby_scan(skew_df, "k", func=func, value="v", order_by="idx").collect()
    }
    blocked = {
        r["idx"]: r[func]
        for r in groupby_scan_blocked(
            skew_df, "k", func=func, value="v", order_by="idx", num_blocks=num_blocks
        ).collect()
    }
    assert set(plain) == set(blocked)
    import math

    for i, w in plain.items():
        g = blocked[i]
        if w is None:
            assert g is None, (i, g, w)
        elif isinstance(w, float) and math.isnan(w):
            assert isinstance(g, float) and math.isnan(g), (i, g, w)
        else:
            assert g == pytest.approx(w, rel=1e-9, abs=1e-9), (i, g, w)


def test_blocked_rejects_unsupported(spark, skew_df):
    with pytest.raises(ValueError, match="blocked scan supports"):
        groupby_scan_blocked(skew_df, "k", func="argmax", value="v", order_by="idx")


def test_blocked_cumsum_int_poison_is_null(spark):
    # plain cumsum on ints: positions at-or-after a NULL emit NULL
    # (never CAST(NaN AS BIGINT) == 0), matching groupby_scan
    pdf = pd.DataFrame({"idx": range(6), "k": [0] * 6,
                        "v": pd.array([1, 2, None, 4, 5, 6], dtype="Int64")})
    df = spark.createDataFrame(pdf)
    plain = {r["idx"]: r["cumsum"] for r in
             groupby_scan(df, "k", func="cumsum", value="v", order_by="idx").collect()}
    blocked = {r["idx"]: r["cumsum"] for r in
               groupby_scan_blocked(df, "k", func="cumsum", value="v",
                                    order_by="idx", num_blocks=3).collect()}
    assert plain == blocked
    assert blocked[1] == 3 and blocked[2] is None and blocked[5] is None


def test_blocked_single_row_group(spark):
    pdf = pd.DataFrame({"idx": [0], "k": [0], "v": [1.5]})
    df = spark.createDataFrame(pdf)
    r = groupby_scan_blocked(df, "k", func="nancumsum", value="v", order_by="idx").collect()
    assert r[0]["nancumsum"] == 1.5


@pytest.mark.parametrize("func", ["cummax", "cummin", "nancumprod"])
def test_blocked_extrema_prod(spark, skew_df, func):
    from flox_spark import groupby_scan
    # nancumprod on normals overflows nothing; use abs+0.5..1.5 range to
    # keep products finite
    from pyspark.sql import functions as F
    df = skew_df.withColumn("v", F.abs(F.col("v")) % 1.0 + 0.5) if func == "nancumprod" else skew_df
    plain = {r["idx"]: r[func] for r in
             groupby_scan(df, "k", func=func, value="v", order_by="idx").collect()}
    blocked = {r["idx"]: r[func] for r in
               groupby_scan_blocked(df, "k", func=func, value="v", order_by="idx", num_blocks=9).collect()}
    for i, w in plain.items():
        g = blocked[i]
        if w is None:
            assert g is None, (i, g, w)
        else:
            assert g == pytest.approx(w, rel=1e-9, abs=1e-12), (i, g, w)


def test_blocked_bursty_order(spark):
    # bursty order column (timestamp-cluster shape): 95% of rows sit in
    # dense runs, the rest behind huge gaps.  Uniform [min,max] ranges
    # would dump nearly all rows into one block; quantile breaks keep
    # populations balanced AND the result must still equal the plain scan.
    rng = np.random.default_rng(5)
    n = 4000
    gaps = np.where(rng.random(n) < 0.95, 1, 10_000_000)
    o = np.cumsum(gaps).astype(np.int64)  # strictly increasing (unique)
    k = rng.integers(0, 3, n)
    v = rng.normal(size=n)
    v[rng.random(n) < 0.2] = np.nan
    pdf = pd.DataFrame({"o": o, "k": k, "v": v})
    df = spark.createDataFrame(pdf).repartition(8)
    plain = {r["o"]: r["nancumsum"] for r in
             groupby_scan(df, "k", func="nancumsum", value="v", order_by="o").collect()}
    blocked = {r["o"]: r["nancumsum"] for r in
               groupby_scan_blocked(df, "k", func="nancumsum", value="v", order_by="o",
                                    num_blocks=8).collect()}
    for i, w in plain.items():
        assert blocked[i] == pytest.approx(w, rel=1e-9, abs=1e-9), i
    # balance: the quantile breaks split the bursty axis into blocks
    # none of which holds more than ~2x the even share
    from pyspark.sql import functions as F
    breaks = df.agg(F.percentile_approx(
        "o", F.array(*[F.lit(i / 8) for i in range(1, 8)]), F.lit(10000)).alias("b")
    ).first()["b"]
    blk = np.searchsorted(np.array(breaks), o, side="left")  # = #{breaks < x}
    counts = np.bincount(blk, minlength=8)
    assert counts.max() <= 2 * n / 8, counts


def test_blocked_timestamp_order(spark):
    # datetime order columns numericize through the int64 view instead
    # of failing on interval arithmetic
    import datetime as dt
    n = 200
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame({
        "ts": [dt.datetime(2024, 1, 1) + dt.timedelta(minutes=int(i)) for i in range(n)],
        "k": rng.integers(0, 2, n),
        "v": rng.normal(size=n),
    })
    df = spark.createDataFrame(pdf)
    plain = {r["ts"]: r["nancumsum"] for r in
             groupby_scan(df, "k", func="nancumsum", value="v", order_by="ts").collect()}
    blocked = {r["ts"]: r["nancumsum"] for r in
               groupby_scan_blocked(df, "k", func="nancumsum", value="v", order_by="ts",
                                    num_blocks=4).collect()}
    for i, w in plain.items():
        assert blocked[i] == pytest.approx(w, rel=1e-9), i


def test_reindex_broadcast_heuristic(spark, monkeypatch):
    # the forced hint is dropped for huge DECLARED grids (Catalyst may
    # still choose to broadcast a genuinely small side on its own)
    import flox_spark.plans.util as plan_util
    from flox_spark.core import _should_broadcast_reindex
    from flox_spark import groupby_reduce, set_options

    # the distributed plan (a small input joins its one-partition grid
    # with no exchange and no broadcast)
    monkeypatch.setattr(plan_util, "SMALL_INPUT_MAX_BYTES", 0)

    assert _should_broadcast_reindex(1000.0)
    assert not _should_broadcast_reindex(2e7)
    with set_options(broadcast_reindex=False):
        assert not _should_broadcast_reindex(10.0)

    # and the small-grid plan does carry the broadcast
    pdf = pd.DataFrame({"k1": [0, 1], "v": [1.0, 2.0]})
    df = spark.createDataFrame(pdf)
    small = groupby_reduce(
        df, "k1", func="nansum", value="v",
        expected_groups=[0, 1, 2], fill_value=0.0, sort=False,
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in small or "BroadcastExchange" in small


# ---- parity matrix: blocked plan vs window plan, dtype and value ----

import datetime as _dt
import math

from pyspark.sql import types as T

from flox_spark import groupby_ewm, groupby_shift_blocked
from flox_spark.scan_blocked import _SUPPORTED

_T0 = _dt.datetime(2024, 1, 1)
_MATRIX_TYPES = {
    "float64": T.DoubleType(),
    "float32": T.FloatType(),
    "int64": T.LongType(),
    "bool": T.BooleanType(),
    "timestamp": T.TimestampType(),
}
# sums and products of instants have no meaning; every other scan does
_TIMESTAMP_FUNCS = ("cumcount", "ffill", "bfill", "cummax", "cummin")


def _matrix_value(dtype, rng):
    if rng.random() < 0.15:
        return None
    if dtype == "float64":
        return float("nan") if rng.random() < 0.3 else float(rng.uniform(0.5, 1.5))
    if dtype == "float32":
        return float(np.float32(rng.uniform(0.5, 1.5)))
    if dtype == "int64":
        return int(rng.integers(-3, 4))
    if dtype == "bool":
        return bool(rng.random() < 0.6)
    return _T0 + _dt.timedelta(minutes=int(rng.integers(0, 10_000)))


_matrix_frames: dict = {}


def _matrix_frame(spark, dtype):
    if dtype not in _matrix_frames:
        rng = np.random.default_rng(17)
        n = 240
        t = rng.permutation(n)
        rows = [(f"g{i % 3}", int(t[i]), _matrix_value(dtype, rng)) for i in range(n)]
        schema = T.StructType([
            T.StructField("k", T.StringType()),
            T.StructField("t", T.LongType()),
            T.StructField("v", _MATRIX_TYPES[dtype]),
        ])
        _matrix_frames[dtype] = spark.createDataFrame(rows, schema).cache()
    return _matrix_frames[dtype]


def _same_cell(g, w):
    if w is None:
        return g is None
    if isinstance(w, float):
        if math.isnan(w):
            return isinstance(g, float) and math.isnan(g)
        return g is not None and g == pytest.approx(w, rel=1e-9, abs=0)
    return g == w


def _assert_same(got, want, out, key):
    assert got.schema[out].dataType == want.schema[out].dataType
    w = {tuple(r[c] for c in key): r[out] for r in want.collect()}
    g = {tuple(r[c] for c in key): r[out] for r in got.collect()}
    assert set(g) == set(w)
    bad = [(k, g[k], w[k]) for k in w if not _same_cell(g[k], w[k])]
    assert not bad, bad[:5]


_MATRIX = [
    (dtype, func)
    for dtype in _MATRIX_TYPES
    for func in _SUPPORTED
    if dtype != "timestamp" or func in _TIMESTAMP_FUNCS
]


@pytest.mark.parametrize("nb", [1, 7])
@pytest.mark.parametrize("dtype,func", _MATRIX)
def test_blocked_equals_window(spark, dtype, func, nb):
    df = _matrix_frame(spark, dtype)
    want = groupby_scan(df, "k", func=func, value="v", order_by="t", plan="window")
    got = groupby_scan_blocked(df, "k", func=func, value="v", order_by="t", num_blocks=nb)
    _assert_same(got, want, func, ("k", "t"))


def _timestamp_order_frame(spark):
    rng = np.random.default_rng(23)
    n = 300
    rows = [
        (f"g{i % 2}", _T0 + _dt.timedelta(seconds=int(s)),
         None if rng.random() < 0.1 else float(rng.normal()))
        for i, s in enumerate(rng.permutation(n) * 7)
    ]
    schema = "k string, ts timestamp, v double"
    return spark.createDataFrame(rows, schema)


def test_blocked_shift_timestamp_order(spark):
    df = _timestamp_order_frame(spark)
    want = groupby_scan(df, "k", func="shift", value="v", order_by="ts",
                        finalize_kwargs={"periods": 2}, plan="window")
    got = groupby_shift_blocked(df, "k", value="v", order_by="ts", periods=2, num_blocks=4)
    _assert_same(got, want, "shift", ("k", "ts"))


@pytest.mark.parametrize("adjust", [True, False])
def test_blocked_ewm_timestamp_order(spark, adjust):
    df = _timestamp_order_frame(spark)
    kw = dict(value="v", order_by="ts", alpha=0.2, adjust=adjust, out="m")
    want = groupby_ewm(df, "k", plan="window", **kw)
    got = groupby_ewm(df, "k", plan="blocked", **kw)
    _assert_same(got, want, "m", ("k", "ts"))
