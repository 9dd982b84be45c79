"""Dtype promotion/preservation parity tests — the riskiest parity
area per SURVEY §7 (reference: flox/xrdtypes.py:153-185,
tests/test_core.py:1138-1237, 2143-2190).

- sum/prod over ints stay integral (numpy platform-int -> Spark long)
- mean/var/std promote to floating
- float32 results stay float32
- bool: arithmetic promotes to int, min/max/first/last stay bool
- timestamps: min/max/first/last preserve type; mean round-trips
  through int64 microseconds
- datetime binning (reference test_core.py:1256-1271)
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from flox_spark import groupby_reduce

LAB = [0, 0, 1, 1, 1]


def schema_of(res, col):
    return dict(res.dtypes)[col]


def test_int_sum_stays_long(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": LAB, "v": np.array([1, 2, 3, 4, 5], dtype=np.int64)}))
    res = groupby_reduce(df, "k", func="nansum", value="v")
    assert schema_of(res, "nansum") == "bigint"
    got = {r["k"]: r["nansum"] for r in res.collect()}
    assert got == {0: 3, 1: 12}


def test_int_prod_stays_long(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": LAB, "v": np.array([2, 3, 4, 5, 6], dtype=np.int64)}))
    res = groupby_reduce(df, "k", func="nanprod", value="v")
    assert schema_of(res, "nanprod") == "bigint"
    assert {r["k"]: r["nanprod"] for r in res.collect()} == {0: 6, 1: 120}


def test_int_mean_promotes_double(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": LAB, "v": np.array([1, 2, 3, 4, 5], dtype=np.int64)}))
    res = groupby_reduce(df, "k", func="nanmean", value="v")
    assert schema_of(res, "nanmean") == "double"
    assert {r["k"]: r["nanmean"] for r in res.collect()} == {0: 1.5, 1: 4.0}


@pytest.mark.parametrize("func,expected_type", [
    ("nansum", "float"), ("nanmean", "float"), ("nanvar", "float"),
    ("nanstd", "float"), ("nanmin", "float"), ("nanmax", "float"),
])
def test_float32_preserved(spark, func, expected_type):
    # numpy keeps float32 results float32 (xrdtypes.py:153-172)
    pdf = pd.DataFrame({"k": LAB, "v": np.array([1, 2, 3, 4, 5], dtype=np.float32)})
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(df, "k", func=func, value="v")
    assert schema_of(res, func) == expected_type


def test_bool_sum_promotes_int(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": LAB, "v": [True, False, True, True, False]}))
    res = groupby_reduce(df, "k", func="nansum", value="v")
    assert schema_of(res, "nansum") == "bigint"
    assert {r["k"]: r["nansum"] for r in res.collect()} == {0: 1, 1: 2}


def test_bool_minmax_stays_bool(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": LAB, "v": [True, False, True, True, True]}))
    for func, want in [("nanmin", {0: False, 1: True}), ("nanmax", {0: True, 1: True})]:
        res = groupby_reduce(df, "k", func=func, value="v")
        assert schema_of(res, func) == "boolean"
        assert {r["k"]: r[func] for r in res.collect()} == want


TS = [dt.datetime(2024, 1, d + 1, 12, 30, 15, 123456) for d in range(5)]


def test_timestamp_minmax_firstlast(spark):
    pdf = pd.DataFrame({"idx": range(5), "k": LAB, "v": TS})
    df = spark.createDataFrame(pdf)
    for func, want in [
        ("nanmin", {0: TS[0], 1: TS[2]}),
        ("nanmax", {0: TS[1], 1: TS[4]}),
    ]:
        res = groupby_reduce(df, "k", func=func, value="v")
        assert schema_of(res, func).startswith("timestamp")
        assert {r["k"]: r[func] for r in res.collect()} == want
    for func, want in [
        ("nanfirst", {0: TS[0], 1: TS[2]}),
        ("nanlast", {0: TS[1], 1: TS[4]}),
    ]:
        res = groupby_reduce(df, "k", func=func, value="v", order_by="idx")
        assert {r["k"]: r[func] for r in res.collect()} == want


def test_timestamp_mean_roundtrip(spark):
    # mean of timestamps: int64-us view + cast back (flox/core.py:985-1001)
    pdf = pd.DataFrame({"k": [0, 0], "v": [dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 3)]})
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(df, "k", func="nanmean", value="v")
    assert schema_of(res, "nanmean").startswith("timestamp")
    assert res.collect()[0]["nanmean"] == dt.datetime(2024, 1, 2)


def test_timestamp_median(spark):
    pdf = pd.DataFrame({"k": [0, 0, 0], "v": [dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 10)]})
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(df, "k", func="nanmedian", value="v")
    assert res.collect()[0]["nanmedian"] == dt.datetime(2024, 1, 2)


def test_datetime_binning(spark):
    # reference test_core.py:1256-1271: date bins via IntervalIndex
    pdf = pd.DataFrame({
        "v": [1.0] * 5,
        "key": [dt.datetime(2024, 1, d) for d in (2, 5, 10, 15, 28)],
    })
    df = spark.createDataFrame(pdf)
    breaks = [dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 7), dt.datetime(2024, 1, 14), dt.datetime(2024, 1, 21)]
    res = groupby_reduce(
        df, "key", func="count", value="v", isbin=True,
        expected_groups=breaks, fill_value=0,
    ).collect()
    got = {r["key_bin"]: r["count"] for r in res}
    # (1/1,1/7]: 1/2,1/5 -> 2 ; (1/7,1/14]: 1/10 -> 1 ; (1/14,1/21]: 1/15 -> 1; 1/28 dropped
    assert got == {0: 2, 1: 1, 2: 1}


def test_string_minmax(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": [0, 0, 1], "v": ["pear", "apple", "fig"]}))
    res = groupby_reduce(df, "k", func="nanmin", value="v")
    assert {r["k"]: r["nanmin"] for r in res.collect()} == {0: "apple", 1: "fig"}


def test_var_precision_large_offset(spark):
    # reference test_core.py:2293-2321: var/std stay accurate when
    # values sit on a huge constant offset (Spark's Welford-style M2
    # matches or beats flox's shift-by-first trick)
    rng = np.random.default_rng(5)
    base = rng.normal(size=300)
    for offset in (1e4, 1e7):
        pdf = pd.DataFrame({"k": np.repeat([0, 1, 2], 100), "v": base + offset})
        df = spark.createDataFrame(pdf)
        got = {r["k"]: r["nanvar"] for r in
               groupby_reduce(df, "k", func="nanvar", value="v").collect()}
        for g in [0, 1, 2]:
            want = np.var(base[g * 100:(g + 1) * 100] + offset)
            # reference tolerance for this test: rtol=3e-8, atol=1e-9
            # (test_core.py:2312) — Spark's merge order differs from
            # numpy's two-pass, giving ~1e-10 relative deviation at 1e7
            assert got[g] == pytest.approx(want, rel=3e-8, abs=1e-9)


def test_arg_with_timestamp_order(spark):
    # arg* with a timestamp order column: orders by the int64-us view
    # and returns it (flox arg results are positions, not labels)
    pdf = pd.DataFrame({
        "k": [0, 0, 0],
        "ts": [dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 3)],
        "v": [5.0, 9.0, 1.0],
    })
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(df, "k", func="nanargmax", value="v", order_by="ts").collect()
    micros = res[0]["nanargmax"]
    assert micros == int(dt.datetime(2024, 1, 2).timestamp() * 1_000_000)
    # first/last with timestamp order keep working and return values
    res = groupby_reduce(df, "k", func="nanlast", value="v", order_by="ts").collect()
    assert res[0]["nanlast"] == 1.0


TD = pd.to_timedelta(["1 days 02:00:00.500000", "0 days 03:30:00", "2 days",
                      "0 days 00:00:01.000001", "5 days 12:00:00"])


def test_timedelta_sum_mean_roundtrip(spark):
    # timedelta values: int64-us view + restore (flox/core.py:985-1001
    # views numpy kind 'm' like 'M'; numpy sums/averages timedelta64
    # to timedelta64)
    pdf = pd.DataFrame({"k": LAB, "v": TD})
    df = spark.createDataFrame(pdf)
    npv = TD.to_numpy()
    for func, np_fn in (("nansum", np.sum), ("nanmean", np.mean)):
        res = groupby_reduce(df, "k", func=func, value="v")
        assert schema_of(res, func).startswith("interval day")
        got = {r["k"]: r[func] for r in res.collect()}
        for g in (0, 1):
            want = np_fn(npv[np.array(LAB) == g])
            # collected values are datetime.timedelta; numpy result is
            # timedelta64[ns] — compare at microsecond resolution
            assert got[g] == pd.Timedelta(want).floor("us").to_pytimedelta(), (func, g)


def test_timedelta_minmax_first_median(spark):
    pdf = pd.DataFrame({"idx": range(5), "k": LAB, "v": TD})
    df = spark.createDataFrame(pdf)
    npv = TD.to_numpy()
    lab = np.array(LAB)
    for func, np_fn in (("nanmin", np.min), ("nanmax", np.max), ("nanmedian", np.median)):
        res = groupby_reduce(df, "k", func=func, value="v")
        assert schema_of(res, func).startswith("interval day")
        got = {r["k"]: r[func] for r in res.collect()}
        for g in (0, 1):
            want = pd.Timedelta(np_fn(npv[lab == g])).floor("us").to_pytimedelta()
            assert got[g] == want, (func, g, got[g], want)
    res = groupby_reduce(df, "k", func="nanfirst", value="v", order_by="idx")
    got = {r["k"]: r["nanfirst"] for r in res.collect()}
    assert got == {0: TD[0].to_pytimedelta(), 1: TD[2].to_pytimedelta()}


def test_timedelta_count_any(spark):
    pdf = pd.DataFrame({"k": LAB, "v": TD})
    df = spark.createDataFrame(pdf)
    got = {r["k"]: r["count"] for r in
           groupby_reduce(df, "k", func="count", value="v").collect()}
    assert got == {0: 2, 1: 3}
    # numpy truthiness: nonzero timedelta is True
    got = {r["k"]: r["any"] for r in
           groupby_reduce(df, "k", func="any", value="v").collect()}
    assert got == {0: True, 1: True}


# -- one missing-label drop (dtypes.drop_missing) ---------------------------
# (s, f, v): a NULL string label, NaN and NULL float labels, NaN and NULL
# values; every complete label pair keeps at least one present value
_MISSING_ROWS = [
    ("a", 1.0, 1.0), ("a", 1.0, 2.0), ("a", 2.0, 3.0), ("a", 2.0, float("nan")),
    ("b", 1.0, float("nan")), ("b", 1.0, 4.0), ("b", 1.0, None),
    (None, 1.0, 5.0), ("a", float("nan"), 6.0), ("b", None, 7.0),
    (None, float("nan"), 8.0),
]
_LABELS = {("a", 1.0), ("a", 2.0), ("b", 1.0)}


def _missing_frame(spark):
    t0 = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(s, f, v, 1.0, i, t0 + dt.timedelta(minutes=i)) for i, (s, f, v) in enumerate(_MISSING_ROWS)],
        "s string, f double, v double, w double, t long, ts timestamp",
    )


def _label_callers():
    from flox_spark import stats
    from flox_spark.resample import resample_upsample, time_weighted_mean
    from flox_spark.salting import groupby_reduce_salted
    from flox_spark.streaming.stream import groupby_value_counts_stream
    from flox_spark.transform import groupby_apply_batched
    from flox_spark.weighted import groupby_reduce_weighted

    return {
        "entropy": lambda df: stats.groupby_entropy(df, "s", "f", value="v"),
        "value_counts": lambda df: stats.groupby_value_counts(df, "s", "f", value="v", dropna=False),
        "skew": lambda df: stats.groupby_skew(df, "s", "f", value="v"),
        "weighted": lambda df: groupby_reduce_weighted(df, "s", "f", func="mean", value="v", weights="w"),
        "salted": lambda df: groupby_reduce_salted(df, "s", "f", func="nansum", value="v", n_salt=2),
        "upsample": lambda df: resample_upsample(df, "s", "f", time_col="ts", value="v", freq="1min"),
        "twa": lambda df: time_weighted_mean(df, "s", "f", value="v", ts="ts"),
        "apply_batched": lambda df: groupby_apply_batched(
            df, "s", "f", fn=lambda pdf: pdf, schema=df.schema, order_by="t"),
        # a streaming operator over a bounded frame (the watermark is a
        # no-op there): the same label rule as its batch twin
        "value_counts_stream": lambda df: groupby_value_counts_stream(
            df, "s", "f", value="v", time_col="ts", window="1 day"),
    }


@pytest.mark.parametrize("caller", list(_label_callers()))
def test_missing_labels_dropped_like_groupby_reduce(spark, caller):
    """Every operator that drops missing labels drops exactly the rows
    whose label is NULL (any type) or NaN (float), like groupby_reduce
    (flox/factorize.py:201-212)."""
    df = _missing_frame(spark)
    want = {(r["s"], r["f"]) for r in groupby_reduce(df, "s", "f", func="count", value="v").collect()}
    assert want == _LABELS
    got = {(r["s"], r["f"]) for r in _label_callers()[caller](df).collect()}
    assert got == want, (caller, got)


def test_topk_drops_missing_values_only(spark):
    """grouped_topk's ``skipna`` value drop goes through the same
    missing test (NULL or NaN); topk keeps rows, not groups, so a
    missing label is a partition of its own."""
    from flox_spark.operators.topk import grouped_topk

    df = _missing_frame(spark)
    got = sorted(r["t"] for r in grouped_topk(df, "s", "f", value="v", k=10).collect())
    want = [i for i, (_, _, v) in enumerate(_MISSING_ROWS) if v is not None and not np.isnan(v)]
    assert got == want
