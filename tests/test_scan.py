"""Differential tests: groupby_scan vs numpy per-group scans.

Mirrors reference scan tests (tests/test_core.py:1995-2121,
tests/test_properties.py:222-287): cumsum/nancumsum/ffill/bfill with
NaN runs at group starts, middles and ends; groups interleaved so
consecutive rows alternate groups (partition-straddling carry).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from flox_spark import groupby_scan

LABELS = [0, 1, 0, 1, 2, 0, 2, 1, 0, 2, 1, 0]
VALUES = [np.nan, 1.0, 2.0, np.nan, np.nan, 3.0, 4.0, 5.0, np.nan, np.nan, 6.0, 7.0]


def make_df(spark):
    pdf = pd.DataFrame({
        "idx": np.arange(len(LABELS), dtype=np.int64),
        "label": np.array(LABELS, dtype=np.int64),
        "v": np.array(VALUES, dtype=np.float64),
    })
    return spark.createDataFrame(pdf), pdf


def collect_scan(spark, func):
    df, pdf = make_df(spark)
    res = groupby_scan(df, "label", func=func, value="v", order_by="idx")
    rows = {r["idx"]: r[func] for r in res.collect()}
    return [rows[i] for i in range(len(LABELS))]


def per_group_numpy(fn):
    lab = np.array(LABELS)
    v = np.array(VALUES)
    out = np.empty_like(v)
    for g in np.unique(lab):
        pos = np.where(lab == g)[0]
        out[pos] = fn(v[pos])
    return out


def assert_seq(got, want):
    for i, (g, w) in enumerate(zip(got, want)):
        if w is None or (isinstance(w, float) and math.isnan(w)):
            assert g is None or (isinstance(g, float) and math.isnan(g)), f"row {i}: {g} != {w}"
        else:
            assert g == pytest.approx(w, rel=1e-12), f"row {i}: {g} != {w}"


def test_cumsum(spark):
    got = collect_scan(spark, "cumsum")
    want = per_group_numpy(np.cumsum)  # NaN poisons from first NaN on
    assert_seq(got, want)


def test_nancumsum(spark):
    got = collect_scan(spark, "nancumsum")
    want = per_group_numpy(np.nancumsum)
    assert_seq(got, want)


def _ffill(x):
    out = x.copy()
    last = np.nan
    for i, xi in enumerate(x):
        if not np.isnan(xi):
            last = xi
        out[i] = last
    return out


def test_ffill(spark):
    got = collect_scan(spark, "ffill")
    want = per_group_numpy(_ffill)
    assert_seq(got, want)


def test_bfill(spark):
    got = collect_scan(spark, "bfill")
    want = per_group_numpy(lambda x: _ffill(x[::-1])[::-1])
    assert_seq(got, want)


def test_cumcount(spark):
    got = collect_scan(spark, "cumcount")
    want = per_group_numpy(lambda x: np.cumsum(~np.isnan(x)).astype(float))
    assert_seq(got, want)


def test_cumprod_int(spark):
    pdf = pd.DataFrame({
        "idx": np.arange(6, dtype=np.int64),
        "label": np.array([0, 1, 0, 1, 0, 1], dtype=np.int64),
        "v": np.array([2, 3, 4, 5, 6, 7], dtype=np.int64),
    })
    df = spark.createDataFrame(pdf)
    res = groupby_scan(df, "label", func="cumprod", value="v", order_by="idx")
    rows = {r["idx"]: r["cumprod"] for r in res.collect()}
    assert [rows[i] for i in range(6)] == [2, 3, 8, 15, 48, 105]


def test_cumprod_int_poison_stays_null(spark):
    # plain cumprod over an integer column with a missing value: the
    # poison must surface as NULL from that position on — a NaN literal
    # would be CAST to 0 by non-ANSI long casting (matches cumsum's
    # int branch)
    pdf = pd.DataFrame({
        "idx": np.arange(4, dtype=np.int64),
        "label": np.zeros(4, dtype=np.int64),
        "v": pd.array([2, None, 3, 4], dtype="Int64"),
    })
    df = spark.createDataFrame(pdf)
    res = groupby_scan(df, "label", func="cumprod", value="v", order_by="idx")
    rows = {r["idx"]: r["cumprod"] for r in res.collect()}
    assert rows[0] == 2
    assert rows[1] is None and rows[2] is None and rows[3] is None


def test_cummax_cummin(spark):
    got_max = collect_scan(spark, "cummax")
    want_max = per_group_numpy(lambda x: np.fmax.accumulate(np.where(np.isnan(x), -np.inf, x)))
    # fmax.accumulate with -inf placeholder; positions before any value -> -inf; map to None
    for g, w in zip(got_max, want_max):
        if w == -np.inf:
            assert g is None
        else:
            assert g == pytest.approx(w)
    got_min = collect_scan(spark, "cummin")
    want_min = per_group_numpy(lambda x: np.fmin.accumulate(np.where(np.isnan(x), np.inf, x)))
    for g, w in zip(got_min, want_min):
        if w == np.inf:
            assert g is None
        else:
            assert g == pytest.approx(w)


def test_scan_dtype_override(spark):
    import numpy as np
    import pandas as pd

    from flox_spark import groupby_scan

    pdf = pd.DataFrame(
        {"k": [0, 0, 0], "idx": [0, 1, 2], "v": np.array([1.5, 2.5, 3.5], dtype=np.float32)}
    )
    out = groupby_scan(
        spark.createDataFrame(pdf), "k", func="nancumsum", value="v",
        order_by="idx", dtype=np.float64,
    )
    assert dict(out.dtypes)["nancumsum"] == "double"
    got = [r["nancumsum"] for r in out.orderBy("idx").collect()]
    assert got == [1.5, 4.0, 7.5]


def test_custom_scan_cummedian(spark):
    # the custom-Scan escape hatch (mirror of flox's public Scan
    # dataclass, flox/aggregations.py:715-737): a user-defined running
    # median over the group window
    from pyspark.sql import functions as F
    from flox_spark import Scan, groupby_scan

    cummedian = Scan(
        "cummedian", lambda c: F.percentile(c.v_skip, F.lit(0.5)).over(c.window)
    )
    pdf = pd.DataFrame({
        "idx": range(6),
        "k": [0, 0, 0, 1, 1, 1],
        "v": [1.0, 3.0, 2.0, 10.0, np.nan, 30.0],
    })
    res = groupby_scan(
        spark.createDataFrame(pdf), "k", func=cummedian, value="v", order_by="idx"
    )
    got = {r["idx"]: r["cummedian"] for r in res.collect()}
    assert got[0] == 1.0 and got[1] == 2.0 and got[2] == 2.0
    assert got[3] == 10.0 and got[4] == 10.0 and got[5] == 20.0


def test_custom_scan_forward_window_and_kwargs(spark):
    from pyspark.sql import functions as F
    from flox_spark import Scan, groupby_scan

    # next non-missing value scaled by a user kwarg: exercises
    # window_fwd and finalize_kwargs
    nxt = Scan(
        "next_scaled",
        lambda c: F.first(c.v_skip, ignorenulls=True).over(c.window_fwd)
        * F.lit(c.kwargs.get("scale", 1.0)),
    )
    pdf = pd.DataFrame({
        "idx": range(4), "k": [0, 0, 0, 0], "v": [np.nan, 2.0, np.nan, 4.0],
    })
    res = groupby_scan(
        spark.createDataFrame(pdf), "k", func=nxt, value="v", order_by="idx",
        finalize_kwargs={"scale": 10.0},
    )
    got = [r["next_scaled"] for r in res.orderBy("idx").collect()]
    assert got == [20.0, 20.0, 40.0, 40.0]


def test_complex_dtype_rejected_loudly(spark):
    # Spark has no complex type; the reference reduces complex arrays
    # (reference tests/strategies.py:83-99) — the engine must reject
    # the request with a clear error, not an obscure cast failure
    from flox_spark import groupby_reduce

    pdf = pd.DataFrame({"k": [0, 1], "v": [1.0, 2.0]})
    df = spark.createDataFrame(pdf)
    with pytest.raises(TypeError, match="complex"):
        groupby_reduce(df, "k", func="nansum", value="v", dtype="complex128")
    with pytest.raises(TypeError, match="complex"):
        groupby_scan(
            df.withColumn("idx", df.v), "k", func="cumsum", value="v",
            order_by="idx", dtype=np.complex64,
        )


def test_bfill_reversed_running_frame(spark):
    # bfill is ffill over the reversed order (a running frame): same
    # values as first(ignorenulls) over currentRow..unboundedFollowing,
    # which Spark re-aggregates for every row (superlinear per group)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = np.random.default_rng(4)
    n = 600
    v = rng.normal(size=n)
    v[rng.random(n) < 0.4] = np.nan
    v[-25:] = np.nan  # trailing missing runs stay missing
    pdf = pd.DataFrame({"idx": rng.permutation(n).astype(np.int64),
                        "label": rng.integers(0, 4, n), "v": v})
    df = spark.createDataFrame(pdf)
    got = groupby_scan(df, "label", func="bfill", value="v", order_by="idx", plan="window")
    w_fwd = Window.partitionBy("label").orderBy("idx").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    ref = df.withColumn(
        "bfill", F.first(F.nanvl("v", F.lit(None).cast("double")), ignorenulls=True).over(w_fwd)
    )
    want = {r["idx"]: r["bfill"] for r in ref.collect()}
    have = {r["idx"]: r["bfill"] for r in got.collect()}
    assert have == want
    assert any(x is None for x in have.values()) and any(x is not None for x in have.values())
    plan = got._jdf.queryExecution().analyzed().toString().lower()
    assert "unboundedfollowing" not in plan
    assert "unboundedpreceding" in plan
