"""Property-based differential tests (hypothesis), mirroring the
reference's tests/test_properties.py invariants:

- grouped reduce == per-group numpy on random values/labels/NaNs
  (reference test_properties.py:181-219)
- scans == per-group numpy scan (:222-265)
- ffill/bfill reversal duality (:268-287)

Example counts are kept small: each example is a Spark round-trip.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flox_spark import groupby_reduce, groupby_scan

FUNCS = ["count", "nansum", "nanmean", "nanmin", "nanmax", "nanvar", "sum", "mean", "max"]

ex = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@st.composite
def arrays(draw):
    n = draw(st.integers(4, 24))
    vals = draw(
        st.lists(
            st.one_of(
                st.floats(-1e6, 1e6, allow_nan=False, width=32),
                st.just(float("nan")),
            ),
            min_size=n,
            max_size=n,
        )
    )
    labs = draw(st.lists(st.integers(0, 4), min_size=n, max_size=n))
    return np.array(vals, dtype=np.float64), np.array(labs, dtype=np.int64)


def np_group(func, v, lab):
    out = {}
    for g in np.unique(lab):
        x = v[lab == g]
        with np.errstate(invalid="ignore"):
            if func == "count":
                out[int(g)] = int((~np.isnan(x)).sum())
            elif func in ("sum", "mean", "max"):
                out[int(g)] = getattr(np, func)(x)
            else:
                out[int(g)] = getattr(np, func)(x)
    return out


@pytest.mark.parametrize("func", FUNCS)
@given(data=arrays())
@ex
def test_reduce_matches_numpy(spark, func, data):
    v, lab = data
    df = spark.createDataFrame(pd.DataFrame({"k": lab, "v": v}))
    got = {r["k"]: r[func] for r in groupby_reduce(df, "k", func=func, value="v").collect()}
    want = np_group(func, v, lab)
    assert set(got) == set(want)
    for g, w in want.items():
        gv = got[g]
        if isinstance(w, float) and math.isnan(w):
            assert gv is None or math.isnan(gv), (g, gv, w)
        else:
            assert gv == pytest.approx(float(w), rel=1e-9, abs=1e-9), (g, gv, w)


@given(data=arrays())
@ex
def test_scan_matches_numpy(spark, data):
    v, lab = data
    n = len(v)
    df = spark.createDataFrame(pd.DataFrame({"idx": np.arange(n), "k": lab, "v": v}))
    res = groupby_scan(df, "k", func="nancumsum", value="v", order_by="idx")
    got = {r["idx"]: r["nancumsum"] for r in res.collect()}
    for g in np.unique(lab):
        pos = np.where(lab == g)[0]
        want = np.nancumsum(v[pos])
        for p, w in zip(pos, want):
            assert got[p] == pytest.approx(w, rel=1e-9, abs=1e-9)


@given(data=arrays())
@ex
def test_ffill_bfill_duality(spark, data):
    # reversing the order column turns ffill into bfill
    # (reference test_properties.py:268-287)
    v, lab = data
    n = len(v)
    pdf = pd.DataFrame({"idx": np.arange(n), "ridx": n - 1 - np.arange(n), "k": lab, "v": v})
    df = spark.createDataFrame(pdf)
    b = {r["idx"]: r["bfill"] for r in groupby_scan(df, "k", func="bfill", value="v", order_by="idx").collect()}
    f_rev = {r["idx"]: r["ffill"] for r in groupby_scan(df, "k", func="ffill", value="v", order_by="ridx").collect()}
    for i in range(n):
        x, y = b[i], f_rev[i]
        if x is None or y is None:
            assert x is None and y is None
        else:
            assert x == pytest.approx(y, rel=1e-12)


@given(data=arrays())
@ex
def test_first_last_reverse_duality(spark, data):
    # nanfirst on reversed order == nanlast (reference
    # test_properties.py:290-332)
    v, lab = data
    n = len(v)
    pdf = pd.DataFrame({"idx": np.arange(n), "ridx": n - 1 - np.arange(n), "k": lab, "v": v})
    df = spark.createDataFrame(pdf)
    last = {r["k"]: r["nanlast"] for r in
            groupby_reduce(df, "k", func="nanlast", value="v", order_by="idx").collect()}
    first_rev = {r["k"]: r["nanfirst"] for r in
                 groupby_reduce(df, "k", func="nanfirst", value="v", order_by="ridx").collect()}
    for g in last:
        x, y = last[g], first_rev[g]
        if x is None or y is None:
            assert x == y
        else:
            assert x == pytest.approx(y, rel=1e-15)


@pytest.mark.parametrize("func", ["nansum", "nanmean", "nanvar", "nanmax", "count"])
@given(data=arrays())
@ex
def test_single_group_equals_numpy(spark, func, data):
    # all rows in ONE group: reduce == plain numpy func applied to the
    # whole array (reference test_properties.py:93-178)
    v, _ = data
    pdf = pd.DataFrame({"k": np.zeros(len(v), dtype=np.int64), "v": v})
    df = spark.createDataFrame(pdf)
    got = groupby_reduce(df, "k", func=func, value="v").collect()[0][func]
    with np.errstate(invalid="ignore"):
        want = int((~np.isnan(v)).sum()) if func == "count" else getattr(np, func)(v)
    if isinstance(want, float) and math.isnan(want):
        assert got is None or math.isnan(got)
    else:
        assert got == pytest.approx(float(want), rel=1e-9, abs=1e-9)


@given(arrays())
@ex
def test_nunique_matches_numpy(spark, av):
    v, lab = av
    pdf = pd.DataFrame({"k": lab, "v": v})
    df = spark.createDataFrame(pdf)
    got_skip = {
        r["k"]: r["nannunique"]
        for r in groupby_reduce(df, "k", func="nannunique", value="v").collect()
    }
    got_plain = {
        r["k"]: r["nunique"]
        for r in groupby_reduce(df, "k", func="nunique", value="v").collect()
    }
    for g in np.unique(lab):
        x = v[lab == g]
        nn = len(np.unique(x[~np.isnan(x)]))
        assert got_skip[int(g)] == nn
        assert got_plain[int(g)] == nn + (1 if np.isnan(x).any() else 0)


@given(arrays(), st.lists(st.floats(0.0, 5.0, allow_nan=False), min_size=24, max_size=24))
@ex
def test_weighted_mean_matches_numpy(spark, av, ws):
    v, lab = av
    w = np.array(ws[: len(v)], dtype=np.float64)
    pdf = pd.DataFrame({"k": lab, "v": v, "w": w})
    from flox_spark import groupby_reduce_weighted

    got = {
        r["k"]: r["nanmean"]
        for r in groupby_reduce_weighted(
            spark.createDataFrame(pdf), "k", func="nanmean", value="v", weights="w"
        ).collect()
    }
    for g in np.unique(lab):
        x, wg = v[lab == g], w[lab == g]
        mask = ~np.isnan(x)
        sw = wg[mask].sum()
        if sw == 0:
            assert math.isnan(got[int(g)])
        else:
            want = (wg[mask] * x[mask]).sum() / sw
            assert got[int(g)] == pytest.approx(want, rel=1e-9, abs=1e-9)


@given(st.lists(st.integers(0, 600), min_size=2, max_size=30), st.integers(1, 120))
@ex
def test_sessionize_gap_invariants(spark, offsets, gap_s):
    import datetime as dt

    ts = sorted(dt.datetime(2024, 1, 1) + dt.timedelta(seconds=o) for o in offsets)
    pdf = pd.DataFrame({"k": 1, "eid": range(len(ts)), "ts": ts})
    from flox_spark.operators import sessionize

    rows = (
        sessionize(spark.createDataFrame(pdf), "k", ts="ts", gap_seconds=gap_s, tiebreak="eid")
        .orderBy("ts", "eid")
        .collect()
    )
    sids = [r["session_id"] for r in rows]
    # 0-based, contiguous, non-decreasing
    assert sids[0] == 0
    assert all(b - a in (0, 1) for a, b in zip(sids, sids[1:]))
    # boundary rule: same session iff gap <= gap_s (closed interval)
    for (a, b), (sa, sb) in zip(zip(rows, rows[1:]), zip(sids, sids[1:])):
        gap = (b["ts"] - a["ts"]).total_seconds()
        assert (sb == sa) == (gap <= gap_s), (gap, gap_s)


@pytest.mark.parametrize("func", ["nansum", "nanmean", "count", "nanmin", "nanmax", "sum", "mean"])
@given(data=arrays())
@ex
def test_salted_equals_plain_property(spark, func, data):
    # the salted two-phase combine is ALGEBRAICALLY exact for any
    # data/NaN layout — but float addition is not associative, and
    # the two plans sum partials in different orders, so sum/mean
    # comparisons get a condition-aware bound (~eps * sum|v| per
    # group: a cancellation-heavy group like [1e-5, 999520, -999560]
    # legitimately differs by ~4e-11 between associations).  Order-
    # insensitive funcs (count/min/max) stay bit-exact.
    from flox_spark.salting import groupby_reduce_salted

    v, lab = data
    df = spark.createDataFrame(pd.DataFrame({"k": lab, "v": v}))
    a = {r["k"]: r[func] for r in
         groupby_reduce_salted(df, "k", func=func, value="v", n_salt=3).collect()}
    b = {r["k"]: r[func] for r in
         groupby_reduce(df, "k", func=func, value="v").collect()}
    assert set(a) == set(b)
    summy = func in ("sum", "nansum", "mean", "nanmean")
    for g in b:
        x, y = a[g], b[g]
        if y is None or (isinstance(y, float) and math.isnan(y)):
            assert x is None or (isinstance(x, float) and math.isnan(x)), (func, g)
        elif isinstance(y, float):
            tol = 1e-12
            if summy:
                gv = np.abs(v[lab == g])
                tol += 1e-12 * float(np.nansum(gv))
            assert x == pytest.approx(y, rel=1e-12, abs=tol), (func, g)
        else:
            assert x == y, (func, g)


@given(data=arrays(), q=st.floats(0.0, 1.0), acc=st.sampled_from([2, 3, 4]))
@ex
def test_quantile_refine_matches_numpy_property(spark, data, q, acc):
    # the refine bracket math must be exact for ANY q/accuracy/data —
    # including duplicate-heavy and all-NaN groups.  Refine sizes its
    # own sketch accuracy (the approx_quantile_accuracy option does not
    # apply) and collects groups of <= max(cutoff floor, accuracy) rows
    # outright, so both are pinned small: groups of more than ``acc``
    # present values take the bracket, smaller ones the collect-all
    import flox_spark.core as core
    from flox_spark import set_options

    v, lab = data
    pdf = pd.DataFrame({"k": lab, "v": v})
    df = spark.createDataFrame(pdf)
    orig_acc, orig_floor = core._refine_accuracy, core._REFINE_CUTOFF_FLOOR
    core._refine_accuracy = lambda work: acc
    core._REFINE_CUTOFF_FLOOR = 1
    try:
        with set_options(quantile_impl="refine"):
            res = groupby_reduce(
                df, "k", func="nanquantile", value="v", finalize_kwargs={"q": q}
            ).collect()
    finally:
        core._refine_accuracy, core._REFINE_CUTOFF_FLOOR = orig_acc, orig_floor
    got = {r["k"]: r["nanquantile"] for r in res}
    for g in np.unique(lab):
        vals = v[lab == g]
        vals = vals[~np.isnan(vals)]
        want = float(np.quantile(vals, q)) if len(vals) else None
        gv = got[int(g)]
        if want is None:
            assert gv is None or math.isnan(gv), (g, gv)
        else:
            assert gv == pytest.approx(want, rel=1e-12, abs=1e-12), (g, q, acc, gv, want)


@st.composite
def quantile_cases(draw):
    # distributions chosen to stress the refine bracket math: heavy
    # point masses (ties at the bracket edges), tiny spreads, mixed NaN
    n = draw(st.integers(30, 400))
    kind = draw(st.sampled_from(["uniform", "pointmass", "twolevel", "tiny_spread"]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    if kind == "uniform":
        v = rng.uniform(-100, 100, n)
    elif kind == "pointmass":
        # ~3/4 identical values, the rest spread: stresses the
        # below/at-bracket counts when duplicates sit on an edge
        v = np.full(n, 3.25)
        v[: n // 4] = rng.uniform(-10, 10, n // 4)
    elif kind == "twolevel":
        v = np.where(rng.random(n) < 0.5, 1.0, 2.0)
    else:
        v = 5.0 + rng.uniform(0, 1e-9, n)
    if draw(st.booleans()):
        v = v.copy()
        v[rng.random(n) < 0.15] = np.nan
    k = rng.integers(0, draw(st.integers(1, 4)), n)
    q = draw(st.sampled_from([0.0, 0.01, 0.25, 0.5, 0.9, 0.999, 1.0]))
    return pd.DataFrame({"k": k.astype("int64"), "v": v}), q


@ex
@given(quantile_cases())
def test_refine_bracket_property_matches_numpy(spark, case):
    # the refine bracket (forced past its collect-all cutoff by tiny
    # accuracy/cutoff) must reproduce numpy linear interpolation on
    # arbitrary distributions, per group, NaNs skipped
    import flox_spark.core as core
    from flox_spark import set_options

    pdf, q = case
    df = spark.createDataFrame(pdf)
    orig_acc, orig_floor = core._refine_accuracy, core._REFINE_CUTOFF_FLOOR
    core._refine_accuracy = lambda work: 32
    core._REFINE_CUTOFF_FLOOR = 4
    try:
        with set_options(quantile_impl="refine"):
            got = {
                r["k"]: r["nanquantile"]
                for r in groupby_reduce(
                    df, "k", func="nanquantile", value="v", finalize_kwargs={"q": q}
                ).collect()
            }
    finally:
        core._refine_accuracy, core._REFINE_CUTOFF_FLOOR = orig_acc, orig_floor
    for k, grp in pdf.groupby("k")["v"]:
        vals = grp.dropna().to_numpy()
        want = float(np.quantile(vals, q)) if len(vals) else None
        g = got[k]
        if want is None:
            assert g is None or (isinstance(g, float) and math.isnan(g))
        else:
            assert g == pytest.approx(want, rel=1e-12, abs=1e-12), (k, q, g, want)


def test_refine_bracket_trust_boundary_regression(spark):
    # r11 regression pin (hypothesis catch, reproduced): with the old
    # cutoff = acc//2, n=17 at acc=32 sat inside the bracket-trust
    # window but percentile_approx's rank-convention slop (+~2 ranks
    # beyond the n/acc compression error) degenerated the q=0.01
    # bracket to [min, min] and refine returned the group MINIMUM
    # instead of the rank-0/1 interpolation.  The fixed cutoff (= acc)
    # must route this group through collect-all and match numpy
    # exactly.
    import flox_spark.core as core
    from flox_spark import set_options

    vals = [
        -102.806366, 48.709295, -68.624406, 16.94711, 7.452679,
        -30.251955, 24.891984, 8.292018, 90.474569, 28.34445,
        32.013032, 64.464674, -60.213574, -41.369847, 20.817167,
        -61.828827, 3.062037,
    ]
    pdf = pd.DataFrame({"k": [0] * len(vals), "v": vals})
    df = spark.createDataFrame(pdf)
    orig_acc, orig_floor = core._refine_accuracy, core._REFINE_CUTOFF_FLOOR
    core._refine_accuracy = lambda work: 32
    core._REFINE_CUTOFF_FLOOR = 4
    try:
        with set_options(quantile_impl="refine"):
            got = groupby_reduce(
                df, "k", func="nanquantile", value="v",
                finalize_kwargs={"q": 0.01},
            ).collect()[0]["nanquantile"]
        want = float(np.quantile(np.array(vals), 0.01))
        assert got == pytest.approx(want, rel=1e-12), (got, want)
        assert got != min(vals)  # the old failure returned the min
    finally:
        core._refine_accuracy, core._REFINE_CUTOFF_FLOOR = orig_acc, orig_floor


@given(data=arrays(), q=st.floats(0.0, 1.0))
@ex
def test_quantile_arrow_matches_numpy_property(spark, data, q):
    # the r11 np.quantile grouped-agg kernel must be numpy-exact for
    # ANY q/data — including duplicate-heavy and all-NaN groups
    from flox_spark import set_options

    v, lab = data
    pdf = pd.DataFrame({"k": lab, "v": v})
    df = spark.createDataFrame(pdf)
    with set_options(quantile_impl="arrow"):
        res = groupby_reduce(
            df, "k", func="nanquantile", value="v", finalize_kwargs={"q": q}
        ).collect()
    got = {r["k"]: r["nanquantile"] for r in res}
    for g in np.unique(lab):
        vals = v[lab == g]
        vals = vals[~np.isnan(vals)]
        want = float(np.quantile(vals, q)) if len(vals) else None
        gv = got[int(g)]
        if want is None:
            assert gv is None or math.isnan(gv), (g, gv)
        else:
            assert gv == pytest.approx(want, rel=1e-12, abs=1e-12), (g, q, gv, want)
