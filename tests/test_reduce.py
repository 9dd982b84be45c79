"""Differential tests: groupby_reduce vs numpy per-group goldens.

Mirrors the reference's master test ``test_groupby_reduce_all``
(reference tests/test_core.py:222-386): the canonical label vector
[0,0,2,2,2,1,1,2,2,1,1,0], every registry func, with and without
missing values (both NaN and NULL encodings — the table world has
both), checked against numpy applied per group.
"""

from __future__ import annotations

import datetime
import math

import numpy as np
import pandas as pd
import pytest

from flox_spark import groupby_reduce
from flox_spark.aggregations import REDUCTIONS

LABELS = [0, 0, 2, 2, 2, 1, 1, 2, 2, 1, 1, 0]
VALUES = [2.5, -1.0, 3.0, 0.5, 7.25, 1.0, 1.0, -2.0, 4.0, 0.0, 5.5, 3.25]
NAN_POS = [1, 4, 5]  # rows whose value goes missing in the *_missing variants

RTOL = 1e-12


def make_pdf(missing: str | None) -> pd.DataFrame:
    v = np.array(VALUES, dtype=np.float64)
    if missing == "nan":
        v[NAN_POS] = np.nan
    pdf = pd.DataFrame({"idx": np.arange(12, dtype=np.int64), "label": np.array(LABELS, dtype=np.int64), "v": v})
    if missing == "null":
        pdf["v"] = pdf["v"].astype(object)
        for p in NAN_POS:
            pdf.loc[p, "v"] = None
    return pdf


def np_golden(func: str, missing: str | None, **kw):
    """Per-group numpy result keyed by label."""
    v = np.array(VALUES, dtype=np.float64)
    if missing in ("nan", "null"):
        v[NAN_POS] = np.nan
    lab = np.array(LABELS)
    out = {}
    for g in [0, 1, 2]:
        pos = np.where(lab == g)[0]
        x = v[pos]
        if func in ("count", "nanlen"):
            out[g] = int(np.sum(~np.isnan(x)))
        elif func == "len":
            out[g] = len(x)
        elif func == "sum_of_squares":
            out[g] = np.sum(x * x)
        elif func == "nansum_of_squares":
            out[g] = np.nansum(x * x)
        elif func in ("sum", "nansum", "prod", "nanprod", "mean", "nanmean", "median", "nanmedian"):
            out[g] = getattr(np, func)(x)
        elif func in ("var", "nanvar", "std", "nanstd"):
            out[g] = getattr(np, func)(x, ddof=kw.get("ddof", 0))
        elif func in ("min", "nanmin", "max", "nanmax"):
            out[g] = getattr(np, func)(x)
        elif func in ("quantile", "nanquantile"):
            f = np.quantile if func == "quantile" else np.nanquantile
            out[g] = f(x, kw.get("q", 0.5))
        elif func in ("argmin", "argmax"):
            out[g] = int(pos[getattr(np, func)(x)])
        elif func in ("nanargmin", "nanargmax"):
            out[g] = int(pos[getattr(np, func)(x)])
        elif func == "nannunique":
            out[g] = int(len(np.unique(x[~np.isnan(x)])))
        elif func == "nunique":
            # missing counts as one value (pandas nunique(dropna=False))
            out[g] = int(len(np.unique(x[~np.isnan(x)])) + (1 if np.isnan(x).any() else 0))
        elif func == "first":
            out[g] = x[0]
        elif func == "last":
            out[g] = x[-1]
        elif func == "nanfirst":
            nz = x[~np.isnan(x)]
            out[g] = nz[0] if len(nz) else np.nan
        elif func == "nanlast":
            nz = x[~np.isnan(x)]
            out[g] = nz[-1] if len(nz) else np.nan
        elif func in ("all", "any"):
            out[g] = bool(getattr(np, func)(x))
        elif func in ("mode", "nanmode"):
            xx = x[~np.isnan(x)] if func == "nanmode" else x
            if func == "mode" and np.isnan(x).any():
                out[g] = np.nan
                continue
            vals, cnts = np.unique(xx, return_counts=True)
            out[g] = vals[np.argmax(cnts)]  # np.unique sorts -> smallest wins ties
        else:
            raise AssertionError(func)
    return out


def run_engine(spark, pdf, func, **kw):
    df = spark.createDataFrame(pdf.astype({"v": float}) if pdf["v"].dtype == object else pdf)
    fk = {k: v for k, v in kw.items() if k in ("ddof", "q")}
    res = groupby_reduce(
        df, "label", func=func, value="v",
        order_by="idx" if REDUCTIONS[func].needs_order else None,
        finalize_kwargs=fk or None,
    )
    rows = res.collect()
    return {r["label"]: r[func] for r in rows}


def assert_close(got, want):
    if want is None or got is None:
        assert got == want, f"{got} != {want}"
        return
    if isinstance(want, float) and math.isnan(want):
        assert isinstance(got, float) and math.isnan(got), f"{got} != NaN"
        return
    if isinstance(want, (float, np.floating)):
        assert got == pytest.approx(float(want), rel=RTOL, abs=1e-15), f"{got} != {want}"
        return
    assert got == want, f"{got} != {want}"


# approx_nunique is a sketch (no numpy golden); accuracy-tested in
# tests/test_topk.py
ALL_FUNCS = [f for f in REDUCTIONS if f not in ("all", "any", "approx_nunique")]


@pytest.mark.parametrize("missing", [None, "nan", "null"])
@pytest.mark.parametrize("func", ALL_FUNCS)
def test_vs_numpy(spark, func, missing):
    pdf = make_pdf(missing)
    got = run_engine(spark, pdf, func)
    want = np_golden(func, missing)
    assert set(got) == {0, 1, 2}
    for g in [0, 1, 2]:
        assert_close(got[g], want[g])


@pytest.mark.parametrize("missing", [None, "nan"])
@pytest.mark.parametrize("ddof", [0, 1, 2])
@pytest.mark.parametrize("func", ["var", "nanvar", "std", "nanstd"])
def test_var_ddof(spark, func, ddof, missing):
    pdf = make_pdf(missing)
    got = run_engine(spark, pdf, func, ddof=ddof)
    want = np_golden(func, missing, ddof=ddof)
    for g in [0, 1, 2]:
        assert_close(got[g], want[g])


@pytest.mark.parametrize("q", [0.25, 0.9])
@pytest.mark.parametrize("func", ["quantile", "nanquantile"])
def test_quantile_scalar(spark, func, q, missing="nan"):
    pdf = make_pdf(missing)
    got = run_engine(spark, pdf, func, q=q)
    want = np_golden(func, missing, q=q)
    for g in [0, 1, 2]:
        assert_close(got[g], want[g])


def test_quantile_vector(spark):
    # vector q explodes to (label, q, value) rows — the long-table
    # analog of the reference's added q dimension
    # (flox/aggregations.py:688-710)
    pdf = make_pdf(None)
    df = spark.createDataFrame(pdf)
    qs = [0.25, 0.5, 0.9]
    res = groupby_reduce(
        df, "label", func="nanquantile", value="v", finalize_kwargs={"q": qs}
    ).collect()
    got = {(r["label"], r["q"]): r["nanquantile"] for r in res}
    assert len(res) == 9  # 3 groups x 3 qs
    assert [(r["label"], r["q"]) for r in res] == sorted(got)  # sorted by (label, q)
    want = np_golden("nanquantile", None, q=qs)
    for g in [0, 1, 2]:
        for i, q in enumerate(qs):
            assert got[(g, q)] == pytest.approx(float(want[g][i]), rel=RTOL)


def test_quantile_vector_nan_propagates(spark):
    # plain quantile with vector q: a poisoned group is NaN at every q
    pdf = make_pdf("nan")
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(
        df, "label", func="quantile", value="v", finalize_kwargs={"q": [0.25, 0.9]}
    ).collect()
    got = {(r["label"], r["q"]): r["quantile"] for r in res}
    for g in [0, 1, 2]:  # every group has a NaN row (NAN_POS)
        for q in (0.25, 0.9):
            assert math.isnan(got[(g, q)])


def test_quantile_vector_expected_fill(spark):
    # absent expected groups are filled per q
    pdf = make_pdf(None)
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(
        df, "label", func="nanquantile", value="v",
        expected_groups=[0, 1, 2, 3], fill_value=-7.0,
        finalize_kwargs={"q": [0.5, 0.9]},
    ).collect()
    got = {(r["label"], r["q"]): r["nanquantile"] for r in res}
    assert got[(3, 0.5)] == -7.0 and got[(3, 0.9)] == -7.0
    want = np_golden("nanquantile", None, q=[0.5, 0.9])
    assert got[(0, 0.5)] == pytest.approx(float(want[0][0]), rel=RTOL)


def test_any_all(spark):
    pdf = make_pdf(None)
    pdf["v"] = (np.array(VALUES) > 1.0)
    df = spark.createDataFrame(pdf)
    for func in ("any", "all"):
        res = groupby_reduce(df, "label", func=func, value="v").collect()
        got = {r["label"]: r[func] for r in res}
        lab = np.array(LABELS)
        bv = np.array(VALUES) > 1.0
        for g in [0, 1, 2]:
            assert got[g] == bool(getattr(np, func)(bv[lab == g]))


def test_expected_groups_fill(spark):
    # mirrors flox fill_value tests (test_core.py:1112): expected
    # groups beyond the observed ones are filled
    pdf = make_pdf(None)
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(
        df, "label", func="nansum", value="v",
        expected_groups=[0, 1, 2, 3, 4], fill_value=-1.0,
    ).collect()
    got = {r["label"]: r["nansum"] for r in res}
    assert got[3] == -1.0 and got[4] == -1.0
    assert got[0] == pytest.approx(2.5 - 1.0 + 3.25)
    assert [r["label"] for r in res] == [0, 1, 2, 3, 4]  # sorted


def test_min_count(spark):
    # flox core.py:437-459: groups with < min_count valid values -> fill
    pdf = make_pdf("nan")
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(
        df, "label", func="nansum", value="v",
        min_count=4, fill_value=float("nan"),
    ).collect()
    got = {r["label"]: r["nansum"] for r in res}
    # group 2 has 5 members, one NaN -> 4 valid -> kept
    assert not math.isnan(got[2])
    # groups 0 (2 valid), 1 (3 valid) -> masked
    assert math.isnan(got[0]) and math.isnan(got[1])


@pytest.mark.parametrize("expected", [None, [0, 1, 2, 3]])
@pytest.mark.parametrize("func", ["nansum", "nanprod"])
def test_min_count_nan_identity_fills_nan(spark, func, expected):
    # flox/core.py:1036-1038: once min_count > 0, nansum/nanprod with
    # no fill_value fill NaN, not their 0/1 identity — for groups under
    # min_count and for expected-but-absent groups alike
    df = spark.createDataFrame(make_pdf("nan"))
    res = groupby_reduce(
        df, "label", func=func, value="v", min_count=4, expected_groups=expected
    ).collect()
    got = {r["label"]: r[func] for r in res}
    v = np.array(VALUES, dtype=np.float64)
    v[NAN_POS] = np.nan
    lab = np.array(LABELS)
    want = {}
    for g in expected or [0, 1, 2]:
        x = v[lab == g]
        want[g] = getattr(np, func)(x) if np.sum(~np.isnan(x)) >= 4 else np.nan
    assert set(got) == set(want)
    for g, w in want.items():
        assert_close(got[g], float(w))


def test_nan_labels_dropped(spark):
    # flox/factorize.py:201-212: NaN/NULL group labels dropped
    pdf = make_pdf(None)
    pdf["label"] = pdf["label"].astype(float)
    pdf.loc[0, "label"] = np.nan
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(df, "label", func="count", value="v").collect()
    got = {r["label"]: r["count"] for r in res}
    assert set(got) == {0.0, 1.0, 2.0}
    assert got[0.0] == 2  # row 0 dropped


def test_multi_by_cartesian(spark):
    # multiple by -> cartesian expected grid (flox/core.py:1196-1202)
    pdf = make_pdf(None)
    pdf["k2"] = (pdf["idx"] % 2).astype(np.int64)
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(
        df, "label", "k2", func="nansum", value="v",
        expected_groups=([0, 1, 2, 3], [0, 1]), fill_value=0.0,
    ).collect()
    assert len(res) == 8  # 4 x 2 grid
    got = {(r["label"], r["k2"]): r["nansum"] for r in res}
    assert got[(3, 0)] == 0.0 and got[(3, 1)] == 0.0


def test_binning(spark):
    # mirrors test_groupby_bins (reference tests/test_core.py:950-977):
    # data ones, labels [0.2,1.5,1.9,2,3,20], bins [0,1,2,4,5] ->
    # counts [1,3,1,0]: left-open right-closed (2.0 -> (1,2]),
    # 20 out of range -> dropped
    pdf = pd.DataFrame({
        "idx": range(6),
        "key": [0.2, 1.5, 1.9, 2.0, 3.0, 20.0],
        "v": [1.0] * 6,
    })
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(
        df, "key", func="count", value="v",
        isbin=True, expected_groups=[0, 1, 2, 4, 5], fill_value=0,
    ).collect()
    got = {r["key_bin"]: r["count"] for r in res}
    assert got == {0: 1, 1: 3, 2: 1, 3: 0}


def test_string_labels_sorted(spark):
    # string group labels sort correctly (reference test_core.py:1465-1484)
    pdf = pd.DataFrame({"label": ["b", "a", "c", "a", "b"], "v": [1.0, 2.0, 3.0, 4.0, 5.0]})
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(df, "label", func="nansum", value="v").collect()
    assert [r["label"] for r in res] == ["a", "b", "c"]
    assert [r["nansum"] for r in res] == [6.0, 6.0, 3.0]


def test_bin_labels_datetime(spark):
    # datetime bin edges come back as timestamp literals
    import pandas as _pd

    from flox_spark import groupby_reduce

    pdf = _pd.DataFrame(
        {
            "ts": _pd.date_range("2024-01-01", periods=20, freq="12h"),
            "v": range(20),
        }
    )
    breaks = ["2024-01-01", "2024-01-04", "2024-01-08", "2024-01-12"]
    rows = groupby_reduce(
        spark.createDataFrame(pdf), "ts", func="count", value="v",
        isbin=True, bin_labels=True, expected_groups=breaks, fill_value=0,
    ).collect()
    by_bin = {r["ts_bin"]: r for r in rows}
    assert by_bin[0]["ts_bin_left"] == _pd.Timestamp("2024-01-01")
    assert by_bin[0]["ts_bin_right"] == _pd.Timestamp("2024-01-04")
    assert by_bin[2]["ts_bin_right"] == _pd.Timestamp("2024-01-12")
    # left-open right-closed: the 2024-01-01 00:00 row is out of range
    assert sum(r["count"] for r in rows) == 19


@pytest.mark.parametrize(
    # reference tests/test_core.py:2293-2321 pins offset 1e7 (its
    # shift-by-first kernel, flox/aggregate_npg.py:112-126); Spark's
    # streaming central-moment merge holds ~1e-9 there and degrades
    # gracefully to ~1e-8 at 1e9 (measured) — pinned per magnitude so
    # a regression to naive E[x^2]-mu^2 (which loses ~0.3% at 1e7)
    # cannot slip in.  For extreme offsets, shift values upstream or
    # use standardize().
    "offset,rtol", [(1e7, 1e-9), (1e9, 1e-7)]
)
@pytest.mark.parametrize("func", ["var", "nanvar", "std", "nanstd"])
def test_var_offset_stability(spark, offset, rtol, func):
    import numpy as _np
    import pandas as _pd

    from flox_spark import groupby_reduce

    rng = _np.random.default_rng(9)
    n = 2000
    pdf = _pd.DataFrame(
        {"k": rng.integers(0, 3, n), "v": rng.normal(size=n) + offset}
    )
    df = spark.createDataFrame(pdf)
    got = {r["k"]: r[func] for r in
           groupby_reduce(df, "k", func=func, value="v").collect()}
    for g, grp in pdf.groupby("k"):
        v = grp["v"].to_numpy()
        want = _np.var(v) if "var" in func else _np.std(v)
        assert got[g] == pytest.approx(want, rel=rtol), (func, offset, g)


def test_public_bin_column(spark):
    import pandas as _pd
    from pyspark.sql import functions as _F

    from flox_spark import bin_column

    pdf = _pd.DataFrame({"x": [0.5, 5.0, 15.0, 99.0]})
    out = spark.createDataFrame(pdf).withColumn(
        "b", bin_column(_F.col("x"), [0.0, 10.0, 20.0])
    ).collect()
    got = [(r["x"], r["b"]) for r in out]
    assert got == [(0.5, 0), (5.0, 0), (15.0, 1), (99.0, None)]


def test_plan_has_shuffle_probe(spark):
    # r11 ADVICE: _tiny_sorted's coalesce(1) gate matches the plan
    # STRING for shuffle exchanges — pin both polarities on real plans
    # so a Spark upgrade that renames the node text trips here instead
    # of silently changing every sorted groupby's job shape
    import pandas as pd

    from pyspark.sql import functions as F

    from flox_spark.core import _plan_has_shuffle

    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"] * 50, "v": range(100)})
    )
    # plain grouped aggregate: hash exchange present
    assert _plan_has_shuffle(df.groupBy("k").agg(F.sum("v").alias("s")))
    # orderBy: range exchange present
    assert _plan_has_shuffle(df.orderBy("v"))
    # pure projection: no exchange of any kind
    assert not _plan_has_shuffle(df.select((F.col("v") * 2).alias("w")))
    # broadcast join: BroadcastExchange must NOT count (not a
    # coalesce-able boundary)
    dim = spark.createDataFrame(pd.DataFrame({"k": ["a"], "lbl": ["x"]}))
    assert not _plan_has_shuffle(df.join(F.broadcast(dim), "k"))


def test_key_is_value_negzero_sign_preserved(spark):
    # ADVICE r13 (low): _fold_negzero normalizes -0.0 GROUPING keys to
    # 0.0 (Catalyst NormalizeFloatingNumbers parity for the python
    # aggregate paths) — but when the key column is ALSO the value
    # column the fold must not rewrite the VALUE bits: first/min/sum
    # over a group of all -0.0 are sign-sensitive (-0.0, not 0.0).
    # NB sum is excluded: Spark's Sum zero-initializes its buffer, so
    # 0.0 + -0.0 = +0.0 by IEEE — the engine itself never emits a
    # -0.0 sum regardless of the fold (verified on a raw F.sum).
    rows = [(-0.0, i) for i in range(3)] + [(1.5, 10), (1.5, 11)]
    df = spark.createDataFrame(rows, schema="kf double, t int")
    for func, kw in (("first", {"order_by": "t"}), ("min", {}), ("max", {})):
        got = {
            r["kf"]: r["r"]
            for r in groupby_reduce(
                df, "kf", func=func, value="kf", alias="r", **kw
            ).collect()
        }
        # emitted KEY is normalized (one zero group, +0.0 bits) ...
        assert set(got) == {0.0, 1.5}
        assert all(math.copysign(1.0, k) == 1.0 for k in got)
        # ... but the reduced VALUE keeps the raw -0.0 sign
        assert math.copysign(1.0, got[0.0]) == -1.0, (func, got)


def test_key_is_value_negzero_multi(spark):
    from flox_spark import groupby_reduce_multi

    rows = [(-0.0, 1.0)] * 3 + [(2.5, 3.0)] * 2
    df = spark.createDataFrame(rows, schema="kf double, v double")
    res = {
        r["kf"]: (r["m_kf"], r["s_v"])
        for r in groupby_reduce_multi(
            df, "kf", aggs={"m_kf": ("min", "kf"), "s_v": ("sum", "v")}
        ).collect()
    }
    assert set(res) == {0.0, 2.5}
    assert math.copysign(1.0, res[0.0][0]) == -1.0
    assert res[0.0][1] == 3.0


# ---------------------------------------------------------------------------
# registry matrix: every reduction through the one groupby_reduce path,
# over value dtypes, order-column dtypes and the shaped options, each
# case checked against a per-group python/numpy expectation
# ---------------------------------------------------------------------------

_NAN = float("nan")
_T0 = datetime.datetime(2020, 1, 1)
_D0 = datetime.date(2020, 1, 1)

# t  ks    vd     vl    vb     kf
_MAIN_ROWS = [
    (1, "a", 1.5, 7, True, 2.5),
    (2, "a", -0.5, None, False, None),
    (3, "b", None, 9, None, 0.0),
    (4, None, 4.0, 4, True, -0.0),
    (5, "b", _NAN, -3, False, -0.0),
    (6, "c", _NAN, None, None, _NAN),
    (7, "a", 2.25, 0, True, 2.5),
    (8, "d", None, None, None, 1.0),
    (9, "b", 3.0, 5, True, 0.0),
]

# two rows per group, distinct order values of every order dtype
# g   vo     ob     day
_ORDER_ROWS = [
    ("a", 5.0, True, 3),
    ("a", 2.0, False, 1),
    ("b", _NAN, False, 2),
    ("b", 3.0, True, 5),
    ("c", None, True, 4),
    ("c", None, False, 0),
]

_KINDS = {  # value kind -> (key, value column)
    "double": ("ks", "vd"), "int": ("ks", "vl"), "bool": ("ks", "vb"),
    "float_key": ("kf", "kf"), "float32": ("ks", "vf"),
    "timestamp": ("ks", "ts"), "date": ("ks", "dd"), "timedelta": ("ks", "td"),
}
_DATETIME_KINDS = ("timestamp", "date", "timedelta")
_QFAM = ("median", "nanmedian", "quantile", "nanquantile")


def _matrix_frames(spark):
    from pyspark.sql import functions as F

    main = spark.createDataFrame(
        [
            r + (
                None if r[3] is None else _T0 + datetime.timedelta(hours=r[3]),
                None if r[3] is None else _D0 + datetime.timedelta(days=r[3]),
                None if r[3] is None else datetime.timedelta(minutes=r[3]),
            )
            for r in _MAIN_ROWS
        ],
        "t int, ks string, vd double, vl int, vb boolean, kf double, "
        "ts timestamp, dd date, td interval day to second",
    ).withColumn("vf", F.col("vd").cast("float"))
    order = spark.createDataFrame(
        [
            (g, v, ob, day, _D0 + datetime.timedelta(days=day),
             _T0 + datetime.timedelta(days=day), datetime.timedelta(days=day))
            for g, v, ob, day in _ORDER_ROWS
        ],
        "g string, vo double, ob boolean, oi int, od date, ots timestamp, "
        "otd interval day to second",
    )
    # cached: a python-list frame re-enters a Python worker per scan
    frames = {"main": main.cache(), "order": order.cache()}
    for f in frames.values():
        f.count()
    return frames


def registry_matrix_cases() -> list[tuple[str, str, dict, dict]]:
    """(family, frame, groupby_reduce kwargs, set_options kwargs)."""
    cases: list[tuple[str, str, dict, dict]] = []

    def add(family, frame, opts=None, **kw):
        # the sort=False output shapes are value-dtype independent:
        # the plain, order and shaped families cover them
        sorts = (True,) if family in ("datetime", "quantile") else (True, False)
        for sort in sorts:
            cases.append((family, frame, {**kw, "sort": sort}, opts or {}))

    for kind, (key, val) in _KINDS.items():
        family = "datetime" if kind in _DATETIME_KINDS else "plain"
        for func, agg in REDUCTIONS.items():
            if kind in _DATETIME_KINDS and func in (
                "prod", "nanprod", "sum_of_squares", "nansum_of_squares"
            ):
                continue  # int64-us products overflow
            kw = {"func": func, "by": key, "value": val}
            if agg.needs_order:
                kw["order_by"] = "t"
            add(family, "main", **kw)
            if func in ("var", "nanvar", "std", "nanstd"):
                for ddof in (1, 2):
                    add(family, "main", **kw, finalize_kwargs={"ddof": ddof})
            if func in _QFAM:
                add("quantile", "main", {"quantile_impl": "agg"}, **kw)
                if kind not in _DATETIME_KINDS:
                    add("quantile", "main", {"approx_quantile": True}, **kw)
        if kind not in _DATETIME_KINDS:
            vec = {"func": "nanquantile", "by": key, "value": val,
                   "finalize_kwargs": {"q": [0.25, 0.75]}}
            add("quantile", "main", **vec)
            add("quantile", "main", {"quantile_impl": "agg"}, **vec)
    for order_by in ("oi", "ob", "od", "ots", "otd"):
        for func in ("first", "last", "nanfirst", "nanlast",
                     "argmin", "argmax", "nanargmin", "nanargmax"):
            add("order", "order", func=func, by="g", value="vo", order_by=order_by)
    grid = {"expected_groups": ["a", "b", "c", "d", "e"], "fill_value": -1.0}
    for func in ("sum", "nansum", "nanprod", "count", "mean", "nanmax", "nunique", "nanmedian"):
        add("shaped", "main", func=func, by="ks", value="vd", **grid)
    add("shaped", "main", func="nanfirst", by="ks", value="vd", order_by="t", **grid)
    add("shaped", "main", func="var", by="ks", value="vd", finalize_kwargs={"ddof": 1}, **grid)
    bins = {"expected_groups": [0, 3, 6, 9], "isbin": True, "bin_labels": True}
    for func in ("nansum", "count", "mean", "max", "nanmedian"):
        add("shaped", "main", func=func, by="t", value="vd", **bins)
    add("shaped", "main", func="nanlast", by="t", value="vl", order_by="t", **bins)
    for func in ("nansum", "nanprod", "nanmean", "nanmax"):
        add("shaped", "main", func=func, by="ks", value="vd", min_count=2)
        add("shaped", "main", func=func, by="ks", value="vd", min_count=2, fill_value=0.0)
        add("shaped", "main", func=func, by="ks", value="vl", min_count=3)
    add("shaped", "main", func="nansum", by="ks", value="vd", min_count=2,
        expected_groups=["a", "b", "c", "d", "e"])
    for func, val, dtype in (
        ("nansum", "vd", "float32"), ("sum", "vf", "float64"), ("nanmax", "vl", "float64"),
        ("mean", "vl", "float32"), ("count", "vl", "int32"),
    ):
        add("shaped", "main", func=func, by="ks", value=val, dtype=dtype)
    return cases


def _missing(x) -> bool:
    return x is None or (isinstance(x, float) and math.isnan(x))


def _num(x):
    """Values in the engine's arithmetic view: datetimes as int64
    microseconds, dates as epoch days, bools as ints."""
    if isinstance(x, datetime.datetime):
        return round(x.timestamp() * 1_000_000)
    if isinstance(x, datetime.date):
        return (x - datetime.date(1970, 1, 1)).days
    if isinstance(x, datetime.timedelta):
        return x // datetime.timedelta(microseconds=1)
    if isinstance(x, bool):
        return int(x)
    return x


def _expect_group(func: str, xs: list, order: list, fk: dict):
    """flox semantics for one group: ``xs`` values in the arithmetic
    view (None/NaN missing), ``order`` the numericized order values.
    None stands for a missing result (NaN or NULL)."""
    miss = [_missing(x) for x in xs]
    vals = [x for x, m in zip(xs, miss) if not m]
    poisoned = any(miss) and not func.startswith("nan")
    by_order = sorted(zip(order, xs, miss), key=lambda p: p[0]) if None not in order else []
    if func in ("count", "nanlen"):
        return len(vals)
    if func == "len":
        return len(xs)
    if func in ("nunique", "nannunique", "approx_nunique"):
        return len(set(vals)) + (1 if func == "nunique" and any(miss) else 0)
    if func in ("all", "any"):
        truth = [True if _missing(x) else bool(x) for x in xs if x is not None]
        return (all if func == "all" else any)(truth) if truth else False
    if func in ("first", "last", "nanfirst", "nanlast"):
        seq = by_order if func in ("first", "last") else [p for p in by_order if not p[2]]
        if not seq:
            return None
        _, x, m = seq[0] if func.endswith("first") else seq[-1]
        return None if m else x
    if func in ("argmin", "argmax", "nanargmin", "nanargmax"):
        if func in ("argmin", "argmax") and any(miss):
            return min(o for o, _, m in by_order if m)
        cand = [(x, o) for o, x, m in by_order if not m]
        if not cand:
            return None
        best = (min if func.endswith("min") else max)(x for x, _ in cand)
        return min(o for x, o in cand if x == best)
    if poisoned:
        return None
    if func in ("sum", "nansum"):
        return sum(vals)
    if func in ("prod", "nanprod"):
        return math.prod(vals)
    if func in ("sum_of_squares", "nansum_of_squares"):
        return sum(x * x for x in vals)
    if not vals:
        return None
    if func in ("mean", "nanmean"):
        return float(np.mean(vals))
    if func in ("var", "nanvar", "std", "nanstd"):
        ddof = fk.get("ddof", 0)
        if len(vals) <= ddof:
            return None
        v = float(np.var(vals, ddof=ddof))
        return math.sqrt(v) if "std" in func else v
    if func in ("min", "nanmin", "max", "nanmax"):
        return (min if "min" in func else max)(vals)
    if func in _QFAM:
        q = 0.5 if "median" in func else fk.get("q", 0.5)
        method = fk.get("method", "linear")
        if isinstance(q, list):
            return [float(np.quantile(vals, x, method=method)) for x in q]
        return float(np.quantile(vals, q, method=method))
    if func in ("mode", "nanmode"):
        counts = {}
        for x in vals:
            counts[x] = counts.get(x, 0) + 1
        top = max(counts.values())
        return min(x for x, c in counts.items() if c == top)
    raise AssertionError(func)


def _run_case(frames, frame, kw, opts):
    from flox_spark.options import set_options

    kw = dict(kw)
    by = kw.pop("by")
    with set_options(**opts):
        return groupby_reduce(frames[frame], by, alias="r", **kw)


def _expect_case(frame_rows, kw, opts) -> list[tuple]:
    """Expected (key, result) rows in the expected output order; the
    key is the bin index for isbin cases, (key, q) for vector q."""
    func, by, value = kw["func"], kw["by"], kw["value"]
    fk = dict(kw.get("finalize_kwargs") or {})
    if opts.get("approx_quantile"):
        fk["method"] = "inverted_cdf"  # percentile_approx returns an element
    groups: dict = {}
    first_seen: dict = {}
    for row in frame_rows:
        k = row[by]
        if _missing(k):
            continue
        if kw.get("isbin"):
            br = kw["expected_groups"]
            k = next((i for i in range(len(br) - 1) if br[i] < k <= br[i + 1]), None)
            if k is None:
                continue
        elif isinstance(k, float) and k == 0:
            k = 0.0
        x = _num(row[value])
        if kw.get("dtype") in ("float32", "float64") and x is not None:
            x = float(np.float32(x)) if kw["dtype"] == "float32" else float(x)
        o = _num(row[kw["order_by"]]) if kw.get("order_by") else None
        groups.setdefault(k, ([], []))
        groups[k][0].append(x)
        groups[k][1].append(o)
        if o is not None:
            first_seen[k] = min(first_seen.get(k, o), o)
    min_count = kw.get("min_count")
    fill = kw.get("fill_value")
    expected = kw.get("expected_groups")
    if min_count is None and fill is not None and expected is not None:
        min_count = 1
    agg = REDUCTIONS[func]
    if fill is None and min_count and func in ("nansum", "nanprod"):
        fill = _NAN
    if fill is None:
        fill = agg.default_fill
    restore = value in ("ts", "dd", "td") and func in _QFAM + ("mean", "nanmean")
    out = {}
    for k, (xs, order) in groups.items():
        r = _expect_group(func, xs, order, fk)
        if restore and r is not None:
            r = int(r)  # the restore casts to int64 us / int days: truncation
        if min_count and sum(not _missing(x) for x in xs) < min_count:
            r = fill
        out[k] = r
    keys = list(out)
    if expected is not None:
        keys = list(range(len(expected) - 1)) if kw.get("isbin") else list(expected)
        out = {k: out.get(k, fill) for k in keys}
    if kw["sort"]:
        keys = sorted(keys)
    elif expected is not None:
        pass  # declared order
    elif kw.get("order_by"):
        keys = sorted(keys, key=lambda k: first_seen[k])
    else:
        keys = sorted(keys, key=repr)  # unspecified: compare as a set
    rows = []
    for k in keys:
        r = out[k]
        if isinstance(fk.get("q"), list):
            r = [None] * len(fk["q"]) if r is None else r
            rows += [((k, q), v) for q, v in zip(fk["q"], r)]
        else:
            rows.append((k, r))
    return rows


def _close(got, want, rel: float) -> bool:
    if want is None or _missing(want):
        return _missing(got)
    if isinstance(want, list):
        return isinstance(got, list) and all(_close(g, w, rel) for g, w in zip(got, want))
    got = _num(got)
    if isinstance(want, float) or isinstance(got, float):
        return got == pytest.approx(want, rel=rel, abs=1e-12)
    return got == want


# funcs whose result keeps or restores a datetime value type
_DT_RESULT = {"mean", "nanmean", "median", "nanmedian", "quantile", "nanquantile",
              "min", "max", "nanmin", "nanmax", "first", "last", "nanfirst",
              "nanlast", "mode", "nanmode"}


@pytest.mark.parametrize("family", ["plain", "datetime", "quantile", "order", "shaped"])
def test_registry_matrix(spark, family):
    """Every registry reduction through the single groupby_reduce
    assembly path: value dtypes (string key over double with NaN and
    NULL, int, bool, a float key that is also the value, float32,
    timestamp, date, timedelta), bool/date/timestamp/timedelta order
    columns for the positional funcs, ddof 1/2, both ``sort`` settings
    and the shaped options (expected grid + fill, bins + labels,
    min_count, dtype), each against a per-group expectation."""
    frames = _matrix_frames(spark)
    try:
        rows = {name: [r.asDict() for r in f.collect()] for name, f in frames.items()}
        cases = [c for c in registry_matrix_cases() if c[0] == family]
        for _, frame, kw, opts in cases:
            _check_case(frames, frame, rows[frame], family, kw, opts)
    finally:
        for f in frames.values():
            f.unpersist()
    assert len(cases) >= 40


def _check_case(frames, frame, frame_rows, fam, kw, opts) -> None:
    res = _run_case(frames, frame, kw, opts)
    got_rows = res.collect()
    key = f"{kw['by']}_bin" if kw.get("isbin") else kw["by"]
    got = [((r[key], r["q"]) if "q" in res.columns else r[key], r["r"]) for r in got_rows]
    if not kw["sort"] and kw.get("expected_groups") is None and not kw.get("order_by"):
        got = sorted(got, key=lambda p: repr(p[0]))
    want = _expect_case(frame_rows, kw, opts)
    rel = 1e-6 if kw["value"] == "vf" or kw.get("dtype") == "float32" else 1e-12
    where = (fam, kw, opts)
    assert [k for k, _ in got] == [k for k, _ in want], (where, got, want)
    for (_, g), (_, w) in zip(got, want):
        assert _close(g, w, rel), (where, got, want)
    if kw["value"] in ("ts", "dd", "td"):
        dt_like = kw["func"] in _DT_RESULT or (
            kw["value"] == "td" and kw["func"] in ("sum", "nansum")
        )
        assert all(
            g is None or isinstance(g, (datetime.date, datetime.timedelta)) == dt_like
            for _, g in got
        ), (where, got)
    if kw.get("bin_labels"):
        br = kw["expected_groups"]
        assert all(
            (r["t_bin_left"], r["t_bin_right"]) == (br[r["t_bin"]], br[r["t_bin"] + 1])
            for r in got_rows
        ), (where, got_rows)


def build_py4j_count(spark, build, make_df, reps: int = 3) -> int:
    """py4j commands sent from this thread while ``build(df)`` BUILDS
    (no action) over a fresh ``make_df()`` frame: the minimum over
    ``reps`` frames after one warm-up build, with the garbage collector
    off so no finalizer round trips land in the window."""
    import gc
    import threading

    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    main = threading.get_ident()
    n = [0]

    def counted(*args, **kwargs):
        if threading.get_ident() == main:
            n[0] += 1
        return orig(*args, **kwargs)

    best = None
    for rep in range(reps + 1):
        df = make_df()
        df.schema  # noqa: B018 - fetched (and cached) outside the window
        gc.collect()
        gc.disable()
        n[0] = 0
        client.send_command = counted
        try:
            build(df)
        finally:
            del client.send_command
            gc.enable()
        if rep > 0:  # the first pass warms py4j's reflection caches
            best = n[0] if best is None else min(best, n[0])
    return best


def build_py4j_counts(spark, reps: int = 3) -> tuple[int, int]:
    """``build_py4j_count`` of a plain ``sum`` and of a ``nansum`` with
    ``expected_groups`` + ``fill_value``."""

    def make_df():
        return spark.createDataFrame(
            [(1, 1.0), (2, float("nan")), (1, None)], "k long, v double"
        )

    shapes = ({"func": "sum"},
              {"func": "nansum", "expected_groups": [1, 2, 3], "fill_value": 0.0})
    plain, shaped = (
        build_py4j_count(spark, lambda df: groupby_reduce(df, "k", value="v", **kw), make_df, reps)
        for kw in shapes
    )
    return plain, shaped


def test_build_py4j_round_trips(spark):
    """Every F.* call is a JVM round trip, so the reduction's
    expression is parsed from SQL text on every call shape.  At the
    commit before the registry became SQL-text only, this count read
    56 for the plain sum and 330 for the shaped nansum (whose Column
    expressions cost ~270 round trips more than their text)."""
    plain, shaped = build_py4j_counts(spark)
    assert plain <= 56, plain
    assert shaped < 330, shaped


@pytest.mark.parametrize("caller,bound", [("weighted", 300), ("entropy", 250)])
def test_label_drop_py4j_round_trips(spark, caller, bound):
    """The NULL/NaN label drop is one filter parsed from SQL text over
    one schema read (``dtypes.drop_missing``).  A per-key
    ``filter(~isnull | isnan)`` loop re-reads the schema after each
    filter; at the commit before the single drop, these two-key builds
    counted 412 (weighted mean) and 336 (entropy) round trips; one
    filter brings them to about 190."""
    from flox_spark.stats import groupby_entropy
    from flox_spark.weighted import groupby_reduce_weighted

    def make_df():
        return spark.createDataFrame(
            [("a", 1.0, 2.0, 1.0), (None, float("nan"), 3.0, 1.0)],
            "s string, f double, v double, w double",
        )

    build = {
        "weighted": lambda df: groupby_reduce_weighted(
            df, "s", "f", func="mean", value="v", weights="w"),
        "entropy": lambda df: groupby_entropy(df, "s", "f", value="v"),
    }[caller]
    n = build_py4j_count(spark, build, make_df)
    assert n < bound, n


@pytest.mark.parametrize("caller,bound", [("diff", 815), ("ewm", 890)])
def test_blocked_build_py4j_round_trips(spark, caller, bound):
    """Building a forced-blocked plan: ``blocked_scan``'s block breaks
    are one ``percentile_approx`` parsed from SQL text, and the EWM
    carry is one SQL-text ordered fold over the block input.  At the
    commit before, with 31 ``F.lit`` probabilities and the EWM carry
    selected from the kernel's output, these builds counted 944 (diff)
    and 1313 (EWM mean) round trips; now about 800 and 875."""
    import flox_spark as fx

    def make_df():
        return spark.createDataFrame(
            [(1, 1, 1.0), (2, 2, float("nan")), (1, 3, None)], "k long, t long, v double"
        )

    build = {
        "diff": lambda df: fx.groupby_shift_blocked(df, "k", value="v", order_by="t", func="diff"),
        "ewm": lambda df: fx.groupby_ewm(
            df, "k", value="v", order_by="t", alpha=0.3, plan="blocked"),
    }[caller]
    n = build_py4j_count(spark, build, make_df)
    assert n <= bound, n


# -- one-task plans for small inputs (plans.util.one_task_if_small) ---------


def _noop_jobs(spark, df) -> int:
    """Jobs of one warm noop-sink execution of ``df``."""
    st = spark.sparkContext.statusTracker()

    def run():
        df.write.format("noop").mode("overwrite").save()

    run()  # warm: plan, parquet footers
    before = set(st.getJobIdsForGroup(None))
    run()
    return len(set(st.getJobIdsForGroup(None)) - before)


def test_small_input_runs_one_task(spark, monkeypatch):
    """A plain sum over a small frame is one stage: no hash exchange
    and one job.  With the small-input bound at 0 the same call keeps
    the distributed shape (partial aggregate, hash exchange, final
    aggregate)."""
    import flox_spark.plans.util as plan_util

    rng = np.random.default_rng(9)
    df = spark.createDataFrame(pd.DataFrame({
        "k": rng.integers(0, 7, 5000), "v": rng.normal(size=5000),
    }))

    def build():
        return groupby_reduce(df, "k", func="sum", value="v")

    res = build()
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "Exchange" not in plan, plan
    assert _noop_jobs(spark, res) == 1

    monkeypatch.setattr(plan_util, "SMALL_INPUT_MAX_BYTES", 0)
    plan = build()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_one_task_and_distributed_rows_identical(spark, monkeypatch):
    """Every registry function gives the same rows (values, keys and
    order) on the one-task plan and on the distributed plan, over one
    cached frame."""
    import flox_spark.plans.util as plan_util

    frames = _matrix_frames(spark)
    try:
        cases = [
            kw for fam, frame, kw, opts in registry_matrix_cases()
            if fam in ("plain", "shaped") and frame == "main" and not opts
            and (kw["value"] == "vd" or fam == "shaped")
            and kw.get("finalize_kwargs") is None
            and (kw["sort"] or kw.get("order_by"))  # else the order is unspecified
        ]
        funcs = {kw["func"] for kw in cases if kw["value"] == "vd"}
        assert funcs == set(REDUCTIONS), set(REDUCTIONS) - funcs

        probe = _run_case(frames, "main", cases[0], {})._jdf.queryExecution()
        assert "Exchange" not in probe.executedPlan().toString()  # the one-task branch

        def rows(bound):
            with monkeypatch.context() as m:
                m.setattr(plan_util, "SMALL_INPUT_MAX_BYTES", bound)
                return [[r.asDict() for r in _run_case(frames, "main", kw, {}).collect()]
                        for kw in cases]

        small, dist = rows(plan_util.SMALL_INPUT_MAX_BYTES), rows(0)
        for kw, a, b in zip(cases, small, dist):
            assert [{**r, "r": None} for r in a] == [{**r, "r": None} for r in b], (kw, a, b)
            assert all(_close(x["r"], y["r"], 1e-12) for x, y in zip(a, b)), (kw, a, b)
    finally:
        for f in frames.values():
            f.unpersist()
