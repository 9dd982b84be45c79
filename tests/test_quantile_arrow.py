"""The r11 "arrow" exact-quantile strategy (one np.quantile grouped-agg
kernel per group) vs the other exact strategies and numpy itself.
numpy IS the reference semantics, so the kernel must agree with the
agg/sort/refine paths on every policy axis: NaN poison vs skip,
min_count + fill_value, vector q, datetimes, empty/all-missing groups.
"""

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from flox_spark import groupby_reduce, set_options

STRATS = ("agg", "arrow", "driver", "sort", "refine")


def _frame(spark, with_nan=True, with_null=True):
    rng = np.random.RandomState(7)
    n = 400
    v = rng.uniform(-50, 50, n)
    if with_nan:
        v[::17] = np.nan
    vals = [None if (with_null and i % 23 == 0) else float(x) for i, x in enumerate(v)]
    pdf = pd.DataFrame({"k": [f"g{i % 4}" for i in range(n)], "v": vals})
    return spark.createDataFrame(pdf), pdf


def _collect(df, cols=("k",)):
    return sorted(
        (tuple(r[c] for c in cols) + (r["out"],) for r in df.collect()),
        key=str,
    )


def _close(a, b):
    assert len(a) == len(b)
    for x, y in zip(a, b):
        assert x[:-1] == y[:-1], (x, y)
        xv, yv = x[-1], y[-1]
        if xv is None or yv is None:
            assert xv == yv, (x, y)
        elif isinstance(xv, float) and np.isnan(xv):
            assert np.isnan(yv), (x, y)
        else:
            assert abs(xv - yv) < 1e-9, (x, y)


@pytest.mark.parametrize("func", ["quantile", "nanquantile", "median", "nanmedian"])
def test_four_strategies_agree(spark, func):
    df, pdf = _frame(spark)
    kw = {"q": 0.37} if "quantile" in func else None
    outs = {}
    for s in STRATS:
        with set_options(quantile_impl=s):
            outs[s] = _collect(
                groupby_reduce(df, "k", func=func, value="v", alias="out",
                               finalize_kwargs=kw)
            )
    for s in STRATS[1:]:
        _close(outs["agg"], outs[s])
    # numpy golden per the engine's missing rule (README/correctness
    # spec): NULL and NaN are both "missing"; nan* funcs SKIP missing,
    # plain funcs POISON the group to NaN when ANY value is missing.
    # (The pandas source conflates None and np.nan in a float column,
    # so per-kind goldens are unrepresentable here anyway.)
    q = 0.37 if "quantile" in func else 0.5
    want = []
    for k, grp in pdf.groupby("k"):
        isna = pd.isna(grp["v"]).to_numpy()
        a = grp["v"].astype(float).to_numpy()[~isna]
        if func.startswith("nan"):
            want.append((k, float(np.quantile(a, q)) if a.size else float("nan")))
        else:
            want.append((k, float("nan") if isna.any() else float(np.quantile(a, q))))
    _close(sorted(want, key=str), outs["arrow"])


def _same(got, want):
    return got == want or (np.isnan(got) and np.isnan(want))


# q -> per-group values: medians whose lerp crosses infinities, and
# the q -> 1 neighbour pair where a one-sided lerp cancels
# catastrophically
_LERP_CASES = {
    0.5: {"a": [np.inf, np.inf, np.inf], "b": [1.0, np.inf], "c": [-16385.0, 0.0]},
    1 - 2**-53: {"c": [-16385.0, 0.0]},
}


@pytest.mark.parametrize("route", [*STRATS, "multi"])
def test_quantile_lerp_parity(spark, route):
    # every surviving strategy and groupby_reduce_multi's fused kernel
    # interpolate with numpy's rule: exact equality with np.quantile
    # (NaN == NaN), no tolerance
    from flox_spark import groupby_reduce_multi

    for q, groups in _LERP_CASES.items():
        rows = [(k, v) for k, vals in groups.items() for v in vals]
        df = spark.createDataFrame(rows, "k string, v double")
        fk = {"q": q}
        if route == "multi":
            out = groupby_reduce_multi(
                df, "k", aggs={"out": {"func": "nanquantile", "value": "v",
                                       "finalize_kwargs": fk}},
            )
        else:
            with set_options(quantile_impl=route):
                out = groupby_reduce(df, "k", func="nanquantile", value="v",
                                     alias="out", finalize_kwargs=fk)
        got = {r["k"]: r["out"] for r in out.collect()}
        for k, vals in groups.items():
            want = float(np.quantile(np.array(vals), q))
            assert got[k] is not None and _same(got[k], want), (route, q, vals, got[k], want)


def test_vector_q_and_min_count(spark):
    df, _ = _frame(spark)
    outs = {}
    for s in STRATS:
        with set_options(quantile_impl=s):
            out = groupby_reduce(
                df, "k", func="nanquantile", value="v", alias="out",
                finalize_kwargs={"q": [0.1, 0.5, 0.9]},
                min_count=1000, fill_value=-1.0,
            )
            outs[s] = sorted(
                ((r["k"], r["q"], r["out"]) for r in out.collect()), key=str
            )
    assert all(v == -1.0 for _, _, v in outs["arrow"])  # min_count trips
    for s in STRATS[1:]:
        assert outs["agg"] == outs[s]


def test_all_missing_group_and_expected_fill(spark):
    pdf = pd.DataFrame(
        {"k": ["a", "a", "b", "b"], "v": [1.0, 3.0, None, float("nan")]}
    )
    df = spark.createDataFrame(pdf)
    for s in STRATS:
        with set_options(quantile_impl=s):
            rows = {
                r["k"]: r["out"]
                for r in groupby_reduce(
                    df, "k", func="nanmedian", value="v", alias="out",
                    expected_groups=["a", "b", "c"], fill_value=-9.0,
                ).collect()
            }
        assert rows["a"] == 2.0, s
        # expected_groups + fill_value defaults min_count to 1 (the
        # flox rule), so the zero-countable-value group FILLS
        assert rows["b"] == -9.0, s
        assert rows["c"] == -9.0, s     # absent group, filled
        # non-skipna: b's NaN poisons
        with set_options(quantile_impl=s):
            rows = {
                r["k"]: r["out"]
                for r in groupby_reduce(
                    df, "k", func="median", value="v", alias="out"
                ).collect()
            }
        assert rows["a"] == 2.0 and np.isnan(rows["b"]), s


def test_datetime_values(spark):
    base = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 4,
            "v": [base + dt.timedelta(minutes=m) for m in (0, 10, 20, 31)],
        }
    )
    df = spark.createDataFrame(pdf)
    outs = []
    for s in STRATS:
        with set_options(quantile_impl=s):
            outs.append(
                groupby_reduce(df, "k", func="nanmedian", value="v", alias="out")
                .collect()[0]["out"]
            )
    assert len(set(outs)) == 1
    assert outs[0] == base + dt.timedelta(minutes=15)


def test_stats_auto_picks_arrow_small(spark):
    # r12: the tiny zone now routes to "driver"; "arrow" owns the band
    # between the driver and agg bounds
    from flox_spark.core import _choose_quantile_impl
    from flox_spark.options import set_options

    df, _ = _frame(spark)
    assert _choose_quantile_impl(df) == "driver"
    with set_options(quantile_driver_max_bytes=0):
        assert _choose_quantile_impl(df) == "arrow"


def test_all_missing_group_without_fill_is_null(spark):
    # no min_count/fill: the empty group is NULL on every strategy
    # (the arrow kernel's [nan] empty-group marker becomes NULL
    # through the Arrow array conversion — exactly percentile-of-
    # empty's NULL, pinned here so the coincidence stays load-bearing)
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("k string, v double")
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", None), ("b", None)], schema=schema
    )
    for s in STRATS:
        with set_options(quantile_impl=s):
            rows = {
                r["k"]: r["out"]
                for r in groupby_reduce(
                    df, "k", func="nanmedian", value="v", alias="out"
                ).collect()
            }
        assert rows == {"a": 2.0, "b": None}, s


def test_inf_mixed_group_yields_nan_not_null(spark):
    # review finding: pyarrow serializes NaN inside the returned array
    # as null, so a legitimately-NaN quantile (interpolating across
    # mixed infinities) came back NULL on the arrow path; the n>0
    # coalesce reconstructs the NaN.  numpy: quantile([-inf, inf],
    # 0.5) -> nan
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("k string, v double")
    df = spark.createDataFrame(
        [("a", float("-inf")), ("a", float("inf")), ("b", 1.0), ("b", 2.0)],
        schema=schema,
    )
    for s in STRATS:
        with set_options(quantile_impl=s):
            rows = {
                r["k"]: r["out"]
                for r in groupby_reduce(
                    df, "k", func="nanmedian", value="v", alias="out"
                ).collect()
            }
        assert rows["b"] == 1.5, s
        assert rows["a"] is not None and np.isnan(rows["a"]), (s, rows["a"])


def test_driver_kernel_fallback_on_high_cardinality(spark, monkeypatch):
    # past the group cap the driver kernel declines (returns None) and
    # the dispatch falls back to the distributed arrow kernel — same
    # results either way
    import flox_spark.core as C

    pdf = pd.DataFrame({"k": [f"g{i}" for i in range(50)] * 2,
                        "v": np.arange(100.0)})
    df = spark.createDataFrame(pdf)
    with set_options(quantile_impl="driver"):
        want = sorted(map(tuple, groupby_reduce(
            df, "k", func="nanmedian", value="v", alias="m").collect()))
        monkeypatch.setattr(C, "_QUANTILE_DRIVER_MAX_GROUPS", 10)
        calls = []
        orig = C._quantile_driver

        def spy(*a, **kw):
            r = orig(*a, **kw)
            calls.append(r is None)
            return r

        monkeypatch.setattr(C, "_quantile_driver", spy)
        got = sorted(map(tuple, groupby_reduce(
            df, "k", func="nanmedian", value="v", alias="m").collect()))
    assert calls == [True]  # declined -> arrow fallback ran
    assert got == want


def test_driver_kernel_exotic_key_types(spark):
    # the driver kernel round-trips keys Arrow -> python -> LocalRelation
    # (dictionary.to_pylist -> createDataFrame): timestamp keys are the
    # tz-sensitive case (session TZ is UTC), date/bool/float the others
    # — all must match the distributed kernel exactly, single and
    # multi-key
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "kt": pd.to_datetime(
            ["2024-01-01 12:00:00", "2024-06-15 23:59:59"]
        )[rng.integers(0, 2, 400)],
        "kd": pd.to_datetime(["2024-01-01", "2024-03-01"])[
            rng.integers(0, 2, 400)
        ].date,
        "kb": rng.integers(0, 2, 400).astype(bool),
        "kf": np.array([1.5, 2.25])[rng.integers(0, 2, 400)],
        "v": rng.normal(0, 10, 400),
    })
    df = spark.createDataFrame(pdf)

    def run(impl, by):
        with set_options(quantile_impl=impl):
            return sorted(
                tuple(map(str, r))
                for r in groupby_reduce(
                    df, *by, func="nanmedian", value="v", alias="m"
                ).collect()
            )

    for by in (["kt"], ["kd"], ["kb"], ["kf"], ["kt", "kb"]):
        assert run("driver", by) == run("arrow", by), by


def test_driver_kernel_nan_negzero_float_keys(spark):
    # ADVICE r12 (medium): Spark's groupBy normalizes float keys
    # (NormalizeFloatingNumbers: -0.0 == 0.0, all NaN payloads one
    # group) while pc.dictionary_encode distinguishes -0.0 from 0.0 —
    # without the Arrow-side pre-encode normalization the driver
    # kernel splits one Spark group into two LocalRelation rows.
    # NULL/NaN LABELS never reach either kernel through
    # groupby_reduce (the flox NaN-label drop filters them at
    # core.py's label prep) but must be dropped IDENTICALLY on both
    # strategies; the kernel itself additionally normalizes NaN keys
    # and re-enters them via the list path as defense for any caller
    # that skips the label filter.
    rows = [
        (0.0, 1.0), (-0.0, 2.0), (0.0, 3.0),          # -0.0 folds into 0.0
        (float("nan"), 10.0), (float("nan"), 20.0),   # dropped (NaN label)
        (None, 100.0), (None, 200.0),                 # dropped (NULL label)
        (1.5, 7.0), (1.5, 9.0),
    ]
    df = spark.createDataFrame(rows, schema="kf double, v double")

    def run(impl):
        with set_options(quantile_impl=impl):
            return sorted(
                (str(r["kf"]), r["m"])
                for r in groupby_reduce(
                    df, "kf", func="nanmedian", value="v", alias="m"
                ).collect()
            )

    got, want = run("driver"), run("arrow")
    assert got == want
    assert [k for k, _ in got] == ["0.0", "1.5"]  # ONE zero group, no -0.0
    assert dict(got)["0.0"] == 2.0  # median over the MERGED {1,2,3}


def test_driver_forced_mode_size_guard(spark, monkeypatch):
    # ADVICE r12 (low): forcing quantile_impl="driver" used to collect
    # the ENTIRE input before any bound applied — now a known plan
    # size past _QUANTILE_DRIVER_HARD_FACTOR x the auto gate declines
    # BEFORE the collect and the dispatch falls back to arrow
    import flox_spark.core as C

    pdf = pd.DataFrame({"k": ["a", "b"] * 50, "v": np.arange(100.0)})
    df = spark.createDataFrame(pdf)
    with set_options(quantile_impl="arrow"):
        want = sorted(map(tuple, groupby_reduce(
            df, "k", func="nanmedian", value="v", alias="m").collect()))

    collected = []
    orig = C._quantile_driver

    def spy(*a, **kw):
        r = orig(*a, **kw)
        collected.append(r is None)
        return r

    monkeypatch.setattr(C, "_quantile_driver", spy)
    with set_options(quantile_impl="driver", quantile_driver_max_bytes=0):
        got = sorted(map(tuple, groupby_reduce(
            df, "k", func="nanmedian", value="v", alias="m").collect()))
    assert collected == [True], "forced driver must decline past the hard gate"
    assert got == want


# ---- driver-vs-arrow key-codec property fuzz (r12 VERDICT next #5) ----

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst

_CODEC_POOLS = {
    "int": ("bigint", [0, 1, 7, None]),
    "float": ("double", [0.0, -0.0, 1.5, float("nan"), None, 2.25]),
    "str": ("string", ["a", "b", "", None]),
    "bool": ("boolean", [True, False, None]),
    "ts": ("timestamp", [
        dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=dt.timezone.utc),
        dt.datetime(2024, 6, 15, 23, 59, 59, tzinfo=dt.timezone.utc),
        None,
    ]),
    "date": ("date", [dt.date(2024, 1, 1), dt.date(2024, 3, 1), None]),
}


@hst.composite
def _codec_case(draw):
    n = draw(hst.integers(5, 60))
    ktypes = draw(hst.lists(
        hst.sampled_from(sorted(_CODEC_POOLS)), min_size=1, max_size=2,
        unique=True,
    ))
    cols, ddl = [], []
    for i, kt in enumerate(ktypes):
        typ, pool = _CODEC_POOLS[kt]
        idx = draw(hst.lists(
            hst.integers(0, len(pool) - 1), min_size=n, max_size=n))
        cols.append([pool[j] for j in idx])
        ddl.append(f"k{i} {typ}")
    vals = draw(hst.lists(
        hst.one_of(
            hst.none(),
            hst.just(float("nan")),
            hst.floats(-100, 100, allow_nan=False, allow_infinity=False),
        ),
        min_size=n, max_size=n,
    ))
    cols.append(vals)
    ddl.append("v double")
    rows = list(zip(*cols))
    return rows, ", ".join(ddl), [f"k{i}" for i in range(len(ktypes))]


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_codec_case())
def test_driver_codec_property(spark, case):
    # the driver kernel's Arrow -> dictionary-code -> divmod ->
    # LocalRelation key round trip must equal the distributed arrow
    # kernel on RANDOM key-type mixes: NULL keys, NaN / -0.0 floats,
    # tz-aware timestamps, dates, bools, single and multi-key — the
    # combinatorial cover over the 4 fixed frames pinned above
    rows, ddl, by = case
    df = spark.createDataFrame(rows, schema=ddl)

    def run(impl):
        with set_options(quantile_impl=impl):
            return sorted(
                tuple(map(str, r))
                for r in groupby_reduce(
                    df, *by, func="nanmedian", value="v", alias="m"
                ).collect()
            )

    assert run("driver") == run("arrow")


def test_driver_kernel_nan_key_list_path_direct(spark):
    # groupby_reduce filters NaN/NULL LABELS before any kernel (flox
    # parity), so the driver kernel's NaN-key list-path re-entry is
    # unreachable through the public API — exercise it DIRECTLY: a
    # work frame whose float key holds NaN, -0.0 and NULL must come
    # back as three distinct groups (NULL / NaN / folded 0.0) with NaN
    # kept a VALUE (the pandas re-entry would coerce it to NULL and
    # merge two groups into one key).
    import flox_spark.core as C
    from flox_spark.aggregations import REDUCTIONS, AggContext

    work = spark.createDataFrame(
        [(float("nan"), 1.0), (float("nan"), 3.0),
         (None, 10.0), (None, 30.0),
         (0.0, 5.0), (-0.0, 7.0)],
        "k double, v double",
    )
    agg = REDUCTIONS["nanmedian"]
    ctx = AggContext("`v`", work.schema["v"].dataType)
    out = C._quantile_driver(work, ["k"], ctx, agg, "m", None, None)
    assert out is not None, "kernel declined unexpectedly"
    got = sorted(((str(r["k"]), r["m"]) for r in out.collect()), key=str)
    assert got == [("-0.0", 6.0), ("None", 20.0), ("nan", 2.0)] or got == [
        ("0.0", 6.0), ("None", 20.0), ("nan", 2.0)
    ], got
    # the zero group must be ONE group (merged -0.0/0.0), NaN and NULL
    # must not have merged with each other
    assert len(got) == 3
