"""Auto-dispatch of the blocked family (r13 VERDICT next #1).

``groupby_rank`` / ``groupby_scan`` / ``groupby_ewm`` accept
``plan="auto"|"window"|"blocked"``; auto consults plan stats
(``blocked_route.route_to_blocked``) and routes onto the blocked twin
past the measured rows-per-group crossover.  Pins:

- the ROUTE DECISION at the SCALE.md shapes: True at 8M rows/one
  group, False at the same rows across 10k groups, False below the
  64 MB stats gate with ZERO probe jobs;
- route-spy: auto calls the blocked twin when thresholds say so and
  produces the same result as plan="window";
- default thresholds keep every bench/sf-shaped input on the
  one-window form (blocked twin NOT called);
- forced plans validate their scopes.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import flox_spark.ewm_blocked as EB
import flox_spark.rank_blocked as RB
import flox_spark.scan_blocked as SB
import flox_spark.shift_blocked as HB
from flox_spark.blocked_route import route_to_blocked
from flox_spark.options import set_options
from flox_spark.rank import groupby_rank
from flox_spark.scan import groupby_ewm, groupby_scan


def _frame(spark, n=400, groups=4, seed=0):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        "k": [f"g{i % groups}" for i in range(n)],
        "t": np.arange(n, dtype=np.int64),
        "v": np.where(rng.random(n) < 0.1, np.nan, rng.normal(0, 10, n)),
    })
    return spark.createDataFrame(pdf)


def _sorted_rows(df, tol=False):
    # tol: blocked cumsum reassociates float additions — last-ulp
    # drift is in-contract, so compare those at 1e-9 granularity
    def cell(x):
        if tol and isinstance(x, float) and x == x:
            return f"{x:.9g}"
        return str(x)

    return sorted(map(tuple, ((cell(x) for x in r) for r in df.collect())))


# ---- the route decision at the SCALE.md shapes ----

def test_route_decision_8m_one_group(spark):
    big = spark.range(9_000_000).select(
        F.lit("g").alias("k"),
        F.col("id").alias("t"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    assert route_to_blocked(big, ("k",), 4_000_000) is True
    assert route_to_blocked(big, ("k",), 4_000_000, order_by="t") is True
    # same rows spread over 10k groups: 900 rows/group — one-window
    many = big.withColumn("k", (F.col("t") % 10_000).cast("string"))
    assert route_to_blocked(many, ("k",), 4_000_000) is False


def test_route_small_input_short_circuits(spark):
    df = _frame(spark)
    # below the 64 MB stats gate: decision is False WITHOUT any job
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert route_to_blocked(df, ("k",), 0) is False
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert list(before) == list(after), "gate branch must not run a probe job"


def test_route_missing_order_declines(spark):
    pdf = pd.DataFrame({
        "k": ["a"] * 6, "t": [1.0, 2.0, None, 4.0, 5.0, 6.0], "v": range(6)
    })
    df = spark.createDataFrame(pdf)
    with set_options(blocked_route_min_bytes=0):
        assert route_to_blocked(df, ("k",), 0, order_by="t") is False
        assert route_to_blocked(df, ("k",), 0) is True


# ---- route-spy: auto swaps in the blocked twin and matches window ----

def _spy(monkeypatch, module, name):
    calls = []
    orig = getattr(module, name)

    def wrapper(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(module, name, wrapper)
    return calls


def test_auto_rank_routes_and_matches(spark, monkeypatch):
    df = _frame(spark)
    calls = _spy(monkeypatch, RB, "groupby_rank_blocked")
    want = _sorted_rows(groupby_rank(
        df, "k", value="v", method="average", pct=True, plan="window"
    ))
    assert not calls
    with set_options(blocked_route_min_bytes=0, blocked_route_rank_rows=0):
        got = _sorted_rows(groupby_rank(
            df, "k", value="v", method="average", pct=True, plan="auto"
        ))
    assert calls == [1]
    assert got == want


@pytest.mark.parametrize("func,fk,mod,name", [
    ("nancumsum", None, SB, "groupby_scan_blocked"),
    ("ffill", None, SB, "groupby_scan_blocked"),
    ("shift", {"periods": 2}, HB, "groupby_shift_blocked"),
    ("diff", None, HB, "groupby_shift_blocked"),
])
def test_auto_scan_routes_and_matches(spark, monkeypatch, func, fk, mod, name):
    df = _frame(spark)
    calls = _spy(monkeypatch, mod, name)
    tol = func == "nancumsum"
    want = _sorted_rows(groupby_scan(
        df, "k", func=func, value="v", order_by="t",
        finalize_kwargs=fk, plan="window",
    ), tol=tol)
    with set_options(blocked_route_min_bytes=0, blocked_route_scan_rows=0):
        got = _sorted_rows(groupby_scan(
            df, "k", func=func, value="v", order_by="t",
            finalize_kwargs=fk, plan="auto",
        ), tol=tol)
    assert calls == [1]
    assert got == want


def test_auto_ewm_routes_and_matches(spark, monkeypatch):
    df = _frame(spark)
    calls = _spy(monkeypatch, EB, "groupby_ewm_blocked")
    want = {
        (r["k"], r["t"]): r["ewm_mean"]
        for r in groupby_ewm(
            df, "k", value="v", order_by="t", alpha=0.3, plan="window"
        ).collect()
    }
    with set_options(blocked_route_min_bytes=0, blocked_route_ewm_rows=0):
        got = {
            (r["k"], r["t"]): r["ewm_mean"]
            for r in groupby_ewm(
                df, "k", value="v", order_by="t", alpha=0.3, plan="auto"
            ).collect()
        }
    assert calls == [1]
    assert set(got) == set(want)
    for key, w in want.items():
        g = got[key]
        if w is None or (isinstance(w, float) and w != w):
            assert g is None or g != g
        else:
            assert abs(g - w) <= 1e-9 * max(1.0, abs(w)), key


def test_auto_default_thresholds_stay_window(spark, monkeypatch):
    # bench/sf-shaped inputs: the stats gate short-circuits, no blocked
    # twin and no probe job
    df = _frame(spark)
    c1 = _spy(monkeypatch, RB, "groupby_rank_blocked")
    c2 = _spy(monkeypatch, SB, "groupby_scan_blocked")
    c3 = _spy(monkeypatch, HB, "groupby_shift_blocked")
    c4 = _spy(monkeypatch, EB, "groupby_ewm_blocked")
    groupby_rank(df, "k", value="v").collect()
    groupby_scan(df, "k", func="nancumsum", value="v", order_by="t").collect()
    groupby_scan(df, "k", func="shift", value="v", order_by="t").collect()
    groupby_ewm(df, "k", value="v", order_by="t", alpha=0.5).collect()
    assert c1 == c2 == c3 == c4 == []


def test_plan_validation(spark):
    df = _frame(spark, n=20)
    with pytest.raises(ValueError, match="plan must be one of"):
        groupby_rank(df, "k", value="v", plan="bogus")
    with pytest.raises(ValueError, match="plan must be one of"):
        groupby_scan(df, "k", func="nancumsum", value="v", order_by="t",
                     plan="bogus")
    with pytest.raises(ValueError, match="plan must be one of"):
        groupby_ewm(df, "k", value="v", order_by="t", alpha=0.5, plan="bogus")
    from flox_spark.aggregations import Scan, ScanContext  # noqa: F401

    custom = Scan(name="c", build=lambda ctx: F.sum(ctx.v_skip).over(ctx.window))
    with pytest.raises(ValueError, match="custom Scan"):
        groupby_scan(df, "k", func=custom, value="v", order_by="t",
                     plan="blocked")
    with pytest.raises(ValueError, match="func='mean' or adjust=True"):
        groupby_ewm(df, "k", value="v", order_by="t", alpha=0.5,
                    func="var", adjust=False, plan="blocked")


def test_plan_blocked_forces(spark, monkeypatch):
    df = _frame(spark, n=60)
    calls = _spy(monkeypatch, RB, "groupby_rank_blocked")
    got = _sorted_rows(groupby_rank(df, "k", value="v", plan="blocked"))
    want = _sorted_rows(groupby_rank(df, "k", value="v", plan="window"))
    assert calls == [1] and got == want


def test_rank_auto_nonnumeric_value_stays_window(spark, monkeypatch):
    # string values have no quantile blocking — auto must not route
    # (and must not raise), even with thresholds forced to zero
    pdf = pd.DataFrame({"k": ["a"] * 6, "v": list("fedcba")})
    df = spark.createDataFrame(pdf)
    calls = _spy(monkeypatch, RB, "groupby_rank_blocked")
    with set_options(blocked_route_min_bytes=0, blocked_route_rank_rows=0):
        out = groupby_rank(df, "k", value="v").collect()
    assert not calls and len(out) == 6


@pytest.mark.parametrize("op", ["scan", "shift", "rank", "ewm"])
def test_num_blocks_zero_rejected(spark, op):
    # every blocked operator validates through the one skeleton
    df = _frame(spark, n=20)
    calls = {
        "scan": lambda: SB.groupby_scan_blocked(
            df, "k", func="nancumsum", value="v", order_by="t", num_blocks=0),
        "shift": lambda: HB.groupby_shift_blocked(
            df, "k", value="v", order_by="t", num_blocks=0),
        "rank": lambda: RB.groupby_rank_blocked(df, "k", value="v", num_blocks=0),
        "ewm": lambda: EB.groupby_ewm_blocked(
            df, "k", value="v", order_by="t", alpha=0.5, num_blocks=0),
    }
    with pytest.raises(ValueError, match="num_blocks must be >= 1"):
        calls[op]()


@pytest.mark.parametrize("op", ["scan", "shift", "rank"])
def test_null_group_label_is_a_group(spark, op):
    # a NULL key is one group in the window plan; the blocked plan's
    # state join must match it too (null-safe), or every block after
    # the first loses its carry
    rows = [(None if i % 2 else "a", i, float(i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    if op == "rank":
        want = groupby_rank(df, "k", value="v", plan="window")
        got = RB.groupby_rank_blocked(df, "k", value="v", num_blocks=4)
    else:
        func = "nancumsum" if op == "scan" else "shift"
        want = groupby_scan(df, "k", func=func, value="v", order_by="t", plan="window")
        got = (SB.groupby_scan_blocked if op == "scan" else HB.groupby_shift_blocked)(
            df, "k", func=func, value="v", order_by="t", num_blocks=4)
    assert _sorted_rows(got) == _sorted_rows(want)
