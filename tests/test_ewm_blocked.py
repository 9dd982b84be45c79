"""groupby_ewm_blocked vs groupby_ewm: the blocked linear-recurrence
form must match the pandas-exact per-group kernel to float tolerance
(rtol 1e-9 — the blocked decay uses powers where pandas multiplies
iteratively) on both ignore_na modes, every alpha spelling, NaN/NULL
values, and degenerate block counts.
"""

import math

import numpy as np
import pandas as pd
import pytest

from flox_spark.ewm_blocked import groupby_ewm_blocked
from flox_spark.scan import groupby_ewm


def _frame(spark, n=500, seed=3, groups=3):
    rng = np.random.default_rng(seed)
    v = rng.normal(0, 10, n)
    v[::11] = np.nan
    vals = [None if i % 17 == 0 else float(x) for i, x in enumerate(v)]
    pdf = pd.DataFrame({
        "k": [f"g{i % groups}" for i in range(n)],
        "t": np.arange(n, dtype=np.int64),
        "v": vals,
    })
    return spark.createDataFrame(pdf)


def _rows(df):
    return sorted(
        ((r["k"], r["t"], r["ewm_mean"]) for r in df.collect()), key=str
    )


def _close(a, b, rtol=1e-9):
    assert len(a) == len(b)
    for x, y in zip(a, b):
        assert x[:2] == y[:2], (x, y)
        xv, yv = x[2], y[2]
        if xv is None or yv is None:
            # pandas leading-NaN may arrive as NaN or NULL per Arrow
            assert (xv is None or math.isnan(xv)) and (
                yv is None or math.isnan(yv)
            ), (x, y)
        elif math.isnan(xv):
            assert yv is not None and math.isnan(yv), (x, y)
        else:
            assert yv is not None and abs(xv - yv) <= rtol * max(
                1.0, abs(xv)
            ), (x, y)


@pytest.mark.parametrize("ignore_na", [False, True])
@pytest.mark.parametrize("nb", [1, 6])
def test_blocked_ewm_matches_pandas_kernel(spark, ignore_na, nb):
    df = _frame(spark)
    want = _rows(groupby_ewm(
        df, "k", value="v", order_by="t", alpha=0.3, ignore_na=ignore_na
    ))
    got = _rows(groupby_ewm_blocked(
        df, "k", value="v", order_by="t", alpha=0.3, ignore_na=ignore_na,
        num_blocks=nb,
    ))
    _close(want, got)


@pytest.mark.parametrize("kw", [{"span": 9}, {"halflife": 4.0}])
def test_blocked_ewm_param_spellings(spark, kw):
    df = _frame(spark, seed=8)
    want = _rows(groupby_ewm(df, "k", value="v", order_by="t", **kw))
    got = _rows(groupby_ewm_blocked(
        df, "k", value="v", order_by="t", num_blocks=5, **kw
    ))
    _close(want, got)


def test_blocked_ewm_leading_and_all_missing(spark):
    pdf = pd.DataFrame({
        "k": ["a"] * 5 + ["b"] * 3,
        "t": range(8),
        "v": [None, float("nan"), 2.0, None, 4.0, None, None, None],
    })
    df = spark.createDataFrame(pdf)
    for ign in (False, True):
        want = _rows(groupby_ewm(
            df, "k", value="v", order_by="t", alpha=0.5, ignore_na=ign
        ))
        got = _rows(groupby_ewm_blocked(
            df, "k", value="v", order_by="t", alpha=0.5, ignore_na=ign,
            num_blocks=3,
        ))
        _close(want, got)


def test_blocked_ewm_rejects_unsupported(spark):
    df = _frame(spark, n=10)
    with pytest.raises(ValueError, match="exactly one"):
        groupby_ewm_blocked(df, "k", value="v", order_by="t")


# ---- adjust=False (r14): the two-candidate-state carry ----

@pytest.mark.parametrize("ignore_na", [False, True])
@pytest.mark.parametrize("nb", [1, 6])
def test_blocked_ewm_adjust_false_matches_pandas_kernel(spark, ignore_na, nb):
    df = _frame(spark)
    want = _rows(groupby_ewm(
        df, "k", value="v", order_by="t", alpha=0.3, ignore_na=ignore_na,
        adjust=False, plan="window",
    ))
    got = _rows(groupby_ewm_blocked(
        df, "k", value="v", order_by="t", alpha=0.3, ignore_na=ignore_na,
        adjust=False, num_blocks=nb,
    ))
    _close(want, got)


@pytest.mark.parametrize("kw", [{"span": 9}, {"halflife": 4.0}])
def test_blocked_ewm_adjust_false_param_spellings(spark, kw):
    df = _frame(spark, seed=8)
    want = _rows(groupby_ewm(
        df, "k", value="v", order_by="t", adjust=False, plan="window", **kw
    ))
    got = _rows(groupby_ewm_blocked(
        df, "k", value="v", order_by="t", adjust=False, num_blocks=5, **kw
    ))
    _close(want, got)


def test_blocked_ewm_adjust_false_first_obs_crosses_blocks(spark):
    # the whole point of the two-candidate carry: when the group's
    # FIRST valid observation sits in a LATER block (leading blocks
    # all-missing), the fold must select the zero-prior Z state for
    # that block and the with-prior P state afterwards.  Blocks of ~2
    # rows put the first valid row of group a in block 2.
    pdf = pd.DataFrame({
        "k": ["a"] * 8 + ["b"] * 4,
        "t": list(range(8)) + list(range(4)),
        "v": [None, float("nan"), None, None, 5.0, 1.0, None, 3.0,
              2.0, None, 4.0, 6.0],
    })
    df = spark.createDataFrame(pdf)
    for ign in (False, True):
        want = _rows(groupby_ewm(
            df, "k", value="v", order_by="t", alpha=0.4, ignore_na=ign,
            adjust=False, plan="window",
        ))
        got = _rows(groupby_ewm_blocked(
            df, "k", value="v", order_by="t", alpha=0.4, ignore_na=ign,
            adjust=False, num_blocks=4,
        ))
        _close(want, got)


def test_blocked_ewm_adjust_false_hand_golden(spark):
    # pandas' documented [x0, None, x2] adjust=False weights:
    # (1-a)^2 for x0 and a for x2, renormalized
    a = 0.25
    b = 1 - a
    pdf = pd.DataFrame({
        "k": ["g"] * 3, "t": [0, 1, 2], "v": [10.0, None, 4.0]
    })
    df = spark.createDataFrame(pdf)
    got = {
        r["t"]: r["ewm_mean"]
        for r in groupby_ewm_blocked(
            df, "k", value="v", order_by="t", alpha=a, adjust=False,
            ignore_na=False, num_blocks=3,
        ).collect()
    }
    assert abs(got[0] - 10.0) < 1e-12
    assert abs(got[1] - 10.0) < 1e-12  # carried forward over the gap
    want2 = (b * b * 10.0 + a * 4.0) / (b * b + a)
    assert abs(got[2] - want2) < 1e-12


@pytest.mark.parametrize("adj", [True, False])
@pytest.mark.parametrize("ign", [False, True])
def test_blocked_ewm_tied_order_carry(spark, monkeypatch, ign, adj):
    # r13 ADVICE (high) regression pin: the stage-2 carry was keyed on
    # order_by, and when the block's max order value was TIED the
    # max-struct picked a NON-final state (cA = base^k is larger for
    # the EARLIER tied row) — silently dropping the later tied rows'
    # contributions from every downstream block's mean.  The carry is
    # now an ordered fold over the block's rows.  Equal values among
    # ties make the expectation order-invariant, so both the
    # differential and the hand golden are exact.
    pdf = pd.DataFrame({
        "k": ["a"] * 6 + ["b"] * 4,
        "t": [1, 1, 1, 5, 6, 6, 2, 2, 2, 9],
        "v": [10.0, 10.0, 10.0, 1.0, 2.0, 2.0, 4.0, 4.0, 4.0, 7.0],
    })
    df = spark.createDataFrame(pdf)
    want = _rows(groupby_ewm(
        df, "k", value="v", order_by="t", alpha=0.5, ignore_na=ign,
        adjust=adj,
    ))
    for nb in (2, 3, 5):
        got = _rows(groupby_ewm_blocked(
            df, "k", value="v", order_by="t", alpha=0.5, ignore_na=ign,
            adjust=adj, num_blocks=nb,
        ))
        _close(want, got)
    _check_tied_distinct_values(spark, monkeypatch, ign, adj)
    if not adj:
        return
    # hand golden (adjust=True) for the first row after the tie run:
    # the carried denominator must be the FULL tie run's 1 + b + b^2
    # (old bug: 1)
    got2 = {
        (r["k"], r["t"]): r["ewm_mean"]
        for r in groupby_ewm_blocked(
            df, "k", value="v", order_by="t", alpha=0.5, ignore_na=ign,
            num_blocks=2,
        ).collect()
    }
    b = 0.5
    run = b ** 2 + b + 1
    assert abs(got2[("a", 5)] - (1 + b * 10 * run) / (1 + b * run)) < 1e-9


def _check_tied_distinct_values(spark, monkeypatch, ign, adj):
    """Tied order values whose VALUES differ: the fold and the kernel
    must take a tie run in one order, ``(order_by, value)``, or the
    block-end state the fold hands on disagrees with the rows the
    kernel wrote.  The golden is pandas over each group sorted by
    ``(t, v)``; the missing values sit at order values of their own
    (pandas sorts NULL last, Spark first).  Both the one-task and the
    distributed plan."""
    import flox_spark.plans.util as plan_util

    def key(k, t, v):
        return k, t, None if v is None or math.isnan(v) else v

    pdf = pd.DataFrame({
        "k": ["a"] * 9 + ["b"] * 5,
        "t": [3, 3, 3, 1, 7, 7, 10, 9, 5, 2, 2, 2, 4, 8],
        "v": [9.0, -4.0, 1.5, 2.0, 6.0, 0.5, None, 3.0, 8.0,
              5.0, 1.0, -2.0, float("nan"), 7.0],
    })
    want = {}
    for k, seg in pdf.sort_values(["k", "t", "v"]).groupby("k"):
        y = seg["v"].ewm(alpha=0.5, adjust=adj, ignore_na=ign).mean()
        want.update({key(k, t, v): w for t, v, w in zip(seg["t"], seg["v"], y)})
    df = spark.createDataFrame(pdf)
    for bound in (plan_util.SMALL_INPUT_MAX_BYTES, 0):
        monkeypatch.setattr(plan_util, "SMALL_INPUT_MAX_BYTES", bound)
        for nb in (2, 3, 5):
            got = groupby_ewm_blocked(
                df, "k", value="v", order_by="t", alpha=0.5, ignore_na=ign,
                adjust=adj, num_blocks=nb,
            ).collect()
            assert len(got) == len(want)
            for r in got:
                w = want[key(r["k"], r["t"], r["v"])]
                assert r["ewm_mean"] == pytest.approx(w, rel=1e-9), (bound, nb, r, w)


# ---- hypothesis fuzz ----

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    seed=hst.integers(0, 10_000),
    n=hst.integers(2, 90),
    groups=hst.integers(1, 3),
    nb=hst.integers(1, 7),
    alpha=hst.floats(0.05, 0.95),
    ign=hst.booleans(),
    adj=hst.booleans(),
)
def test_blocked_ewm_property(spark, seed, n, groups, nb, alpha, ign, adj):
    df = _frame(spark, n=n, seed=seed, groups=groups)
    want = _rows(groupby_ewm(
        df, "k", value="v", order_by="t", alpha=alpha, ignore_na=ign,
        adjust=adj,
    ))
    got = _rows(groupby_ewm_blocked(
        df, "k", value="v", order_by="t", alpha=alpha, ignore_na=ign,
        adjust=adj, num_blocks=nb,
    ))
    _close(want, got)


def test_blocked_ewm_many_groups_timestamp_order(spark):
    # r13 regression pin: pandas GroupBy(sort=False).ewm() orders its
    # OUTPUT groups by per-level first-appearance codes, not frame
    # order — with the multi-key (user, block) groupby a later group
    # reusing an earlier-seen block id came back out of position
    # (silently wrong EWM values for ~1/6 of users at this shape).
    # The realign-through-the-index fix must hold on many users with
    # interleaving block ids and a TIMESTAMP order column.
    rng = np.random.default_rng(1)
    rows = []
    base = pd.Timestamp("2024-01-01")
    for u in range(120):
        ts = rng.choice(1_000_000, size=30, replace=False)
        ts.sort()
        for t in ts:
            v = None if rng.random() < 0.1 else float(rng.normal(50, 30))
            rows.append((u, base + pd.Timedelta(seconds=int(t)), v))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "v"])
    df = spark.createDataFrame(pdf)
    got = {
        (r["user_id"], r["ts"]): r["ewm_mean"]
        for r in groupby_ewm_blocked(
            df, "user_id", value="v", order_by="ts", span=20, num_blocks=8
        ).collect()
    }
    # pandas golden per user
    nbad = 0
    for u, seg in pdf.groupby("user_id"):
        seg = seg.sort_values("ts")
        gold = seg["v"].ewm(span=20, adjust=True, ignore_na=False).mean()
        for t, w in zip(seg["ts"], gold):
            y = got[(u, t.to_pydatetime())]
            if math.isnan(w):
                nbad += 0 if (y is None or math.isnan(y)) else 1
            else:
                nbad += 0 if (
                    y is not None and abs(y - w) <= 1e-9 * max(1, abs(w))
                ) else 1
    assert nbad == 0


# ---- var/std (r14): the four-recurrence second-moment carry ----

def _rows_col(df, col):
    return sorted(((r["k"], r["t"], r[col]) for r in df.collect()), key=str)


@pytest.mark.parametrize("func", ["var", "std"])
@pytest.mark.parametrize("ignore_na", [False, True])
@pytest.mark.parametrize("nb", [1, 6])
def test_blocked_ewm_var_matches_pandas_kernel(spark, func, ignore_na, nb):
    df = _frame(spark)
    out = f"ewm_{func}"
    want = _rows_col(groupby_ewm(
        df, "k", value="v", order_by="t", alpha=0.3, ignore_na=ignore_na,
        func=func, plan="window",
    ), out)
    got = _rows_col(groupby_ewm_blocked(
        df, "k", value="v", order_by="t", alpha=0.3, ignore_na=ignore_na,
        func=func, num_blocks=nb,
    ), out)
    _close(want, got, rtol=1e-8)


def test_blocked_ewm_var_single_obs_and_leading_missing(spark):
    # one observation -> Sw^2 - Sw2 == 0 exactly -> NULL (pandas NaN);
    # all-missing group -> NULL everywhere; leading missing -> NULL
    # until the second valid observation
    pdf = pd.DataFrame({
        "k": ["a"] * 5 + ["b"] * 3 + ["c"] * 2,
        "t": list(range(5)) + list(range(3)) + list(range(2)),
        "v": [None, float("nan"), 2.0, None, 4.0,
              None, None, None,
              7.0, None],
    })
    df = spark.createDataFrame(pdf)
    for ign in (False, True):
        want = _rows_col(groupby_ewm(
            df, "k", value="v", order_by="t", alpha=0.5, ignore_na=ign,
            func="var", plan="window",
        ), "ewm_var")
        got = _rows_col(groupby_ewm_blocked(
            df, "k", value="v", order_by="t", alpha=0.5, ignore_na=ign,
            func="var", num_blocks=3,
        ), "ewm_var")
        _close(want, got, rtol=1e-8)


def test_blocked_ewm_var_rejects_adjust_false(spark):
    df = _frame(spark, n=10)
    with pytest.raises(ValueError, match="adjust=True only"):
        groupby_ewm_blocked(df, "k", value="v", order_by="t", alpha=0.3,
                            func="var", adjust=False)


def test_blocked_ewm_var_auto_routes(spark, monkeypatch):
    import flox_spark.ewm_blocked as EB
    from flox_spark.options import set_options

    df = _frame(spark, n=120)
    calls = []
    orig = EB.groupby_ewm_blocked

    def spy(*a, **kw):
        calls.append(kw.get("func"))
        return orig(*a, **kw)

    monkeypatch.setattr(EB, "groupby_ewm_blocked", spy)
    with set_options(blocked_route_min_bytes=0, blocked_route_ewm_rows=0):
        groupby_ewm(df, "k", value="v", order_by="t", alpha=0.4,
                    func="std").collect()
    assert calls == ["std"]
