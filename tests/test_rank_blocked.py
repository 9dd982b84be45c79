"""groupby_rank_blocked vs groupby_rank: the blocked (Blelloch) rank
must equal the one-window form BITWISE on every method x na_option x
pct x ascending combination — the same differential contract
scan_blocked carries against groupby_scan.
"""

import math

import numpy as np
import pandas as pd
import pytest

from flox_spark.rank import groupby_rank
from flox_spark.rank_blocked import groupby_rank_blocked


def _frame(spark, n=600, seed=11, groups=3):
    rng = np.random.default_rng(seed)
    v = rng.normal(0, 100, n)
    v[::13] = np.nan
    vals = [None if i % 29 == 0 else float(x) for i, x in enumerate(v)]
    # duplicate values force cross-row tie blocks; few groups force the
    # exact shape the blocked path exists for
    dups = rng.integers(0, n, n // 5)
    for j, i in enumerate(dups):
        if vals[int(i)] is not None:
            vals[(int(i) + 7) % n] = vals[int(i)]
    pdf = pd.DataFrame({
        "k": [f"g{i % groups}" for i in range(n)],
        "ord": np.arange(n, dtype=np.int64),
        "v": vals,
    })
    return spark.createDataFrame(pdf)


def _rows(df):
    return sorted(
        ((r["k"], r["ord"], r["rank"]) for r in df.collect()), key=str
    )


def _eq(a, b):
    assert len(a) == len(b)
    for x, y in zip(a, b):
        assert x[:2] == y[:2], (x, y)
        xv, yv = x[2], y[2]
        if xv is None or yv is None:
            assert xv == yv, (x, y)
        elif isinstance(xv, float) and math.isnan(xv):
            assert math.isnan(yv), (x, y)
        else:
            assert xv == yv, (x, y)  # bitwise: integer-valued doubles


@pytest.mark.parametrize("method", ["average", "min", "max", "dense", "first"])
def test_blocked_equals_window_per_method(spark, method):
    df = _frame(spark)
    kw = dict(value="v", method=method)
    if method == "first":
        kw["order_by"] = "ord"
    want = _rows(groupby_rank(df, "k", **kw))
    got = _rows(groupby_rank_blocked(df, "k", num_blocks=7, **kw))
    _eq(want, got)


@pytest.mark.parametrize("na_option", ["keep", "top", "bottom"])
@pytest.mark.parametrize("ascending", [True, False])
def test_blocked_na_and_direction(spark, na_option, ascending):
    df = _frame(spark, seed=5)
    for method in ("average", "dense"):
        want = _rows(groupby_rank(
            df, "k", value="v", method=method, na_option=na_option,
            ascending=ascending, pct=True,
        ))
        got = _rows(groupby_rank_blocked(
            df, "k", value="v", method=method, na_option=na_option,
            ascending=ascending, pct=True, num_blocks=5,
        ))
        _eq(want, got)


def test_blocked_single_block_and_degenerate(spark):
    # num_blocks=1 degenerates to the one-window shape; all-equal
    # values collapse every row into one tie block
    pdf = pd.DataFrame({
        "k": ["a"] * 6 + ["b"] * 3,
        "ord": range(9),
        "v": [5.0] * 6 + [1.0, None, 1.0],
    })
    df = spark.createDataFrame(pdf)
    for nb in (1, 4):
        want = _rows(groupby_rank(df, "k", value="v", pct=True))
        got = _rows(groupby_rank_blocked(df, "k", value="v", pct=True,
                                         num_blocks=nb))
        _eq(want, got)


def test_blocked_all_missing_group(spark):
    pdf = pd.DataFrame({
        "k": ["a", "a", "b", "b"],
        "ord": range(4),
        "v": [None, float("nan"), 2.0, 2.0],
    })
    df = spark.createDataFrame(pdf)
    for na in ("keep", "top", "bottom"):
        want = _rows(groupby_rank(df, "k", value="v", na_option=na, pct=True))
        got = _rows(groupby_rank_blocked(df, "k", value="v", na_option=na,
                                         pct=True, num_blocks=3))
        _eq(want, got)


def test_blocked_rejects_unblockable_value(spark):
    df = spark.createDataFrame([("a", "x")], "k string, v string")
    with pytest.raises(ValueError, match="numeric/datetime/bool"):
        groupby_rank_blocked(df, "k", value="v")


def test_blocked_parallelism_exceeds_group_count(spark, monkeypatch):
    # the reason the operator exists: the big shuffle partitions by
    # (key, block), so the plan's exchange is NOT bound by the group
    # count.  Assert the stage-1 exchange hashes on __blk too — on the
    # distributed plan (a small input runs the one-task plan, which
    # has no exchange at all).
    import re

    import flox_spark.plans.util as plan_util

    monkeypatch.setattr(plan_util, "SMALL_INPUT_MAX_BYTES", 0)
    df = _frame(spark, n=400, groups=2)
    plan = groupby_rank_blocked(df, "k", value="v", num_blocks=8)._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"Exchange hashpartitioning\([^)]*\b__blk#", plan), plan


# ---- hypothesis fuzz over shapes/params ----

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    seed=hst.integers(0, 10_000),
    n=hst.integers(3, 120),
    groups=hst.integers(1, 4),
    nb=hst.integers(1, 9),
    method=hst.sampled_from(["average", "min", "max", "dense"]),
    na=hst.sampled_from(["keep", "top", "bottom"]),
    asc=hst.booleans(),
    pct=hst.booleans(),
)
def test_blocked_property(spark, seed, n, groups, nb, method, na, asc, pct):
    df = _frame(spark, n=n, seed=seed, groups=groups)
    want = _rows(groupby_rank(
        df, "k", value="v", method=method, na_option=na, ascending=asc,
        pct=pct,
    ))
    got = _rows(groupby_rank_blocked(
        df, "k", value="v", method=method, na_option=na, ascending=asc,
        pct=pct, num_blocks=nb,
    ))
    _eq(want, got)
