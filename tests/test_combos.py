"""Combination coverage mirroring the reference's master-test matrix
(tests/test_core.py:222-386): multiple by arrays with NaN labels in
some, min_count x expected_groups x fill_value interactions, scans
over int/bool dtypes, flox-compat no-op kwargs."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from flox_spark import groupby_reduce, groupby_scan


def test_multiby_nan_in_second_by(spark):
    # NaN in ANY by column drops the row (flox factorize: compound
    # code -1 if any label missing, factorize.py:201-212)
    pdf = pd.DataFrame({
        "k1": [0, 0, 1, 1],
        "k2": [1.0, np.nan, 1.0, 2.0],
        "v": [1.0, 2.0, 3.0, 4.0],
    })
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(df, "k1", "k2", func="nansum", value="v").collect()
    got = {(r["k1"], r["k2"]): r["nansum"] for r in res}
    assert got == {(0, 1.0): 1.0, (1, 1.0): 3.0, (1, 2.0): 4.0}


def test_min_count_with_expected_grid(spark):
    # min_count interacts with the fill join: groups failing min_count
    # AND absent groups both get fill_value (flox core.py:437-470)
    pdf = pd.DataFrame({"k": [0, 0, 1], "v": [1.0, 2.0, 3.0]})
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(
        df, "k", func="nansum", value="v",
        expected_groups=[0, 1, 2], fill_value=-9.0, min_count=2,
    ).collect()
    got = {r["k"]: r["nansum"] for r in res}
    assert got == {0: 3.0, 1: -9.0, 2: -9.0}


def test_min_count_defaulting_with_fill(spark):
    # fill_value + expected_groups => min_count defaults to 1
    # (flox core.py:1026-1038): all-NaN group -> fill, not 0
    pdf = pd.DataFrame({"k": [0, 1], "v": [1.0, np.nan]})
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(
        df, "k", func="nansum", value="v",
        expected_groups=[0, 1], fill_value=float("nan"),
    ).collect()
    got = {r["k"]: r["nansum"] for r in res}
    assert got[0] == 1.0
    assert math.isnan(got[1])  # would be 0 without the min_count rule


def test_scan_int_dtype(spark):
    pdf = pd.DataFrame({
        "idx": range(6),
        "k": [0, 1, 0, 1, 0, 1],
        "v": np.array([1, 10, 2, 20, 3, 30], dtype=np.int64),
    })
    df = spark.createDataFrame(pdf)
    res = groupby_scan(df, "k", func="cumsum", value="v", order_by="idx")
    got = {r["idx"]: r["cumsum"] for r in res.collect()}
    assert [got[i] for i in range(6)] == [1, 10, 3, 30, 6, 60]
    assert dict(res.dtypes)["cumsum"] == "bigint"


def test_scan_bool_cumsum(spark):
    # bool promotes to int for arithmetic scans (flox scan.py:264-267)
    pdf = pd.DataFrame({"idx": range(4), "k": [0, 0, 0, 0], "v": [True, False, True, True]})
    df = spark.createDataFrame(pdf)
    res = groupby_scan(df, "k", func="cumsum", value="v", order_by="idx")
    got = [r["cumsum"] for r in res.orderBy("idx").collect()]
    assert got == [1, 1, 2, 3]


def test_flox_compat_kwargs_ignored(spark):
    # a flox call-site with engine/method/reindex runs unchanged
    pdf = pd.DataFrame({"k": [0, 1], "v": [1.0, 2.0]})
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(
        df, "k", func="nansum", value="v",
        engine="flox", method="cohorts", reindex=True,
    ).collect()
    assert {r["k"]: r["nansum"] for r in res} == {0: 1.0, 1: 2.0}
    res2 = groupby_scan(
        df.withColumn("idx", df.v), "k", func="cumsum", value="v",
        order_by="idx", engine="numbagg", method="blelloch",
    )
    assert res2.count() == 2


def test_quantile_multi_q_matches_numpy_axis(spark):
    # vector q adds a result dimension (flox quantile_new_dims_func,
    # aggregations.py:688-689): exploded (k, q, value) rows, one per q
    pdf = pd.DataFrame({"k": [0] * 10, "v": np.arange(10.0)})
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(
        df, "k", func="nanquantile", value="v",
        finalize_kwargs={"q": [0.1, 0.5, 0.9]},
    ).collect()
    want = np.quantile(np.arange(10.0), [0.1, 0.5, 0.9])
    assert [r["q"] for r in res] == [0.1, 0.5, 0.9]
    assert [r["nanquantile"] for r in res] == pytest.approx(list(want))


def test_partial_expected_no_diamond(spark):
    # partially-declared expected groups: the observed-keys grid branch
    # must reuse the materialized aggregate, not re-execute it (the
    # groupBy subtree appears once; only the distinct adds aggregates)
    pdf = pd.DataFrame({"k1": [0, 0, 1], "k2": ["a", "b", "a"], "v": [1.0, 2.0, 3.0]})
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(
        df, "k1", "k2", func="nansum", value="v",
        expected_groups=([0, 1, 2], None), fill_value=0.0,
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    # one partial+final pair for the distinct over the checkpointed
    # result; the sum aggregate itself is behind an ExistingRDD scan
    assert plan.count("HashAggregate") <= 2, plan
    got = {(r["k1"], r["k2"]): r["nansum"] for r in res.collect()}
    assert got[(2, "a")] == 0.0 and got[(2, "b")] == 0.0
    assert got[(0, "a")] == 1.0 and got[(1, "a")] == 3.0


def test_groupby_derived_column(spark):
    # grouping by a computed key (flox's "lazy by" case, core.py:925-951):
    # any expression column works as a grouper
    from pyspark.sql import functions as F

    pdf = pd.DataFrame({"x": np.arange(20.0), "v": np.ones(20)})
    df = spark.createDataFrame(pdf).withColumn("bucket", (F.col("x") % 4).cast("int"))
    res = groupby_reduce(df, "bucket", func="count", value="v").collect()
    assert {r["bucket"]: r["count"] for r in res} == {0: 5, 1: 5, 2: 5, 3: 5}


def test_quantile_sort_impl_matches_agg(spark):
    # the giant-group-safe sort-based exact quantile must equal the
    # percentile-aggregate path across the semantic matrix (within
    # 1-ulp interpolation round-off: percentile's lerp evaluation
    # order differs from vlo + frac*(vhi-vlo))
    import math
    from flox_spark import set_options

    rng = np.random.default_rng(41)
    n = 3000
    pdf = pd.DataFrame({
        "k": rng.integers(0, 7, n),
        "v": rng.normal(size=n) * 100,
    })
    pdf.loc[rng.random(n) < 0.2, "v"] = np.nan
    # one single-row group and one all-NaN group
    pdf = pd.concat([pdf, pd.DataFrame({"k": [97, 98, 98], "v": [5.0, np.nan, np.nan]})],
                    ignore_index=True)
    df = spark.createDataFrame(pdf)

    cases = [
        dict(func="nanquantile", finalize_kwargs={"q": 0.73}),
        dict(func="quantile", finalize_kwargs={"q": 0.73}),
        dict(func="nanmedian"),
        dict(func="nanquantile", finalize_kwargs={"q": [0.1, 0.5, 0.9]}),
        dict(func="nanquantile", finalize_kwargs={"q": 0.5}, min_count=300,
             fill_value=float("nan")),
        dict(func="nanquantile", finalize_kwargs={"q": 0.9},
             expected_groups=[0, 1, 2, 3, 4, 5, 6, 50], fill_value=-1.0),
    ]
    for kw in cases:
        with set_options(quantile_impl="agg"):
            base = groupby_reduce(df, "k", value="v", **kw).collect()
        for impl in ("sort", "refine"):
            with set_options(quantile_impl=impl):
                alt = groupby_reduce(df, "k", value="v", **kw).collect()
            assert len(base) == len(alt), (impl, kw)
            for rb, ra in zip(base, alt):
                assert rb.asDict().keys() == ra.asDict().keys()
                for c in rb.asDict():
                    vb, va = rb[c], ra[c]
                    if isinstance(vb, float) and math.isnan(vb):
                        assert isinstance(va, float) and math.isnan(va), (impl, kw, c, rb, ra)
                    elif isinstance(vb, float):
                        assert va == pytest.approx(vb, rel=1e-12), (impl, kw, c, rb, ra)
                    else:
                        assert vb == va, (impl, kw, c, rb, ra)


def test_quantile_sort_impl_timestamp(spark):
    import datetime as dt
    from flox_spark import set_options

    pdf = pd.DataFrame({
        "k": [0, 0, 0, 1],
        "v": [dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2),
              dt.datetime(2024, 1, 10), dt.datetime(2024, 3, 1)],
    })
    df = spark.createDataFrame(pdf)
    base = groupby_reduce(df, "k", func="nanmedian", value="v").collect()
    for impl in ("sort", "refine"):
        with set_options(quantile_impl=impl):
            alt = groupby_reduce(df, "k", func="nanmedian", value="v").collect()
        assert [tuple(r) for r in base] == [tuple(r) for r in alt], impl
    assert base[0]["nanmedian"] == dt.datetime(2024, 1, 2)


def test_multi_warns_on_sort_quantile_impl(spark):
    import warnings
    from flox_spark import groupby_reduce_multi, set_options

    pdf = pd.DataFrame({"k": [0, 0, 1], "v": [1.0, 2.0, 3.0]})
    df = spark.createDataFrame(pdf)
    # every forced strategy but "agg" (the fused kernel itself) warns
    for impl, warns in (("sort", True), ("refine", True), ("arrow", True),
                        ("driver", True), ("agg", False)):
        with set_options(quantile_impl=impl):
            with warnings.catch_warnings(record=True) as rec:
                warnings.simplefilter("always")
                groupby_reduce_multi(df, "k", aggs={"m": ("nanmedian", "v")}).collect()
        assert any("cannot honor quantile_impl" in str(w.message) for w in rec) == warns, impl


def test_multi_bin_labels(spark):
    import pandas as _pd

    from flox_spark import groupby_reduce_multi

    pdf = _pd.DataFrame({"x": [1.0, 5.0, 15.0, 25.0], "v": [1.0, 2.0, 3.0, 4.0]})
    out = groupby_reduce_multi(
        spark.createDataFrame(pdf), "x",
        aggs={"s": ("nansum", "v"), "c": ("count", "v")},
        isbin=True, bin_labels=True,
        expected_groups=[0.0, 10.0, 20.0, 30.0], fill_value=0.0,
    ).collect()
    rows = {r["x_bin"]: r for r in out}
    assert rows[0]["x_bin_left"] == 0.0 and rows[0]["x_bin_right"] == 10.0
    assert rows[2]["x_bin_left"] == 20.0 and rows[2]["x_bin_right"] == 30.0
    assert rows[0]["s"] == 3.0 and rows[1]["s"] == 3.0 and rows[2]["s"] == 4.0


def test_multiby_one_binned_with_labels_and_fill(spark):
    # 2 by-columns, one binned with labels, cartesian expected grid +
    # fill: the full reindex interaction in one call
    import numpy as _np
    import pandas as _pd

    from flox_spark import groupby_reduce

    rng = _np.random.default_rng(77)
    n = 200
    pdf = _pd.DataFrame(
        {
            "cat": rng.choice(["a", "b"], n),
            "x": rng.uniform(0, 30, n),
            "v": rng.normal(size=n),
        }
    )
    # nothing lands in the last bin for cat 'b': fill must materialize it
    pdf.loc[(pdf["cat"] == "b") & (pdf["x"] > 20), "x"] = 5.0
    out = groupby_reduce(
        spark.createDataFrame(pdf), "cat", "x",
        func="nansum", value="v",
        isbin=(False, True), bin_labels=True,
        expected_groups=(["a", "b"], [0.0, 10.0, 20.0, 30.0]),
        fill_value=0.0,
    ).collect()
    assert len(out) == 6  # 2 cats x 3 bins, grid complete
    by_key = {(r["cat"], r["x_bin"]): r for r in out}
    assert by_key[("b", 2)]["nansum"] == 0.0  # filled empty bin
    for (cat, b), r in by_key.items():
        assert r["x_bin_left"] == [0.0, 10.0, 20.0][b]
        assert r["x_bin_right"] == [10.0, 20.0, 30.0][b]
    # values match pandas on the observed bins
    pdf["bin"] = _pd.cut(pdf["x"], [0, 10, 20, 30], labels=False, right=True)
    want = pdf.groupby(["cat", "bin"])["v"].sum()
    for (cat, b), w in want.items():
        assert by_key[(cat, int(b))]["nansum"] == pytest.approx(w, rel=1e-12)


def test_multi_interval_index_expected_groups(spark):
    import pandas as _pd

    from flox_spark import groupby_reduce_multi

    pdf = _pd.DataFrame({"x": [1.0, 5.0, 15.0, 25.0], "v": [1.0, 2.0, 3.0, 4.0]})
    out = groupby_reduce_multi(
        spark.createDataFrame(pdf), "x",
        aggs={"s": ("nansum", "v")},
        expected_groups=_pd.IntervalIndex.from_breaks([0.0, 10.0, 20.0, 30.0]),
        bin_labels=True, fill_value=0.0,
    ).collect()
    rows = {r["x_bin"]: r for r in out}
    assert rows[0]["s"] == 3.0 and rows[1]["s"] == 3.0 and rows[2]["s"] == 4.0
    assert rows[1]["x_bin_left"] == 10.0


def test_quantile_auto_impl_selection(spark):
    # the stats-driven strategy pick (core._choose_quantile_impl,
    # mirroring flox's _choose_engine spirit, flox/core.py:712-736):
    # tiny input -> "driver" (r12), small -> "arrow" (r11: the numpy
    # grouped-agg kernel), medium -> "refine", huge/unknown -> "sort"
    from flox_spark import set_options
    from flox_spark.core import _choose_quantile_impl

    pdf = pd.DataFrame({"k": [0, 1] * 50, "v": np.arange(100.0)})
    df = spark.createDataFrame(pdf)
    assert _choose_quantile_impl(df) == "driver"  # tiny LocalRelation
    with set_options(quantile_driver_max_bytes=0):
        assert _choose_quantile_impl(df) == "arrow"
    with set_options(quantile_driver_max_bytes=0, quantile_agg_max_bytes=0):
        assert _choose_quantile_impl(df) == "refine"
    with set_options(quantile_driver_max_bytes=0, quantile_agg_max_bytes=0,
                     quantile_refine_max_bytes=0):
        assert _choose_quantile_impl(df) == "sort"
    with set_options(quantile_impl="agg", quantile_agg_max_bytes=0):
        assert _choose_quantile_impl(df) == "agg"  # explicit wins


def test_removed_refine2_strategy_rejected():
    # the two-level refine strategy and its zone bound are gone: both
    # spellings fail loudly instead of silently running another plan
    from flox_spark import set_options

    with pytest.raises(ValueError, match="quantile_impl"):
        set_options(quantile_impl="refine2")
    with pytest.raises(ValueError, match="unknown option"):
        set_options(quantile_refine2_max_bytes=1 << 46)


def test_refine_accuracy_scales_with_input_size():
    # the refine strategy's sketch accuracy follows ~sqrt(6*rows)
    # between the configured floor and the hard cap — the balance
    # point of pass-1 sketch memory vs pass-2 candidate count
    # (core._refine_accuracy docstring)
    from flox_spark.core import _REFINE_ACC_MAX, _refine_accuracy_for_bytes

    floor = 10_000
    assert _refine_accuracy_for_bytes(None, floor) == floor  # stats-less
    # tiny inputs drop to the 1024 floor (round 5: exactness never
    # depends on the bracket accuracy, so the user approx option no
    # longer holds refine at 1e4 — measured ~20% faster)
    assert _refine_accuracy_for_bytes(1 << 20, floor) == 1024
    # 64 GB at 16 B/row -> 4e9 rows -> sqrt(2.4e10) ~ 1.5e5
    mid = _refine_accuracy_for_bytes(64 << 30, floor)
    assert 100_000 < mid < _REFINE_ACC_MAX
    # 1 TB hits the cap
    assert _refine_accuracy_for_bytes(1 << 40, floor) == _REFINE_ACC_MAX
    # the floor parameter only applies to stats-less inputs now (it
    # is the conservative unknown-size default, not a user override)
    assert _refine_accuracy_for_bytes(64 << 30, 500_000) == mid
    assert _refine_accuracy_for_bytes(None, 500_000) == 500_000


def test_quantile_refine_adversarial_distributions(spark):
    # distributions that stress the refine path's bracket logic: point
    # masses AT the approx bounds (ties), two heavy masses, constant
    # groups, single-element groups, q=0/1 extremes
    import math
    from flox_spark import set_options

    rng = np.random.default_rng(17)
    frames = {
        "point_mass": np.full(5000, 3.25),
        "two_masses": np.concatenate([np.full(2500, 1.0), np.full(2500, 2.0)]),
        "few_distinct": rng.integers(0, 5, 5000).astype(float),
        "normal": rng.normal(size=5000),
        "tiny": np.array([42.0]),
    }
    for name, v in frames.items():
        pdf = pd.DataFrame({"k": np.zeros(len(v), dtype=np.int64), "v": v})
        df = spark.createDataFrame(pdf)
        for q in (0.0, 0.25, 0.5, 0.9, 1.0):
            want = float(np.quantile(v, q))
            # refine collects groups of <= max(1024, its size-adaptive
            # accuracy: 1024 here) rows outright; these 5000-row groups
            # are past that cutoff, so they take the bracket path (the
            # approx_quantile_accuracy option does not apply to refine)
            with set_options(quantile_impl="refine"):
                got = groupby_reduce(
                    df, "k", func="nanquantile", value="v",
                    finalize_kwargs={"q": q},
                ).collect()[0]["nanquantile"]
            assert got == pytest.approx(want, rel=1e-12, abs=1e-12), (name, q, got, want)


def test_sorted_output_small_declared_grid_single_task(spark):
    # sort=True with a small DECLARED grid sorts in one post-shuffle
    # task: no range exchange (whose partitioner would sample —
    # re-executing the aggregate) anywhere in the plan
    pdf = pd.DataFrame({"k": [2, 0, 1, 0], "v": [1.0, 2.0, 3.0, 4.0]})
    df = spark.createDataFrame(pdf)
    res = groupby_reduce(
        df, "k", func="nansum", value="v", expected_groups=[0, 1, 2], fill_value=0.0
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan
    assert [r["k"] for r in res.collect()] == [0, 1, 2]


def test_sorted_output_huge_declared_grid_warns(spark):
    import warnings
    from flox_spark import set_options

    pdf = pd.DataFrame({"k": [0, 1], "v": [1.0, 2.0]})
    df = spark.createDataFrame(pdf)
    with set_options(single_partition_sort_max=1):
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            out = groupby_reduce(
                df, "k", func="nansum", value="v",
                expected_groups=[0, 1, 2], fill_value=0.0,
            ).collect()
    assert any("sort=False" in str(w.message) for w in rec)
    assert [r["k"] for r in out] == [0, 1, 2]
