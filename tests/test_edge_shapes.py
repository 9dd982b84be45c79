"""Degenerate-shape sweep: empty frames, all-null labels, one-row
groups — every entry point must return the shape the reference
returns for empty arrays (empty result; declared grids still fill)."""

import pandas as pd
import pytest

from flox_spark import (
    groupby_reduce,
    groupby_reduce_multi,
    groupby_scan,
    resample_reduce,
    set_options,
)


@pytest.fixture
def empty(spark):
    return spark.createDataFrame([], "k long, v double, idx long")


@pytest.mark.parametrize("impl", ["agg", "arrow", "driver", "sort", "refine"])
def test_empty_input_quantiles(spark, empty, impl):
    with set_options(quantile_impl=impl):
        assert groupby_reduce(empty, "k", func="nanmedian", value="v").count() == 0


def test_empty_input_core_paths(spark, empty):
    assert groupby_reduce(empty, "k", func="nansum", value="v").count() == 0
    assert groupby_reduce(empty, "k", func="nanmode", value="v").count() == 0
    assert groupby_scan(empty, "k", func="cumsum", value="v", order_by="idx").count() == 0
    assert groupby_reduce_multi(empty, "k", aggs={"s": ("nansum", "v")}).count() == 0
    assert (
        groupby_reduce(empty, "k", func="nansum", value="v", sort=False, order_by="idx").count()
        == 0
    )


def test_empty_input_expected_grid_still_fills(spark, empty):
    rows = groupby_reduce(
        empty, "k", func="nansum", value="v", expected_groups=[1, 2], fill_value=0.0
    ).collect()
    assert [(r["k"], r["nansum"]) for r in rows] == [(1, 0.0), (2, 0.0)]


def test_all_null_labels_drop_to_empty(spark):
    import numpy as np

    pdf = pd.DataFrame({"k": [np.nan, np.nan], "v": [1.0, 2.0]})
    assert groupby_reduce(spark.createDataFrame(pdf), "k", func="nansum", value="v").count() == 0


def test_one_row_vector_q_refine(spark):
    pdf = pd.DataFrame({"k": [1], "v": [5.0]})
    with set_options(quantile_impl="refine"):
        rows = groupby_reduce(
            spark.createDataFrame(pdf), "k", func="nanquantile", value="v",
            finalize_kwargs={"q": [0.1, 0.9]},
        ).collect()
    assert [(r["q"], r["nanquantile"]) for r in rows] == [(0.1, 5.0), (0.9, 5.0)]


def test_empty_operators(spark):
    from flox_spark.operators import dedup_exact
    from flox_spark.operators.packing import pack_sequences

    edocs = spark.createDataFrame([], "doc_id long, text string")
    assert dedup_exact(edocs).count() == 0
    epack = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert pack_sequences(epack).count() == 0
    ets = spark.createDataFrame([], "ts timestamp, v double")
    assert resample_reduce(ets, "ts", "1h", aggs={"n": ("count", "v")}).count() == 0
