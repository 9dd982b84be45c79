"""Tests: custom aggregations (flox phase-4 UDF surface), multi-agg
single-pass API, multimodal Arrow plumbing, streaming reductions."""

from __future__ import annotations

import math
import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from flox_spark import (
    Aggregation,
    groupby_reduce,
    groupby_reduce_multi,
    pandas_aggregation,
)
from flox_spark.operators.multimodal import (
    extract_features,
    media_from_documents,
    balance_by_size,
    decode_image,
)
from flox_spark.streaming import groupby_reduce_stream


LABELS = [0, 0, 2, 2, 2, 1, 1, 2, 2, 1, 1, 0]
VALUES = [2.5, -1.0, 3.0, 0.5, 7.25, 1.0, 1.0, -2.0, 4.0, 0.0, 5.5, 3.25]


@pytest.fixture(scope="module")
def small(spark):
    return spark.createDataFrame(
        pd.DataFrame({"idx": range(12), "label": LABELS, "v": VALUES})
    )


# ---- custom Aggregation (expression-based) --------------------------------


def test_custom_expression_aggregation(small):
    # "sum of squares" as a user-registered Aggregation — the
    # expression path mirroring reference test_core.py:1510-1551
    sumsq = Aggregation(name="sumsq", build=lambda ctx: F.sum(ctx.v_skip * ctx.v_skip))
    res = groupby_reduce(small, "label", func=sumsq, value="v").collect()
    got = {r["label"]: r["sumsq"] for r in res}
    v, lab = np.array(VALUES), np.array(LABELS)
    for g in [0, 1, 2]:
        assert got[g] == pytest.approx(float((v[lab == g] ** 2).sum()))


def test_custom_pandas_aggregation(small):
    # geometric mean via Arrow-batched pandas UDAF — the escape hatch
    geomean = pandas_aggregation(
        "geomean", lambda s: float(np.exp(np.log(np.abs(s) + 1e-12).mean())), "double"
    )
    res = groupby_reduce(small, "label", func=geomean, value="v").collect()
    got = {r["label"]: r["geomean"] for r in res}
    v, lab = np.array(VALUES), np.array(LABELS)
    for g in [0, 1, 2]:
        want = float(np.exp(np.log(np.abs(v[lab == g]) + 1e-12).mean()))
        assert got[g] == pytest.approx(want, rel=1e-9)


# ---- multi-agg single pass -------------------------------------------------


def test_groupby_reduce_multi(small):
    res = groupby_reduce_multi(
        small,
        "label",
        aggs={
            "total": ("nansum", "v"),
            "n": ("count", "v"),
            "avg": ("nanmean", "v"),
            "hi": ("nanmax", "v"),
            "sd1": {"func": "nanstd", "value": "v", "finalize_kwargs": {"ddof": 1}},
        },
    ).collect()
    v, lab = np.array(VALUES), np.array(LABELS)
    got = {r["label"]: r for r in res}
    for g in [0, 1, 2]:
        x = v[lab == g]
        assert got[g]["total"] == pytest.approx(x.sum())
        assert got[g]["n"] == len(x)
        assert got[g]["avg"] == pytest.approx(x.mean())
        assert got[g]["hi"] == pytest.approx(x.max())
        assert got[g]["sd1"] == pytest.approx(x.std(ddof=1), rel=1e-12)


def test_groupby_reduce_multi_expected(small):
    res = groupby_reduce_multi(
        small,
        "label",
        aggs={"total": ("nansum", "v"), "n": ("count", "v")},
        expected_groups=[0, 1, 2, 9],
    ).collect()
    got = {r["label"]: r for r in res}
    assert got[9]["n"] == 0  # count fill
    assert got[9]["total"] == 0.0  # sum fill


def test_multi_single_shuffle(small, monkeypatch):
    # one aggregation pass: physical plan has exactly one shuffle (the
    # distributed plan; a small input runs as one task, no exchange)
    import flox_spark.plans.util as plan_util

    monkeypatch.setattr(plan_util, "SMALL_INPUT_MAX_BYTES", 0)
    df = groupby_reduce_multi(
        small, "label", aggs={"a": ("nansum", "v"), "b": ("nanmean", "v")}, sort=False
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


# ---- multimodal plumbing ---------------------------------------------------


def test_multimodal_features(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": ["alpha beta", "gamma", "alpha beta"]})
    )
    media = media_from_documents(docs)
    assert dict(media.dtypes)["content"] == "binary"
    feats = extract_features(media, dim=16).collect()
    assert len(feats) == 3
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[0]["n_bytes"] == len(b"alpha beta")
    assert len(by_id[0]["feature"]) == 16
    # deterministic: same payload -> same feature
    assert by_id[0]["feature"] == by_id[2]["feature"]
    assert by_id[0]["feature"] != by_id[1]["feature"]
    assert all(-1.0 <= x < 1.0 for x in by_id[0]["feature"])


def test_multimodal_balance_and_stub(spark):
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": ["abc"]}))
    media = media_from_documents(docs)
    assert balance_by_size(media, 4).count() == 1
    with pytest.raises(NotImplementedError):
        decode_image(media)


# ---- streaming -------------------------------------------------------------


def test_streaming_windowed_sum(spark):
    # end-to-end: file stream -> watermarked window agg -> memory sink,
    # compared against the equivalent batch computation
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:05", "2024-01-01 00:15", "2024-01-01 00:45",
                 "2024-01-01 01:10", "2024-01-01 01:20", "2024-01-01 02:05"]
            ),
            "k": ["a", "b", "a", "a", "b", "b"],
            "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        }
    )
    tmp = tempfile.mkdtemp(prefix="flox_stream_")
    try:
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(f"{tmp}/in")
        schema = spark.read.parquet(f"{tmp}/in").schema
        stream = spark.readStream.schema(schema).parquet(f"{tmp}/in")
        out = groupby_reduce_stream(
            stream, "k", func="nansum", value="v",
            time_col="ts", window="1 hour", watermark="0 seconds", alias="total",
        )
        q = (
            out.writeStream.format("memory")
            .queryName("flox_stream_test")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        got = {
            (r["window_start"].hour, r["k"]): r["total"]
            for r in spark.sql("SELECT * FROM flox_stream_test").collect()
        }
        assert got == {(0, "a"): 4.0, (0, "b"): 2.0, (1, "a"): 4.0, (1, "b"): 5.0, (2, "b"): 6.0}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_rejects_positional(spark):
    pdf = pd.DataFrame({"ts": pd.to_datetime(["2024-01-01"]), "k": ["a"], "v": [1.0]})
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="total order"):
        groupby_reduce_stream(df, "k", func="first", value="v", time_col="ts")


def test_stream_ffill_state_across_batches(spark):
    # two files -> maxFilesPerTrigger=1 -> two micro-batches; the fill
    # must carry the last value across the batch boundary via state
    tmp = tempfile.mkdtemp(prefix="flox_state_")
    try:
        f0 = pd.DataFrame({"ts": [1, 2, 3], "k": ["a", "a", "a"], "v": [10.0, None, None]})
        f1 = pd.DataFrame({"ts": [4, 5, 6], "k": ["a", "a", "a"], "v": [None, 7.0, None]})
        # single part file per batch: multi-part writes would let
        # maxFilesPerTrigger split micro-batches at arbitrary parts
        spark.createDataFrame(f0).coalesce(1).write.parquet(f"{tmp}/in/f0")
        import time as _time

        _time.sleep(1.1)  # distinct mtimes: the file source orders by them
        spark.createDataFrame(f1).coalesce(1).write.parquet(f"{tmp}/in/f1")
        schema = spark.read.parquet(f"{tmp}/in/f0").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in/*")
        )
        from flox_spark.streaming import stream_ffill
        out = stream_ffill(stream, "k", value="v", time_col="ts")
        q = (
            out.writeStream.format("memory").queryName("flox_state_test")
            .outputMode("append").option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        rows = {r["ts"]: r["ffill"] for r in spark.sql("SELECT * FROM flox_state_test").collect()}
        assert rows == {1: 10.0, 2: 10.0, 3: 10.0, 4: 10.0, 5: 7.0, 6: 7.0}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_dedup_exact_across_batches(spark):
    # duplicate content arriving in a LATER micro-batch must be dropped
    # (dropDuplicates state carries across batches)
    tmp = tempfile.mkdtemp(prefix="flox_sdedup_")
    try:
        f0 = pd.DataFrame({"doc_id": [0, 1], "text": ["alpha beta", "gamma delta"]})
        f1 = pd.DataFrame({"doc_id": [2, 3], "text": ["Alpha  Beta", "epsilon zeta"]})  # 2 dups 0
        spark.createDataFrame(f0).coalesce(1).write.parquet(f"{tmp}/in/f0")
        import time as _time
        _time.sleep(1.1)
        spark.createDataFrame(f1).coalesce(1).write.parquet(f"{tmp}/in/f1")
        schema = spark.read.parquet(f"{tmp}/in/f0").schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/*")
        )
        from flox_spark.streaming import stream_dedup_exact
        out = stream_dedup_exact(stream)
        q = (
            out.writeStream.format("memory").queryName("flox_sdedup")
            .outputMode("append").option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        kept = sorted(r["doc_id"] for r in spark.sql("SELECT * FROM flox_sdedup").collect())
        assert kept == [0, 1, 3]  # doc 2 (normalized dup of 0) dropped cross-batch
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_equals_batch_engine(spark):
    # the differential check the batch engine gets from the oracle,
    # applied to streaming: a deterministic multi-batch file stream
    # must produce exactly what groupby_reduce computes on the same
    # data with the window start as a derived grouper
    rng = np.random.default_rng(17)
    n = 300
    pdf = pd.DataFrame({
        "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(rng.integers(0, 6 * 3600, n), unit="s"),
        "k": rng.integers(0, 4, n).astype(str),
        "v": rng.normal(size=n),
    })
    pdf.loc[rng.random(n) < 0.15, "v"] = np.nan
    tmp = tempfile.mkdtemp(prefix="flox_sdiff_")
    try:
        # three single-part files -> three micro-batches
        import time as _time
        for i, part in enumerate(np.array_split(pdf, 3)):
            spark.createDataFrame(part).coalesce(1).write.parquet(f"{tmp}/in/f{i}")
            _time.sleep(1.1)
        schema = spark.read.parquet(f"{tmp}/in/f0").schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/*")
        )
        out = groupby_reduce_stream(
            stream, "k", func="nansum", value="v",
            time_col="ts", window="1 hour", watermark="0 seconds", alias="total",
        )
        q = (
            out.writeStream.format("memory").queryName("flox_sdiff")
            .outputMode("complete").option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {
            (r["window_start"], r["k"]): r["total"]
            for r in spark.sql("SELECT * FROM flox_sdiff").collect()
        }
        # batch engine on the same data, window start as derived grouper
        batch_df = spark.read.parquet(f"{tmp}/in/*").withColumn(
            "window_start", F.window("ts", "1 hour")["start"]
        )
        want = {
            (r["window_start"], r["k"]): r["total"]
            for r in groupby_reduce(
                batch_df, "window_start", "k", func="nansum", value="v", alias="total"
            ).collect()
        }
        assert set(got) == set(want)
        for key in want:
            assert got[key] == pytest.approx(want[key], rel=1e-12), key
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_dedup_equals_batch_dedup(spark):
    # cross-batch streaming dedup must keep exactly the docs batch
    # dedup_exact selects (min doc_id per fingerprint) when duplicate
    # content never co-occurs inside one micro-batch (within a batch
    # dropDuplicates keeps an arbitrary witness)
    from flox_spark.operators import dedup_exact
    from flox_spark.streaming import stream_dedup_exact

    files = [
        pd.DataFrame({"doc_id": [0, 1, 2], "text": ["aa bb", "cc dd", "ee ff"]}),
        pd.DataFrame({"doc_id": [3, 4], "text": ["AA  BB", "gg hh"]}),   # 3 dups 0
        pd.DataFrame({"doc_id": [5, 6], "text": ["cc  DD", "ee ff x"]}),  # 5 dups 1
    ]
    tmp = tempfile.mkdtemp(prefix="flox_sdd2_")
    try:
        import time as _time
        for i, f in enumerate(files):
            spark.createDataFrame(f).coalesce(1).write.parquet(f"{tmp}/in/f{i}")
            _time.sleep(1.1)
        schema = spark.read.parquet(f"{tmp}/in/f0").schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/*")
        )
        q = (
            stream_dedup_exact(stream).writeStream.format("memory")
            .queryName("flox_sdd2").outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        stream_kept = sorted(
            r["doc_id"] for r in spark.sql("SELECT * FROM flox_sdd2").collect()
        )
        batch = dedup_exact(spark.read.parquet(f"{tmp}/in/*"))
        batch_kept = sorted(r["keep_id"] for r in batch.collect())
        assert stream_kept == batch_kept == [0, 1, 2, 4, 6]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_session_stream_equals_batch_sessions(spark):
    # session windows: the streaming wrapper must agree with the same
    # session_window aggregation evaluated in batch mode
    from flox_spark.streaming import groupby_session_stream

    pdf = pd.DataFrame({
        "ts": pd.to_datetime([
            "2024-01-01 00:00", "2024-01-01 00:10", "2024-01-01 01:30",
            "2024-01-01 00:05", "2024-01-01 02:00", "2024-01-01 02:20",
        ]),
        "k": ["a", "a", "a", "b", "b", "b"],
        "v": [1.0, 2.0, 4.0, 8.0, 16.0, 32.0],
    })
    tmp = tempfile.mkdtemp(prefix="flox_sess_")
    try:
        spark.createDataFrame(pdf).coalesce(1).write.parquet(f"{tmp}/in")
        schema = spark.read.parquet(f"{tmp}/in").schema
        stream = spark.readStream.schema(schema).parquet(f"{tmp}/in")
        out = groupby_session_stream(
            stream, "k", func="nansum", value="v",
            time_col="ts", gap="30 minutes", watermark="0 seconds", alias="total",
        )
        q = (
            out.writeStream.format("memory").queryName("flox_sess")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        got = {
            (r["window_start"], r["k"]): r["total"]
            for r in spark.sql("SELECT * FROM flox_sess").collect()
        }
        batch = (
            spark.read.parquet(f"{tmp}/in")
            .groupBy(F.session_window("ts", "30 minutes").alias("__w"), "k")
            .agg(F.sum("v").alias("total"))
            .select(F.col("__w.start").alias("window_start"), "k", "total")
        )
        want = {(r["window_start"], r["k"]): r["total"] for r in batch.collect()}
        assert got == want
        assert len(want) == 4  # a: 2 sessions, b: 2 sessions
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_dedup_against_static_reference(spark):
    # stream-static anti join: content already in the static reference
    # is dropped from every micro-batch; the stream needs no state
    tmp = tempfile.mkdtemp(prefix="flox_sagainst_")
    try:
        ref = spark.createDataFrame(
            pd.DataFrame({"doc_id": [100, 101], "text": ["known doc one", "known doc two"]})
        )
        f0 = pd.DataFrame({"doc_id": [0, 1], "text": ["KNOWN  doc one", "fresh alpha"]})
        f1 = pd.DataFrame({"doc_id": [2, 3], "text": ["known doc two", "fresh beta"]})
        spark.createDataFrame(f0).coalesce(1).write.parquet(f"{tmp}/in/f0")
        import time as _time

        _time.sleep(1.1)
        spark.createDataFrame(f1).coalesce(1).write.parquet(f"{tmp}/in/f1")
        schema = spark.read.parquet(f"{tmp}/in/f0").schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/*")
        )
        from flox_spark.streaming import stream_dedup_against

        out = stream_dedup_against(stream, ref)
        q = (
            out.writeStream.format("memory").queryName("flox_sagainst")
            .outputMode("append").option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        kept = sorted(r["doc_id"] for r in spark.sql("SELECT * FROM flox_sagainst").collect())
        assert kept == [1, 3]  # 0 and 2 are (normalized) matches of the reference
        # batch twin produces the identical survivor set on the union
        from flox_spark.operators import dedup_against

        batch_all = spark.createDataFrame(pd.concat([f0, f1], ignore_index=True))
        want = sorted(r["doc_id"] for r in dedup_against(batch_all, ref).collect())
        assert kept == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
