import shutil
import tempfile
import time

import pandas as pd
import pytest

from pyspark.sql import functions as F

from flox_spark.operators.dedup import minhash_candidates, minhash_signatures
from flox_spark.streaming import minhash_band_keys, stream_minhash_neardup
from flox_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def test_rowlocal_equals_batch_buckets(spark):
    # the stateless row-local signature must equal the batch
    # explode->distinct->groupBy signature (min ignores duplicate
    # shingles), hence identical band keys
    docs = load_table(spark, SF, "documents")
    r = 16 // 4
    sigs = minhash_signatures(docs, num_hashes=16, shingle_k=3, hash_impl="md5")
    batch_keys = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws("|", *[F.col(f"mh{b * r + j}") for j in range(r)])
                        ).alias("bkey"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bkey")
    a = sorted(map(tuple, batch_keys.collect()))
    b = sorted(
        map(
            tuple,
            minhash_band_keys(
                docs, num_hashes=16, bands=4, shingle_k=3, hash_impl="md5"
            ).collect(),
        )
    )
    assert a == b


def _run_stream(spark, tmp, batches):
    for i, pdf in enumerate(batches):
        spark.createDataFrame(pdf).coalesce(1).write.parquet(f"{tmp}/in/f{i}")
        time.sleep(1.1)
    schema = spark.read.parquet(f"{tmp}/in/f0").schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{tmp}/in/*")
    )
    out = stream_minhash_neardup(stream, num_hashes=16, bands=4, shingle_k=3)
    q = (
        out.writeStream.format("memory")
        .queryName("flox_neardup")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql("SELECT * FROM flox_neardup").collect()


def test_stream_flags_cross_batch_neardup(spark):
    tmp = tempfile.mkdtemp(prefix="flox_neardup_")
    try:
        base = (
            "the quick brown fox jumps over the lazy dog and runs far away into the woods"
        )
        f0 = pd.DataFrame(
            {"doc_id": [0, 1], "text": [base, "completely different content about spark engines"]}
        )
        # doc 2 is a near-dup of doc 0 (one word changed); doc 3 novel
        f1 = pd.DataFrame(
            {
                "doc_id": [2, 3],
                "text": [base.replace("lazy", "sleepy"), "unrelated third topic entirely here now"],
            }
        )
        rows = _run_stream(spark, tmp, [f0, f1])
        flagged = {r["doc_id"] for r in rows if r["rep_id"] != r["doc_id"]}
        assert 2 in flagged  # cross-batch near-dup caught via shared band
        reps = {r["rep_id"] for r in rows if r["doc_id"] == 2 and r["rep_id"] != 2}
        assert reps == {0}
        # novel docs are their own representative in every band
        assert 1 not in flagged and 3 not in flagged and 0 not in flagged
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_pairs_subset_of_batch_candidates(spark):
    # every (rep, doc) dup flag the stream emits must be a batch LSH
    # candidate pair on the same data — the streaming path finds no
    # false bucket collisions the batch path wouldn't
    docs_pdf = (
        load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    half = len(docs_pdf) // 2
    tmp = tempfile.mkdtemp(prefix="flox_neardup_sub_")
    try:
        rows = _run_stream(spark, tmp, [docs_pdf.iloc[:half], docs_pdf.iloc[half:]])
        stream_pairs = {
            (min(r["rep_id"], r["doc_id"]), max(r["rep_id"], r["doc_id"]))
            for r in rows
            if r["rep_id"] != r["doc_id"]
        }
        batch_pairs = {
            (r["id_a"], r["id_b"])
            for r in minhash_candidates(
                load_table(spark, SF, "documents"),
                num_hashes=16,
                bands=4,
                shingle_k=3,
                max_bucket=None,
            ).collect()
        }
        assert stream_pairs, "expected at least one near-dup flag in documents"
        assert stream_pairs <= batch_pairs
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bands_divisibility_rejected(spark):
    docs = load_table(spark, SF, "documents")
    with pytest.raises(ValueError, match="divide evenly"):
        minhash_band_keys(docs, num_hashes=16, bands=5)
    with pytest.raises(ValueError, match="divide evenly"):
        minhash_candidates(docs, num_hashes=16, bands=5)


def test_rowlocal_equals_batch_buckets_xxhash64_default(spark):
    # same equality under the production default (xxhash64): the
    # streaming row-local banding and the batch band_buckets must
    # agree bucket-for-bucket
    from flox_spark.operators.dedup import band_buckets

    docs = load_table(spark, SF, "documents")
    a = sorted(map(tuple, band_buckets(docs, num_hashes=16, bands=4, shingle_k=3).collect()))
    b = sorted(
        map(tuple, minhash_band_keys(docs, num_hashes=16, bands=4, shingle_k=3).collect())
    )
    assert a == b


def test_minhash_universal_hash_matches_hashlib(spark):
    # md5-mode signature re-derived in pure Python: ONE md5 per
    # shingle, halves h1/h2 from hex chars [0:8) and [8:16), seed i's
    # value = (h1 + i*h2) % 4294967311, min over shingles
    import hashlib

    from flox_spark.operators.dedup import MINHASH_P, minhash_signatures

    texts = {
        10: "the quick brown fox jumps over the lazy dog",
        11: "pack my box with five dozen liquor jugs",
        12: "ab",  # shorter than k -> whole text is the one shingle
    }
    pdf = pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    got = {
        r["doc_id"]: [r[f"mh{i}"] for i in range(4)]
        for r in minhash_signatures(
            spark.createDataFrame(pdf), num_hashes=4, shingle_k=3, hash_impl="md5"
        ).collect()
    }
    for doc_id, text in texts.items():
        toks = text.lower().split()
        if len(toks) >= 3:
            shingles = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        else:
            shingles = [" ".join(toks)]
        exp = []
        for i in range(4):
            vals = []
            for s in shingles:
                h = hashlib.md5(s.encode()).hexdigest()
                h1, h2 = int(h[:8], 16), int(h[8:16], 16)
                vals.append((h1 + i * h2) % MINHASH_P)
            exp.append(min(vals))
        assert got[doc_id] == exp, doc_id


# The signature/banding kernels are one SQL statement for batch and
# streaming frames: a parquet file stream drained through a memory sink
# must return exactly the batch call's rows.
_STREAM_CASES = [
    *[
        (fn, {"unit": unit, "hash_impl": h})
        for fn in ("minhash_signatures", "band_buckets")
        for unit in ("word", "char")
        for h in ("md5", "xxhash64")
    ],
    ("simhash_signatures", {"hash_impl": "md5", "hex_chars": 8}),
    ("simhash_signatures", {"hash_impl": "md5", "hex_chars": 16}),
    ("simhash_signatures", {"hash_impl": "xxhash64", "hex_chars": 16}),
    ("minhash_band_keys", {"hash_impl": "md5"}),
]


@pytest.fixture(scope="module")
def docs_dir(spark):
    tmp = tempfile.mkdtemp(prefix="flox_stream_batch_")
    edge = spark.createDataFrame(
        [(900001, None), (900002, ""), (900003, "ab"), (900004, "  Two   WORDS ")],
        "doc_id long, text string",
    )
    load_table(spark, SF, "documents").select("doc_id", "text").unionByName(
        edge
    ).coalesce(2).write.parquet(f"{tmp}/in")
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.parametrize(
    "fn,kw", _STREAM_CASES, ids=[f"{fn}-{'-'.join(map(str, kw.values()))}" for fn, kw in _STREAM_CASES]
)
def test_stream_equals_batch(spark, docs_dir, fn, kw):
    from flox_spark.operators import dedup

    op = minhash_band_keys if fn == "minhash_band_keys" else getattr(dedup, fn)
    batch = spark.read.parquet(f"{docs_dir}/in")
    stream = spark.readStream.schema(batch.schema).parquet(f"{docs_dir}/in")
    out = op(stream, **kw)
    assert out.isStreaming
    name = "flox_sb_" + "_".join([fn, *map(str, kw.values())])
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{docs_dir}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
        assert q.exception() is None
        got = sorted(map(tuple, spark.sql(f"SELECT * FROM {name}").collect()))
    finally:
        q.stop()
    want = sorted(map(tuple, op(batch, **kw).collect()))
    assert got == want and len(want) >= 500
