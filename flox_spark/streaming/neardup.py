"""Streaming incremental MinHash near-duplicate detection.

Signatures are row-local array folds (a document is one row and the
per-seed min ignores duplicate shingles), so the signature stage is
stateless on a stream: it is the batch statement itself
(``operators/dedup._minhash_pipeline_sql`` through ``band_buckets``),
run unchanged on the streaming frame — there is no stream-only
spelling to drift (``tests/test_stream_neardup.py`` runs it on a
file stream and compares rows with the batch call).

Only the LSH bucket memory is stateful: ``applyInPandasWithState``
keyed by (band, bucket key) stores exactly one value per bucket — the
first-seen doc id (the bucket representative).  Each arriving doc is
emitted with the representative of every band bucket it lands in;
``rep_id != doc_id`` flags a near-duplicate candidate.  State size is
fixed per bucket (one id + count, no growth with duplicates), bounded
overall by the number of distinct band keys — the streaming analog of
the batch design where ``max_bucket`` bounds the quadratic join.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


__all__ = ["minhash_band_keys", "stream_minhash_neardup"]


def minhash_band_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    extra_cols: list[str] | None = None,
    hash_impl: str = "xxhash64",
) -> DataFrame:
    """Row-local (id, band, bkey) rows — no shuffle, no state; works
    identically on batch and streaming frames, because it IS
    ``band_buckets`` (word shingles): one base hash per shingle, seeds
    derived by affine mixes, all mins in one fold.  ``hash_impl="md5"``
    is the oracle-reproducible path, "xxhash64" (default) the native
    production hash.  ``extra_cols`` ride through to the output and
    get the same reserved-name guard as ``band_buckets``' ``carry``:
    a column named band/bkey/__t etc. would silently clobber a
    pipeline-internal or output column, so it raises instead."""
    from flox_spark.operators.dedup import band_buckets

    return band_buckets(
        df, id_col, text_col, num_hashes, bands, shingle_k, hash_impl,
        unit="word", carry=tuple(extra_cols or ()),
    )


def stream_minhash_neardup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    order_col: str | None = None,
    hash_impl: str = "xxhash64",
) -> DataFrame:
    """Streaming near-dup flags: one output row per (doc, band) with
    the band bucket's first-seen representative.

    ``order_col`` (defaults to ``id_col``) breaks in-batch ties so
    "first seen" is deterministic.  Returns a streaming DataFrame
    (append mode) with columns (id, band, bkey, rep_id); a doc is a
    near-dup candidate iff any band row has ``rep_id != id``.
    """
    order = order_col or id_col
    extra = [order] if order != id_col else None
    keys = minhash_band_keys(
        df, id_col, text_col, num_hashes, bands, shingle_k, extra, hash_impl
    )

    id_type = df.schema[id_col].dataType
    out_schema = (
        StructType()
        .add(id_col, id_type)
        .add("band", "integer")
        .add("bkey", "string")
        .add("rep_id", id_type)
    )
    state_schema = StructType().add("rep", id_type).add("n", "long")

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rep, seen = (state.get[0], state.get[1]) if state.exists else (None, 0)
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            return
        rows = pd.concat(chunks).sort_values(order, kind="mergesort")
        if rep is None:
            rep = rows[id_col].iloc[0]
        out = rows[[id_col, "band", "bkey"]].copy()
        out["rep_id"] = rep
        state.update((rep, seen + len(rows)))
        yield out

    return keys.groupBy("band", "bkey").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
