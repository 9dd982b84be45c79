"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001.
``queries()`` maps each implemented operator (SURVEY.md §2) to a
callable (spark, sf_dir) -> DataFrame built through the flox_spark
engine; ``oracle_sql()`` gives the DuckDB-equivalent SQL for the
driver's differential check.  Aliases match on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flox_spark import groupby_reduce, groupby_scan
from flox_spark.sources import load_table


_TCACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = None  # type: ignore[assignment]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Memoize the reader per (session, dir, table): spark.read.parquet
    # costs ~0.1s of py4j/schema-listing per call (profiled), paid by
    # every bench/driver query build.  DataFrames are immutable plans,
    # so reuse is safe; the WeakKey keeps dead sessions collectable.
    global _TCACHE
    if _TCACHE is None:
        import weakref

        _TCACHE = weakref.WeakKeyDictionary()
    per_session = _TCACHE.setdefault(spark, {})
    key = (sf_dir, name)
    df = per_session.get(key)
    if df is None:
        df = per_session[key] = load_table(spark, sf_dir, name)
    return df


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1-style grouped reduction through the engine."""
    lineitem = _t(spark, "/root/testdata/sf0.001", "lineitem")
    return groupby_reduce(
        lineitem, "l_returnflag", "l_linestatus",
        func="sum", value="l_quantity", alias="sum_qty",
    )


# ---------------------------------------------------------------------------
# per-operator queries (SURVEY.md §2.2 registry coverage)
# ---------------------------------------------------------------------------

def _q_reduce(func: str, table: str, by: list[str], value: str, alias: str, **kw):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _t(spark, sf_dir, table)
        return groupby_reduce(df, *by, func=func, value=value, alias=alias, **kw)

    return run


def q_count(s, d):
    return _q_reduce("count", "lineitem", ["l_returnflag", "l_linestatus"], "l_quantity", "cnt")(s, d)


def q_sum(s, d):
    return _q_reduce("sum", "lineitem", ["l_returnflag", "l_linestatus"], "l_quantity", "sum_qty")(s, d)


def q_nansum(s, d):
    # round: engine-vs-oracle summation order differs at the ulp for
    # ~1e9-magnitude sums; identical rounding on both sides makes the
    # value-hash insensitive to it
    out = _q_reduce("nansum", "lineitem", ["l_returnflag", "l_linestatus"], "l_extendedprice", "sum_price")(s, d)
    return out.withColumn("sum_price", F.round("sum_price", 4))


def q_mean(s, d):
    out = _q_reduce("nanmean", "lineitem", ["l_returnflag", "l_linestatus"], "l_discount", "avg_disc")(s, d)
    return out.withColumn("avg_disc", F.round("avg_disc", 9))


def q_min(s, d):
    return _q_reduce("nanmin", "lineitem", ["l_returnflag"], "l_extendedprice", "min_price")(s, d)


def q_max(s, d):
    return _q_reduce("nanmax", "lineitem", ["l_returnflag"], "l_extendedprice", "max_price")(s, d)


def q_var(s, d):
    out = _q_reduce("nanvar", "lineitem", ["l_returnflag"], "l_quantity", "var_qty")(s, d)
    return out.withColumn("var_qty", F.round("var_qty", 6))


def q_var_ddof1(s, d):
    out = _q_reduce("nanvar", "lineitem", ["l_returnflag"], "l_quantity", "var1_qty",
                    finalize_kwargs={"ddof": 1})(s, d)
    return out.withColumn("var1_qty", F.round("var1_qty", 6))


def q_std(s, d):
    out = _q_reduce("nanstd", "lineitem", ["l_returnflag"], "l_quantity", "std_qty",
                    finalize_kwargs={"ddof": 1})(s, d)
    return out.withColumn("std_qty", F.round("std_qty", 6))


def q_prod(s, d):
    # small groups (lines per order) keep the product in double range
    out = _q_reduce("nanprod", "lineitem", ["l_orderkey"], "l_discount", "prod_disc")(s, d)
    return out.withColumn("prod_disc", F.round("prod_disc", 12))


def q_median(s, d):
    out = _q_reduce("nanmedian", "lineitem", ["l_returnflag"], "l_extendedprice", "med_price")(s, d)
    return out.withColumn("med_price", F.round("med_price", 6))


def q_quantile(s, d):
    out = _q_reduce("nanquantile", "lineitem", ["l_returnflag"], "l_extendedprice", "p90_price",
                    finalize_kwargs={"q": 0.9})(s, d)
    return out.withColumn("p90_price", F.round("p90_price", 6))


def q_quantile_vector(s, d):
    # vector q: per-q output rows (reference quantile_new_dims_func
    # adds a q dimension, flox/aggregations.py:688-710)
    out = _q_reduce("nanquantile", "lineitem", ["l_returnflag"], "l_extendedprice", "p_price",
                    finalize_kwargs={"q": [0.25, 0.5, 0.9]})(s, d)
    return out.withColumn("p_price", F.round("p_price", 6))


def q_first(s, d):
    return _q_reduce("nanfirst", "events", ["user_id"], "value", "first_value", order_by="event_id")(s, d)


def q_last(s, d):
    return _q_reduce("nanlast", "events", ["user_id"], "value", "last_value", order_by="event_id")(s, d)


def q_argmax(s, d):
    return _q_reduce("nanargmax", "events", ["user_id"], "value", "argmax_event", order_by="event_id")(s, d)


def q_argmin(s, d):
    return _q_reduce("nanargmin", "events", ["user_id"], "value", "argmin_event", order_by="event_id")(s, d)


def _with_sparse_gaps(df: DataFrame) -> DataFrame:
    # sparser injection than _with_gaps: ~40 of 150 user groups get a
    # missing value, so BOTH the poisoned and the clean branch of the
    # plain (NaN-propagating) funcs are driver-verified
    return df.withColumn(
        "v", F.when(F.col("event_id") % 211 == 0, F.lit(None)).otherwise(F.col("value"))
    )


def q_first_plain(s, d):
    # plain (NaN-propagating) first: positional first INCLUDING the
    # missing value (numpy view: missing surfaces as NaN) — driver
    # evidence for the non-nan* semantics (flox/aggregate_npg.py:58-88)
    df = _with_sparse_gaps(_t(s, d, "events"))
    return groupby_reduce(df, "user_id", func="first", value="v",
                          order_by="event_id", alias="first_value")


def q_argmax_plain(s, d):
    # plain argmax: any missing value in the group -> position of the
    # FIRST missing element (numpy comparison semantics)
    df = _with_sparse_gaps(_t(s, d, "events"))
    return groupby_reduce(df, "user_id", func="argmax", value="v",
                          order_by="event_id", alias="argmax_event")


def q_min_plain(s, d):
    # plain min: NaN poisons the group (Spark's native NaN-sorts-high
    # rule would instead hide it — the bool_or wrapper is what's tested)
    df = _with_sparse_gaps(_t(s, d, "events"))
    return groupby_reduce(df, "user_id", func="min", value="v", alias="min_value")


def q_mode_plain(s, d):
    # plain mode: nan_policy='propagate' (scipy.stats.mode parity)
    df = _t(s, d, "events").withColumn(
        "vm",
        F.when(F.col("event_id") % 211 == 0, F.lit(None)).otherwise(
            (F.floor("value") % 5).cast("double")
        ),
    )
    return groupby_reduce(df, "user_id", func="mode", value="vm", alias="mode_value")


def q_any(s, d):
    df = _t(s, d, "events").withColumn("big", F.col("value") > 100.0)
    return groupby_reduce(df, "event_type", func="any", value="big", alias="any_big")


def q_all(s, d):
    df = _t(s, d, "events").withColumn("pos", F.col("value") > 0.0)
    return groupby_reduce(df, "event_type", func="all", value="pos", alias="all_pos")


def q_mode(s, d):
    return _q_reduce("nanmode", "orders", ["o_orderstatus"], "o_orderpriority", "mode_prio")(s, d)


def q_binned_count(s, d):
    return _q_reduce(
        "count", "lineitem", ["l_quantity"], "l_extendedprice", "cnt",
        isbin=True, expected_groups=[0.0, 10.0, 20.0, 30.0, 50.0], fill_value=0,
    )(s, d)


def q_binned_labels(s, d):
    # interval-edge label columns (flox pd.IntervalIndex parity,
    # flox/factorize.py:55-82): bin_left < x <= bin_right
    out = _q_reduce(
        "nanmean", "lineitem", ["l_quantity"], "l_extendedprice", "mean_price",
        isbin=True, bin_labels=True,
        expected_groups=[0.0, 10.0, 20.0, 30.0, 50.0], fill_value=0.0,
    )(s, d)
    return out.withColumn("mean_price", F.round("mean_price", 4))


def q_binned_datetime(s, d):
    # datetime binning: weekly timestamp breaks digitized through the
    # int64 view (reference flox/factorize.py:64-72)
    return _q_reduce(
        "count", "events", ["ts"], "value", "cnt",
        isbin=True,
        expected_groups=["2024-01-01", "2024-01-08", "2024-01-15",
                         "2024-01-22", "2024-01-29", "2024-02-05"],
        fill_value=0,
    )(s, d)


def q_expected_fill(s, d):
    # full cartesian grid incl. absent combos, filled (flox fill_value)
    return _q_reduce(
        "nansum", "lineitem", ["l_returnflag", "l_linestatus"], "l_quantity", "sum_qty",
        expected_groups=(["A", "N", "R", "Z"], ["F", "O"]), fill_value=0.0,
    )(s, d)


def q_dayofyear_mean(s, d):
    # the flox climatology shape: groupby dayofyear(ts) (ERA5 benchmarks)
    df = _t(s, d, "events").withColumn("doy", F.dayofyear("ts").cast("long"))
    out = groupby_reduce(df, "doy", func="nanmean", value="value", alias="avg_value")
    return out.withColumn("avg_value", F.round("avg_value", 6))


def q_multiby_highcard(s, d):
    # compound grouper, higher cardinality (user x event_type)
    out = _q_reduce("nansum", "events", ["user_id", "event_type"], "value", "sum_value")(s, d)
    return out.withColumn("sum_value", F.round("sum_value", 6))


def q_monthhour_sum(s, d):
    # ERA5MonthHour shape (BASELINE.md): compound (month, hour)
    # derived-time grouper — 288-group climatology analog
    df = (
        _t(s, d, "events")
        .withColumn("month", F.month("ts").cast("long"))
        .withColumn("hour", F.hour("ts").cast("long"))
    )
    out = groupby_reduce(df, "month", "hour", func="nansum", value="value", alias="sum_value")
    return out.withColumn("sum_value", F.round("sum_value", 6))


def q_json_extract(s, d):
    # scalar-function coverage: JSON field extraction feeding a grouped
    # reduction (events.props is a JSON string column)
    df = _t(s, d, "events").withColumn(
        "k_field", F.get_json_object(F.col("props"), "$.k").cast("long")
    )
    out = groupby_reduce(df, "event_type", func="nanmean", value="k_field", alias="avg_k")
    return out.withColumn("avg_k", F.round("avg_k", 9))


def q_highcard_random(s, d):
    # RandomBigArray shape (BASELINE.md: 5000 uniform-random groups):
    # high-cardinality single grouper, unsorted output
    df = _t(s, d, "lineitem")
    return groupby_reduce(df, "l_partkey", func="nansum", value="l_quantity", alias="sum_qty")


# ---- scans ----------------------------------------------------------------

def _with_gaps(df: DataFrame) -> DataFrame:
    # deterministically inject missing values so fills do real work
    return df.withColumn("v", F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value")))


def q_scan_cumsum(s, d):
    df = _t(s, d, "events")
    out = groupby_scan(df, "user_id", func="nancumsum", value="value", order_by="event_id")
    return out.select("event_id", "user_id", F.round(F.col("nancumsum"), 6).alias("cum_value"))


def q_scan_cumcount(s, d):
    df = _with_gaps(_t(s, d, "events"))
    out = groupby_scan(df, "user_id", func="cumcount", value="v", order_by="event_id")
    return out.select("event_id", "user_id", F.col("cumcount").alias("cum_cnt"))


def q_scan_ffill(s, d):
    df = _with_gaps(_t(s, d, "events"))
    out = groupby_scan(df, "user_id", func="ffill", value="v", order_by="event_id")
    return out.select("event_id", "user_id", F.col("ffill").alias("v_filled"))


def q_scan_bfill(s, d):
    df = _with_gaps(_t(s, d, "events"))
    out = groupby_scan(df, "user_id", func="bfill", value="v", order_by="event_id")
    return out.select("event_id", "user_id", F.col("bfill").alias("v_filled"))


# ---- beyond-reference pipeline operators (BASELINE.json north star) -------

from flox_spark.operators import (  # noqa: E402
    cosine_topk,
    dedup_exact,
    embedding_near_duplicates,
    fingerprint,
    language_id,
    minhash_candidates,
    ngram_jaccard_pairs,
    quality_score,
    simhash_signatures,
    token_count,
)


def q_text_tokens(s, d):
    return token_count(_t(s, d, "documents")).select("doc_id", "n_tokens")


def q_text_tokens_bpe(s, d):
    from flox_spark.operators import token_count_bpe

    return token_count_bpe(_t(s, d, "documents")).select("doc_id", "n_bpe_tokens")


def q_text_quality(s, d):
    return quality_score(_t(s, d, "documents")).select(
        "doc_id", "q_n_tokens", "q_mean_tok_len", "q_punct_ratio", "q_stop_ratio", "q_score"
    )


def q_text_langid(s, d):
    return language_id(_t(s, d, "documents")).select("doc_id", "lang_pred")


def q_text_repetition(s, d):
    from flox_spark.operators.text import repetition_ratio

    return repetition_ratio(_t(s, d, "documents")).select(
        "doc_id", "rep_distinct_ratio", "rep_top_token_ratio"
    )


def q_text_fingerprint(s, d):
    return fingerprint(_t(s, d, "documents")).select("doc_id", "fp")


def q_dedup_exact(s, d):
    return dedup_exact(_t(s, d, "documents"))


def q_minhash_pairs(s, d):
    return minhash_candidates(_t(s, d, "documents"), num_hashes=16, bands=4, shingle_k=3, max_bucket=None, hash_impl="md5")


# q_minhash_pairs_xx's candidate call runs uncapped: its literal-id
# dup-group prefilter is complete only when no bucket is dropped
_MINHASH_PAIRS_XX_MAX_BUCKET = None


def q_minhash_pairs_xx(s, d):
    # production-hash twin of minhash_pairs (xxhash64 longs instead of
    # md5 hex strings).  Cross-engine HASHING is the one thing
    # xxhash64 gives up, but the hash-AGNOSTIC invariants of a correct
    # banding are relational (r12 VERDICT #6), so this row carries a
    # DuckDB INVARIANT oracle instead of no_oracle: pair order (a<b)
    # and distinctness, ids resolvable in the corpus, band SHAPE (one
    # bucket per doc per band), and COMPLETENESS on identical shingle
    # sets — equal sets => equal signatures under ANY hash => every
    # band collides => the pair MUST be emitted when max_bucket=None.
    #
    # Physical shape (r14): the REAL banded operator runs once and the
    # ONLY driver materialization is its candidate-pair output (the
    # near-dup pair class, the same bounded scale as the union-find
    # literal path) — it re-enters as a broadcast LocalRelation that
    # every membership check joins against.  Everything corpus-sized
    # stays Spark-side: unknown-id = LEFT ANTI join of the literal
    # pair ids against the docs scan, dup-shingle pair counting =
    # distributed within-group expansion + LEFT join to the literal
    # pairs, band shape = a 4-row aggregate crossed with the doc
    # count — no O(corpus) driver memory anywhere (r13 VERDICT #4; the
    # r13 form collected ALL doc ids + dup-group id lists and paired
    # them in python loops).  A fully-declarative 4-branch audit plan
    # was measured 9.9 s (every branch re-ran the shingle+minhash
    # pipeline) and lazy-checkpointing the shared frames 10.7 s (AQE
    # plan -> RDD conversion); this literal-pairs form runs each
    # pipeline exactly once.
    from flox_spark.plans.util import local_frame, materialize_shared
    from flox_spark.streaming import minhash_band_keys

    docs = _t(s, d, "documents")
    # ONE banding pass (r14 optimization): the r14-mid form ran the
    # tokenize+shingle+minhash pipeline TWICE — once inside
    # minhash_candidates and once more for the band-shape audit's
    # minhash_band_keys call (two independent actions, two full
    # pipelines; 18 Spark jobs, 3.1-4.3 s wall).  minhash_band_keys
    # IS a band_buckets call, so build the band keys once,
    # materialize, and feed BOTH the production self-join (via
    # minhash_candidates(buckets=...)) and the band-shape aggregate
    # from it.
    bk = materialize_shared(
        minhash_band_keys(
            docs, num_hashes=16, bands=4, shingle_k=3, hash_impl="xxhash64"
        )
    )
    pair_rows = minhash_candidates(
        docs, num_hashes=16, bands=4, shingle_k=3,
        max_bucket=_MINHASH_PAIRS_XX_MAX_BUCKET, hash_impl="xxhash64", buckets=bk,
    ).collect()
    pair_set = {(r["id_a"], r["id_b"]) for r in pair_rows}
    n_bad_order = sum(1 for a, b in ((r["id_a"], r["id_b"]) for r in pair_rows) if a >= b)
    n_dup_pairs = len(pair_rows) - len(pair_set)
    # unknown-id check Spark-side: known = docs SEMI-joined against
    # the broadcast literal-id frame (the build side must be the tiny
    # side — Spark cannot broadcast the LEFT of an anti join), unknown
    # = literal ids minus known.  No id collect.
    assert _MINHASH_PAIRS_XX_MAX_BUCKET is None, (
        "the literal-id dup-group prefilter below needs uncapped buckets"
    )
    ids = sorted({x for p in pair_set for x in p})
    # duplicate shingle-set groups: prefiltered by the LITERAL pair
    # ids (r15; supersedes the r14 signature-equality rebuild).  Equal
    # shingle sets => equal minhash signatures => ALL 4 bands collide
    # => with max_bucket=None the pair is IN pair_set, so every doc of
    # every true dup group appears in `ids` — the already-collected
    # pair-id set is a correct prefilter with NO extra Spark subtree.
    # The r14 form rebuilt each doc's signature from bk
    # (collect_list + a second groupBy: two exchanges + a broadcast
    # build, ~3 AQE jobs) to find multi-doc signature groups; `ids`
    # is a superset of those docs (any sig-equal partner pair shares
    # all bands), and supersets are safe for the same reason LSH
    # collisions were: the exact-key aggregate below still decides
    # membership — false positives form n=1 exact-key groups and
    # drop out, no false negatives (set equality => pair emitted).
    # ~600 of 5000 docs at sf0.1 — the near-dup candidate class,
    # bounded at scale exactly like pair_set itself.
    #
    # The WHOLE audit tree is assembled in ONE parameterized
    # spark.sql call (r15): the Column-built form cost ~0.7 s of py4j
    # round trips per build (1656 measured); one SQL string analyzes
    # once.  Expressions are the exact twins of the r14 Column form
    # (same staged-token CTE, same shingle transform as
    # _minhash_pipeline_sql's word branch, same aggregates), pinned
    # by the brute-force differential test and the DuckDB invariant
    # oracle.
    #
    # Exact stage notes preserved from r14: tokens are STAGED in
    # their own CTE (inlined, the regex split re-evaluates once per
    # SHINGLE inside the transform lambda — measured 8.0 s vs 0.65 s
    # staged); shingle-LESS docs (under k tokens) are dropped via a
    # ROW-level token-count filter, NOT a filter touching the
    # shingle/key expression (Catalyst pushes key filters below the
    # projection and DUPLICATES the giant nested-lambda key — a ~9 s
    # first-execution penalty, measured).  Band SHAPE counts come
    # straight off the checkpointed bk frame as 4 conditional sums —
    # one partial-aggregate pass, no doc_id exchange (the r14 sig
    # route existed to reuse an exchange this form no longer needs);
    # the n_bands / n_uneven comparison stays 4-number driver
    # arithmetic.  The known-id/doc-count scan and the three 1-row
    # aggregates keep their r14 shape (one corpus scan, one merged
    # UNION action), now inside the same SQL statement.
    litp = local_frame(s, sorted(pair_set), "id_a bigint, id_b bigint")
    idf = local_frame(s, [(i,) for i in ids], "pid bigint")
    nb_cols = ", ".join(
        f"coalesce(sum(cast(band = {b} as bigint)), 0) AS nb{b}" for b in range(4)
    )
    audit_sql = (
        "WITH __toks AS (\n"
        "  SELECT /*+ BROADCAST(i) */ d.doc_id,"
        " split(lower(trim(d.text)), '\\\\s+') AS __t\n"
        "  FROM {src} d LEFT SEMI JOIN {idf} i ON d.doc_id = i.pid\n"
        "),\n"
        "__keyed AS (\n"
        "  SELECT doc_id, concat_ws('\x1f', array_sort(array_distinct(\n"
        "    CASE WHEN size(__t) >= 3\n"
        "    THEN transform(sequence(1, size(__t) - 2),"
        " i -> concat(__t[i-1], ' ', __t[i+0], ' ', __t[i+1]))\n"
        "    ELSE array(concat_ws(' ', __t)) END))) AS __k\n"
        "  FROM __toks WHERE size(__t) >= 3\n"
        "),\n"
        "__grp AS (\n"
        "  SELECT count(1) AS n, collect_list(doc_id) AS ids\n"
        "  FROM __keyed GROUP BY __k\n"
        "),\n"
        "__dp AS (\n"
        "  SELECT a, b FROM (\n"
        "    SELECT explode(ids) AS a, ids FROM __grp WHERE n > 1\n"
        "  ) LATERAL VIEW explode(ids) __e AS b WHERE a < b\n"
        "),\n"
        "__dstats AS (\n"
        "  SELECT /*+ BROADCAST(p) */ count(1) AS dsp,\n"
        "    coalesce(sum(cast(p.id_a IS NOT NULL AS bigint)), 0) AS cap\n"
        "  FROM __dp LEFT JOIN {litp} p ON __dp.a = p.id_a AND __dp.b = p.id_b\n"
        "),\n"
        f"__bstats AS (SELECT {nb_cols} FROM {{bk}}),\n"
        "__kstats AS (\n"
        "  SELECT /*+ BROADCAST(i) */ count(1) AS __nd, count(i.pid) AS nk\n"
        "  FROM {src} d LEFT JOIN {idf} i ON d.doc_id = i.pid\n"
        ")\n"
        "SELECT 'd' AS __src, dsp, cap, CAST(NULL AS bigint) AS nb0,"
        " CAST(NULL AS bigint) AS nb1, CAST(NULL AS bigint) AS nb2,"
        " CAST(NULL AS bigint) AS nb3, CAST(NULL AS bigint) AS __nd,"
        " CAST(NULL AS bigint) AS nk FROM __dstats\n"
        "UNION ALL SELECT 'b', CAST(NULL AS bigint), CAST(NULL AS bigint),"
        " nb0, nb1, nb2, nb3, CAST(NULL AS bigint), CAST(NULL AS bigint)"
        " FROM __bstats\n"
        "UNION ALL SELECT 'k', CAST(NULL AS bigint), CAST(NULL AS bigint),"
        " CAST(NULL AS bigint), CAST(NULL AS bigint), CAST(NULL AS bigint),"
        " CAST(NULL AS bigint), __nd, nk FROM __kstats"
    )
    merged = s.sql(audit_sql, src=docs, idf=idf, litp=litp, bk=bk)
    rows = {r["__src"]: r for r in merged.collect()}
    dup_shingle_pairs, dup_captured = rows["d"]["dsp"], rows["d"]["cap"]
    nd = rows["k"]["__nd"]
    nbs = [rows["b"][f"nb{b}"] for b in range(4)]
    n_bands = sum(1 for nb in nbs if nb > 0)
    n_uneven_bands = sum(1 for nb in nbs if nb > 0 and nb != nd)
    n_unknown_ids = (len(ids) - rows["k"]["nk"]) if ids else 0
    return local_frame(
        s,
        [(n_bad_order, n_dup_pairs, n_unknown_ids, dup_shingle_pairs,
          dup_captured, n_bands, n_uneven_bands)],
        "n_bad_order bigint, n_dup_pairs bigint, n_unknown_ids bigint, "
        "dup_shingle_pairs bigint, dup_captured bigint, n_bands bigint, "
        "n_uneven_bands bigint",
    )


def q_jaccard_pairs(s, d):
    return ngram_jaccard_pairs(_t(s, d, "documents"), k=3, threshold=0.2, df_max=None).withColumn(
        "jaccard", F.round("jaccard", 9)
    )


def q_simhash(s, d):
    return simhash_signatures(_t(s, d, "documents"), hex_chars=8, hash_impl="md5")


def q_simhash_pairs(s, d):
    # banded hamming-distance pairing over simhash signatures
    from flox_spark.operators import simhash_pairs

    return simhash_pairs(_t(s, d, "documents"), max_hamming=3, bands=4, max_bucket=None, hash_impl="md5")


def q_simhash_xx(s, d):
    # production-hash twin of simhash (bit votes over one xxhash64
    # long per token).  Upgraded from rows-only to a DuckDB INVARIANT
    # oracle (r12 VERDICT #6): exactly one well-formed 8-hex signature
    # per document, and DETERMINISM over the token SET — equal
    # distinct-token sets get equal bit votes, hence equal signatures,
    # under ANY hash impl.  The oracle recomputes doc and token-set
    # counts from raw text; the violation counters pin at zero.
    from flox_spark.operators.dedup import _word_tokens

    docs = _t(s, d, "documents")
    # ONE LINEAR plan (r14 optimization): the r14-mid form computed
    # signatures and token-set keys as two pipelines joined by doc_id
    # (a broadcast build job), localCheckpointed the join for the
    # base/per-key branch diamond (another job), and crossJoined two
    # aggregates (9 jobs, 1.5-1.6 s).  Instead: thread the raw text
    # through the signature operator (carry=, the minhash_signatures
    # pattern), derive the token-set key row-locally, and fold BOTH
    # aggregation levels in one pass with rollup("__k") — the global
    # grouping-set row carries the row/doc/format counters, the
    # per-key rows carry the distinct-signature split counters, and a
    # final row-local aggregate separates them by grouping().  No
    # join, no checkpoint, no diamond; exec 3 jobs.
    sigs = simhash_signatures(
        docs, hex_chars=8, hash_impl="xxhash64", carry=("text",)
    )
    frame = sigs.select(
        "doc_id",
        "simhash",
        F.concat_ws(
            "\x1f", F.array_sort(F.array_distinct(_word_tokens("text")))
        ).alias("__k"),
    )
    rolled = frame.rollup("__k").agg(
        F.count(F.lit(1)).alias("__n"),
        F.count_distinct(F.col("doc_id")).alias("__nd"),
        F.coalesce(
            F.sum((~F.col("simhash").rlike("^[0-9a-f]{8}$")).cast("long")),
            F.lit(0),
        ).alias("__nbad"),
        F.count_distinct(F.col("simhash")).alias("__ns"),
        F.grouping("__k").alias("__gid"),
    )
    g = F.col("__gid") == 1  # the global grouping-set row
    return rolled.agg(
        F.coalesce(F.sum(F.when(g, F.col("__n"))), F.lit(0)).alias("n_rows"),
        F.coalesce(F.max(F.when(g, F.col("__nd"))), F.lit(0)).alias("n_docs"),
        F.coalesce(F.sum(F.when(g, F.col("__nbad"))), F.lit(0)).alias("n_bad_format"),
        F.coalesce(F.sum(F.when(~g, F.lit(1))), F.lit(0)).alias("n_token_sets"),
        F.coalesce(
            F.sum(F.when(~g & (F.col("__ns") > 1), F.lit(1))), F.lit(0)
        ).alias("n_split_token_sets"),
    )


def q_minhash_clusters(s, d):
    # pairs -> connected components -> (doc_id, cluster_id): the
    # decision step of a near-dedup pipeline (A~B, B~C => one cluster)
    from flox_spark.operators import dedup_clusters

    docs = _t(s, d, "documents")
    pairs = minhash_candidates(
        docs, num_hashes=16, bands=4, shingle_k=3, max_bucket=None,
        hash_impl="md5",
    )
    from flox_spark.operators.dedup import _literal_cc_cap

    return dedup_clusters(pairs, literal_max_pairs=_literal_cc_cap(docs))


def q_ann_topk(s, d):
    emb = _t(s, d, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries_df, k=10, dim=64)


def _tiles768(emb):
    # dim-768 vectors synthesized declaratively from the dim-64
    # embeddings: 12 differently-scaled tiles.  Single-arg lambda with
    # the tile scale baked in: a 2-param F.transform lambda binds its
    # SECOND parameter to the array element index, shadowing any
    # captured tile index (r10 ADVICE — that variant scaled all 12
    # tiles identically per element, making the synthesized vectors
    # degenerate repeats)
    def _tile(scale: float):
        return F.transform(
            "embedding", lambda x: x.cast("double") * F.lit(scale)
        )

    tiles = F.flatten(F.array(*[_tile(1.0 + 0.1 * i) for i in range(12)]))
    return emb.select("vec_id", tiles.alias("embedding"))


def q_ann_topk_768(s, d):
    # driver-visible evidence for the high-dim Arrow kernel routes
    # (r9 VERDICT #5): every other registry row runs at dim 64 under
    # the stats gates, so the driver harness had never executed the
    # matmul scorers.  Synthesize dim-768 vectors (_tiles768), FORCE
    # kernel='numpy', and run the top-10 per query (a full SQL oracle
    # would just re-verify dim-64 arithmetic at 12x the cost; the
    # check that matters is the forced Arrow kernel running under the
    # driver's harness, now audited through the invariant fold below)
    base = _tiles768(_t(s, d, "embeddings"))
    queries_df = base.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(base, queries_df, k=10, dim=768, kernel="numpy")
    # r13 (r12 VERDICT #6): fold the forced-kernel output into a
    # DuckDB INVARIANT row — exactly k results per query, distinct
    # neighbors, every cosine in [-1, 1], and each query's best match
    # at cos 1.0 (the query vector is drawn from the base, so its
    # self-similarity rounds to exactly 1 at round_to=6).  The oracle
    # derives the expected counts from the embeddings table.
    per_q = out.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("__n"),
        F.count_distinct(F.col("vec_id")).alias("__nd"),
        F.max("cos_sim").alias("__mx"),
        F.sum(
            ((F.col("cos_sim") < -1.0) | (F.col("cos_sim") > 1.0)).cast("long")
        ).alias("__oob"),
    )
    return per_q.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).alias("n_rows"),
        F.count(F.lit(1)).alias("n_queries"),
        F.coalesce(
            F.sum((F.col("__n") != 10).cast("long")), F.lit(0)
        ).alias("n_bad_k"),
        F.coalesce(
            F.sum((F.col("__nd") != F.col("__n")).cast("long")), F.lit(0)
        ).alias("n_dup_neighbors"),
        F.coalesce(F.sum("__oob"), F.lit(0)).alias("n_out_of_range"),
        F.coalesce(
            F.sum((F.col("__mx") >= 0.999999).cast("long")), F.lit(0)
        ).alias("n_self_top"),
    )


def q_lsh_sig_768(s, d):
    # driver evidence for _numpy_signature_pass (r10 VERDICT #3):
    # dim-768 signatures through the FORCED Arrow matmul kernel.
    # Upgraded from rows-only to a DuckDB INVARIANT oracle (r13
    # VERDICT #5): exactly one well-formed 16-char '0'/'1' signature
    # per vector, and per-band bucket-count consistency — each 4-bit
    # band's distinct-bucket count must be between 1 and
    # min(2^4, n_vecs).  The oracle recomputes the vector counts from
    # the embeddings table; the violation counters pin at zero.
    # Pytest pins the numpy/expr signature bit-parity; this row is
    # the kernel running under the driver harness.
    #
    # ONE aggregation pass (r14 optimization): the r14-mid form built
    # three plan branches over `sigs` (stats agg, exploded per-band
    # agg crossed with stats, final cross of both) — the FORCED numpy
    # signature pipeline (tiles + Arrow matmul) appeared 3x in the
    # physical plan (3 MapInPandas nodes, 10 Exchanges; measured
    # 2.2-3.2 s).  Per-band distinct-bucket counts are just
    # count_distinct(substring(sig, 4i+1, 4)), so the whole audit fits
    # in ONE aggregate over one signature pass (1 MapInPandas); the
    # band fold (n_bands / out-of-bounds counter) becomes row-local
    # arithmetic on that single row.  Counter semantics preserved
    # exactly, incl. NULL-signature rows (substring(NULL) is ignored
    # by count_distinct -> __nbI = 0 -> counted out-of-bounds, same as
    # the exploded form's NULL bucket) and the empty-input row
    # (n_rows = 0 -> n_bands = 0, n_bucket_oob = 0, as the old
    # zero-row per_band aggregate produced).
    from flox_spark.operators.similarity import lsh_signature_bits

    base = _tiles768(_t(s, d, "embeddings"))
    sigs = lsh_signature_bits(base, planes=16, dim=768, kernel="numpy")
    row = sigs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("vec_id")).alias("n_vecs"),
        F.coalesce(
            F.sum((~F.col("sig").rlike("^[01]{16}$")).cast("long")), F.lit(0)
        ).alias("n_bad_format"),
        *[
            F.count_distinct(F.substring("sig", i * 4 + 1, 4)).alias(f"__nb{i}")
            for i in range(4)
        ],
    )
    cap = F.least(F.lit(16).cast("long"), F.col("n_vecs"))
    oob = None
    for i in range(4):
        nb = F.col(f"__nb{i}")
        term = ((nb < 1) | (nb > cap)).cast("long")
        oob = term if oob is None else oob + term
    has_rows = F.col("n_rows") > 0
    return row.select(
        "n_rows",
        "n_vecs",
        "n_bad_format",
        F.when(has_rows, F.lit(4).cast("long")).otherwise(F.lit(0).cast("long")).alias("n_bands"),
        F.when(has_rows, oob).otherwise(F.lit(0).cast("long")).alias("n_bucket_oob"),
    )


def q_neardup_768(s, d):
    # driver evidence for _arrow_cosine_pass (r10 VERDICT #3): the
    # near-dup verify stage at dim 768 through the FORCED Arrow
    # einsum pass.  Tiling with fixed per-tile scales preserves
    # cosine exactly (numerator and both norms scale by the same
    # factor), so the pair decisions match the dim-64 geometry.
    # max_bucket=200: 16 planes / 4-bit bands barely prune this
    # clustered corpus at sf0.1 (527k candidate pairs from 2000
    # vectors = 6.5 GB of dim-768 arrays through the verify join) —
    # the quadratic guard drops the degenerate buckets exactly as it
    # would at 100 TB, while every sf0.01 bucket is under the cap so
    # the driver-checked pair set is unchanged.
    #
    # Upgraded from rows-only to a DuckDB INVARIANT oracle (r13
    # VERDICT #5), the minhash_pairs_xx literal-pairs shape: the
    # operator runs ONCE, its audit-sized pair output re-enters as a
    # broadcast LocalRelation, and the counters are (a) pair order/
    # distinctness, (b) ids resolvable in the corpus, (c) SOUNDNESS —
    # every emitted pair's dim-64 cosine, recomputed declaratively
    # from the base embeddings, is >= threshold (tiling preserves
    # cosine, so a forced-kernel bug shows up here), and (d)
    # COMPLETENESS on identical vectors: equal embeddings => equal
    # signatures under ANY plane set => candidate in every band =>
    # the pair MUST be emitted with cos 1.  DuckDB recomputes the
    # identical-embedding pair count; everything else pins at zero.
    from flox_spark.plans.util import local_frame

    emb = _t(s, d, "embeddings")
    base = _tiles768(emb)
    pair_rows = embedding_near_duplicates(
        base, threshold=0.45, planes=16, bands=4, dim=768, verify="numpy",
        signature_kernel="numpy", max_bucket=200, round_to=6,
    ).collect()
    pair_set = {(r["id_a"], r["id_b"]) for r in pair_rows}
    n_bad_order = sum(1 for a, b in ((r["id_a"], r["id_b"]) for r in pair_rows) if a >= b)
    n_dup_pairs = len(pair_rows) - len(pair_set)
    e = emb.select(
        F.col("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("__v"),
    )
    ids = sorted({x for p in pair_set for x in p})
    if ids:
        idf = local_frame(s, [(i,) for i in ids], "pid bigint")
        n_known = (
            e.select(F.col("vec_id").alias("pid"))
            .join(F.broadcast(idf), "pid", "left_semi")
            .count()
        )
        n_unknown_ids = len(ids) - n_known
    else:
        n_unknown_ids = 0

    def _dot(u, v):
        return F.aggregate(
            F.zip_with(u, v, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    if pair_set:
        litp = local_frame(s, sorted(pair_set), "id_a bigint, id_b bigint")
        ea = e.select(F.col("vec_id").alias("id_a"), F.col("__v").alias("__va"))
        eb = e.select(F.col("vec_id").alias("id_b"), F.col("__v").alias("__vb"))
        cos = _dot(F.col("__va"), F.col("__vb")) / F.sqrt(
            _dot(F.col("__va"), F.col("__va"))
            * _dot(F.col("__vb"), F.col("__vb"))
        )
        n_false_pairs = (
            F.broadcast(litp)
            .join(ea, "id_a")
            .join(eb, "id_b")
            .select(cos.alias("__cos"))
            .filter(F.col("__cos") < 0.45 - 1e-6)
            .count()
        )
    else:
        n_false_pairs = 0
    # identical-vector groups: distributed within-group expansion +
    # completeness check against the literal pair frame
    grp = e.groupBy("__v").agg(
        F.count(F.lit(1)).alias("n"), F.collect_list("vec_id").alias("ids")
    )
    dup_pairs = (
        grp.filter(F.col("n") > 1)
        .select(F.explode("ids").alias("a"), F.col("ids"))
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
    )
    if pair_set:
        litp2 = local_frame(s, sorted(pair_set), "id_a bigint, id_b bigint")
        checked = dup_pairs.join(
            F.broadcast(litp2),
            (F.col("a") == F.col("id_a")) & (F.col("b") == F.col("id_b")),
            "left",
        )
        drow = checked.agg(
            F.count(F.lit(1)).alias("dvp"),
            F.coalesce(
                F.sum(F.col("id_a").isNotNull().cast("long")), F.lit(0)
            ).alias("cap"),
        ).collect()[0]
    else:
        drow = dup_pairs.agg(
            F.count(F.lit(1)).alias("dvp"), F.lit(0).alias("cap")
        ).collect()[0]
    return local_frame(
        s,
        [(n_bad_order, n_dup_pairs, n_unknown_ids, int(n_false_pairs),
          drow["dvp"], drow["cap"])],
        "n_bad_order bigint, n_dup_pairs bigint, n_unknown_ids bigint, "
        "n_false_pairs bigint, dup_vec_pairs bigint, dup_captured bigint",
    )


def q_embed_neardup(s, d):
    return embedding_near_duplicates(
        _t(s, d, "embeddings"), threshold=0.45, planes=16, bands=4, dim=64, round_to=6
    )


def q_embed_normalize(s, d):
    # L2 normalization, exploded to (vec_id, pos, nval) rows for the
    # canonicalizer; same sequential float fold on both sides => exact
    from flox_spark.operators import normalize_embeddings

    emb = _t(s, d, "embeddings").filter(F.col("vec_id") < 100)
    ndf = normalize_embeddings(emb, dim=64, out_col="nvec")
    return ndf.select("vec_id", F.posexplode("nvec").alias("pos", "nval")).select(
        "vec_id", F.col("pos").cast("long").alias("pos"), "nval"
    )


def q_embed_quantize(s, d):
    from flox_spark.operators import quantize_embeddings_int8

    emb = _t(s, d, "embeddings").filter(F.col("vec_id") < 100)
    qdf = quantize_embeddings_int8(emb, dim=64)
    return qdf.select("vec_id", F.posexplode("q_embedding").alias("pos", "q")).select(
        "vec_id", F.col("pos").cast("long").alias("pos"), "q"
    )


def q_ivf_topk(s, d):
    from flox_spark.operators import ivf_topk

    emb = _t(s, d, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries_df, k=10, nprobe=2, cluster_col="label", dim=64)


def q_q1_multi(s, d):
    # TPC-H Q1 shape through the single-pass multi-agg API
    from flox_spark import groupby_reduce_multi

    return groupby_reduce_multi(
        _t(s, d, "lineitem"),
        "l_returnflag",
        "l_linestatus",
        aggs={
            "sum_qty": ("nansum", "l_quantity"),
            "sum_price": ("nansum", "l_extendedprice"),
            "avg_qty": ("nanmean", "l_quantity"),
            "avg_price": ("nanmean", "l_extendedprice"),
            "avg_disc": ("nanmean", "l_discount"),
            "count_order": ("count", "l_quantity"),
        },
    ).withColumn("sum_price", F.round("sum_price", 4)) \
     .withColumn("avg_qty", F.round("avg_qty", 9)) \
     .withColumn("avg_price", F.round("avg_price", 6)) \
     .withColumn("avg_disc", F.round("avg_disc", 9))


def q_multimodal_features(s, d):
    # binary-column plumbing: fake media from documents -> DECLARATIVE
    # feature row (media_features: one F.sha2 + byte decodes, zero
    # UDFs; the Arrow extract_features hatch stays pytest-checked).
    # The vector is exploded to (media_id, pos, feat_value) rows: the
    # driver's canonicalizer sorts/hashes scalar columns only (an
    # array<double> column is unhashable in its pandas sort).
    from flox_spark.operators.multimodal import media_features_long, media_from_documents

    media = media_from_documents(_t(s, d, "documents"))
    return media_features_long(media, dim=16)


def q_media_sniff(s, d):
    # declarative magic-byte sniff + header-dim parse ROUND-TRIP:
    # synthesize real container headers (PNG IHDR / GIF / JPEG / WAV)
    # around the text bytes, then recover format and dims with the
    # pure binary projections (sniff_format / header_dims).  The
    # oracle computes the ground truth ARITHMETICALLY from the doc
    # columns — a genuine two-sided check of the parse.
    from flox_spark.operators.multimodal import header_dims, sniff_format

    docs = _t(s, d, "documents")
    w = (F.col("n_chars") % 1024 + 1).cast("long")
    h = (F.col("n_chars") % 768 + 1).cast("long")

    def be32(c):
        return F.unhex(F.lpad(F.hex(c), 8, "0"))

    def le16(c):
        return F.concat(
            F.unhex(F.lpad(F.hex(c % 256), 2, "0")),
            F.unhex(F.lpad(F.hex(F.floor(c / 256)), 2, "0")),
        )

    body = F.encode(F.col("text"), "utf-8")
    kind = F.col("doc_id") % 4
    blob = (
        F.when(
            kind == 0,
            F.concat(
                F.unhex(F.lit("89504E470D0A1A0A0000000D49484452")),
                be32(w), be32(h), body,
            ),
        )
        .when(kind == 1, F.concat(F.unhex(F.lit("474946383961")), le16(w), le16(h), body))
        .when(kind == 2, F.concat(F.unhex(F.lit("FFD8FFE0")), body))
        .otherwise(
            F.concat(
                F.unhex(F.lit("52494646")), F.unhex(F.lit("00000000")),
                F.unhex(F.lit("57415645")), body,
            )
        )
    )
    media = docs.select(F.col("doc_id").alias("media_id"), blob.alias("content"))
    dims = header_dims("content")
    return media.select(
        "media_id",
        sniff_format("content").alias("format"),
        dims["width"].alias("width"),
        dims["height"].alias("height"),
        F.octet_length("content").cast("long").alias("n_bytes"),
    )


def q_perplexity(s, d):
    # CCNet-style bigram-LM self-perplexity: add-1-smoothed word
    # bigram model trained on the corpus itself, exp(-mean log P) per
    # doc; broadcast count joins, vocab-sized model
    from flox_spark.operators import doc_perplexity

    out = doc_perplexity(_t(s, d, "documents"))
    return out.select(
        "doc_id", "n_bigrams", F.round("ppl", 6).alias("ppl")
    )


def q_perplexity_filter(s, d):
    # the filtering decision: train on even-id docs (the "clean
    # reference"), drop odd-id docs the model finds too surprising
    from flox_spark.operators import perplexity_filter

    docs = _t(s, d, "documents")
    kept = perplexity_filter(
        docs, max_ppl=30.0, reference=docs.filter(F.col("doc_id") % 2 == 0)
    )
    return kept.select("doc_id")


def q_semdedup_pairs(s, d):
    # SemDeDup: k-means cells (deterministic seed assignment,
    # max_iter=0 so the oracle can re-derive it) + exact cosine
    # within cells only — cluster-pruned, never all-pairs
    from flox_spark.operators.similarity import semantic_dedup_pairs

    emb = _t(s, d, "embeddings")
    return semantic_dedup_pairs(emb, k=4, threshold=0.4, max_iter=0)


def q_semdedup(s, d):
    # the decision step: connected components over the pair graph,
    # keep the minimum id per semantic group
    from flox_spark.operators.similarity import semantic_dedup

    emb = _t(s, d, "embeddings")
    return semantic_dedup(emb, k=4, threshold=0.4, max_iter=0).select("vec_id")


def q_dedup_documents(s, d):
    # the one-call near-dedup PIPELINE (candidates -> connected
    # components -> keep min-id representatives), driver-checked
    # end-to-end with the same params as minhash_clusters so the
    # oracle's recursive-CC CTE is shared
    from flox_spark.operators.pipeline import dedup_documents

    return dedup_documents(
        _t(s, d, "documents"), method="minhash", num_hashes=16, bands=4,
        shingle_k=3, max_bucket=None, hash_impl="md5",
    ).select("doc_id")


def q_sessionize(s, d):
    # gap-based session ids: one hash shuffle + streaming window pass
    from flox_spark.operators import sessionize

    ev = _t(s, d, "events")
    return sessionize(ev, "user_id", ts="ts", gap_seconds=3600, tiebreak="event_id").select(
        "event_id", "user_id", "session_id"
    )


def q_session_stats(s, d):
    # per-session rollup via Spark's native session_window aggregation
    from flox_spark.operators import session_stats

    ev = _t(s, d, "events")
    out = session_stats(ev, "user_id", ts="ts", gap_seconds=3600, value="value")
    return out.select(
        "user_id", "session_start", "last_ts", "n_events", "duration_us",
        F.round("sum_value", 6).alias("sum_value"),
    )


def q_sample_bernoulli(s, d):
    # deterministic hash-gated row sample: zero shuffles, stable under
    # repartitioning (unlike df.sample)
    from flox_spark.operators import sample_bernoulli

    li = _t(s, d, "lineitem").withColumn(
        "rid", F.concat_ws(":", "l_orderkey", "l_linenumber")
    )
    return sample_bernoulli(li, "rid", 0.25, seed="a").select("l_orderkey", "l_linenumber")


def q_sample_group(s, d):
    # exact per-group uniform draw by hash order (WindowGroupLimit plan)
    from flox_spark.operators import sample_exact_per_group

    docs = _t(s, d, "documents")
    return sample_exact_per_group(docs, "lang", n=20, id_col="doc_id", seed="x").select(
        "doc_id", "lang"
    )


def q_transform_mean(s, d):
    # pandas GroupBy.transform parity: group mean broadcast back onto
    # every row (one agg pass + broadcast join, no fact-side window)
    from flox_spark import groupby_transform

    out = groupby_transform(
        _t(s, d, "events"), "user_id", func="nanmean", value="value", alias="mean_v"
    )
    return out.select("event_id", "user_id", F.round("mean_v", 6).alias("mean_v"))


def q_sample_stratified(s, d):
    # per-stratum rates: keep all German docs, 20% of English, drop rest
    from flox_spark.operators import sample_stratified

    docs = _t(s, d, "documents")
    return sample_stratified(
        docs, "lang", {"en": 0.2, "de": 1.0}, id_col="doc_id",
        default_fraction=0.0, seed="t",
    ).select("doc_id", "lang")


def q_quantile_sort(s, d):
    # the giant-group-safe exact quantile (sort + rank filter, bounded
    # memory) must produce the identical p90 — driver evidence for the
    # quantile_impl="sort" strategy, same oracle SQL as "quantile"
    from flox_spark import set_options

    with set_options(quantile_impl="sort"):
        out = _q_reduce(
            "nanquantile", "lineitem", ["l_returnflag"], "l_extendedprice", "p90_price",
            finalize_kwargs={"q": 0.9},
        )(s, d)
    return out.withColumn("p90_price", F.round("p90_price", 6))


def q_quantile_refine(s, d):
    # the medium-scale exact quantile (approx-bracket + candidate
    # collect, two scans, zero data-sized shuffles) must produce the
    # identical p90 — driver evidence for the quantile_impl="refine"
    # strategy (auto-chosen from plan stats at real scale), same
    # oracle SQL as "quantile"
    from flox_spark import set_options

    with set_options(quantile_impl="refine"):
        out = _q_reduce(
            "nanquantile", "lineitem", ["l_returnflag"], "l_extendedprice", "p90_price",
            finalize_kwargs={"q": 0.9},
        )(s, d)
    return out.withColumn("p90_price", F.round("p90_price", 6))


def q_dedup_against(s, d):
    # incremental cross-corpus dedup: odd-id "new batch" anti-joined
    # against even-id "existing corpus" on the shared normalized
    # fingerprint (operators/dedup.py content_fingerprint)
    from flox_spark.operators import dedup_against

    docs = _t(s, d, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return dedup_against(batch, ref).select("doc_id")


def q_levenshtein_refine(s, d):
    # edit-distance certification of candidate pairs (the precision
    # stage after LSH recall); deterministic consecutive-id pairs so
    # the oracle needs no LSH re-derivation, prefix-truncated texts
    from flox_spark.operators import levenshtein_refine

    docs = _t(s, d, "documents")
    ids = docs.select("doc_id")
    pairs = (
        ids.filter(F.col("doc_id") % 2 == 0)
        .select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
        .join(ids.select(F.col("doc_id").alias("id_b")), "id_b")
    )
    out = levenshtein_refine(pairs, docs, max_dist=40, prefix_chars=48)
    return out.select("id_a", "id_b", F.col("edit_dist").cast("long").alias("edit_dist"))


def q_tfidf_top_terms(s, d):
    # per-doc characteristic terms by tf*ln(N/df), top-2, ranked on
    # the 6-decimal-rounded score so cross-engine ulp can't reorder
    from flox_spark.operators import tfidf_top_terms

    return tfidf_top_terms(_t(s, d, "documents"), k=2)


def q_ngram_counts(s, d):
    # corpus-wide 3-gram frequency table, top-50 (count desc, gram asc)
    from flox_spark.operators import ngram_counts

    return ngram_counts(_t(s, d, "documents"), n=3, top=50)


def q_shard_stats(s, d):
    # deterministic md5 shard assignment balance check: per-shard row
    # count and total chars over 8 shards
    from flox_spark.operators import shard_stats

    return shard_stats(_t(s, d, "documents"), 8, size_col="n_chars", hash_impl="md5")


def q_scan_shift(s, d):
    # pandas GroupBy.shift parity: lag within group (scan registry)
    df = _t(s, d, "events")
    out = groupby_scan(df, "user_id", func="shift", value="value", order_by="event_id")
    return out.select(
        "event_id", "user_id", F.round(F.col("shift"), 6).alias("shifted")
    )


def q_scan_shift_blocked(s, d):
    # the SAME lag through the blocked plan (order-quantile blocks ->
    # local lag -> concat-tail carry prefix -> offset join), periods=3
    # so the carried tails actually span rows: parallelism =
    # num_blocks regardless of group count, closing the shift/diff/
    # pct_change leg of the few-groups giant-table window gap.
    # Bitwise == the window form by construction (shift copies
    # values); shares scan_shift's SQL oracle shape at lag 3.
    from flox_spark.shift_blocked import groupby_shift_blocked

    df = _t(s, d, "events")
    out = groupby_shift_blocked(
        df, "user_id", value="value", order_by="event_id", periods=3,
        num_blocks=8,
    )
    return out.select(
        "event_id", "user_id", F.round(F.col("shift"), 6).alias("shifted")
    )


def q_scan_diff(s, d):
    # pandas GroupBy.diff parity: v - lag(v) within group
    df = _t(s, d, "events")
    out = groupby_scan(df, "user_id", func="diff", value="value", order_by="event_id")
    return out.select("event_id", "user_id", F.round(F.col("diff"), 6).alias("dv"))


def q_pct_change(s, d):
    # pandas GroupBy.pct_change parity: v / lag(v) - 1, NULL on zero
    # lag.  The value is integerized to 1..37 on purpose: ratios p/q
    # with q <= 37 can never sit exactly on a 6th-decimal rounding
    # midpoint (that needs a 7-digit terminating expansion, i.e. a
    # 2^a*5^b factor > 10^6's), so Spark's HALF_UP and DuckDB's
    # binary rounding can never disagree — the raw double ratios DID
    # hit a midpoint row at sf0.1 (8.0046875).  floor() before the
    # int cast because Spark truncates double->long while DuckDB
    # rounds.
    df = _t(s, d, "events").withColumn(
        "v37", F.pmod(F.floor("value").cast("long"), F.lit(37)) + F.lit(1)
    )
    out = groupby_scan(df, "user_id", func="pct_change", value="v37", order_by="event_id")
    return out.select(
        "event_id", "user_id", F.round(F.col("pct_change"), 6).alias("pc")
    )


def q_rank_avg(s, d):
    # pandas GroupBy.rank(method='average'): window rank + tie-size
    # count, one exchange
    from flox_spark import groupby_rank

    out = groupby_rank(
        _t(s, d, "lineitem"), "l_returnflag", value="l_extendedprice"
    )
    return out.select("l_orderkey", "l_linenumber", F.col("rank").alias("rnk"))


def q_rank_avg_blocked(s, d):
    # the SAME rank through the four-stage blocked plan (value-quantile
    # blocks -> local rank -> count prefix -> offset join): parallelism
    # = num_blocks regardless of group count, the 100 TB shape for a
    # few-groups rank whose one-window form serializes per group.
    # Oracle-checked against the identical SQL as rank_avg — the two
    # forms are bitwise-equal by construction (test_rank_blocked.py).
    from flox_spark import groupby_rank_blocked

    out = groupby_rank_blocked(
        _t(s, d, "lineitem"), "l_returnflag", value="l_extendedprice",
        num_blocks=32,
    )
    return out.select("l_orderkey", "l_linenumber", F.col("rank").alias("rnk"))


def q_rank_pct(s, d):
    # pandas GroupBy.rank(pct=True): average-rank divided by the
    # group's non-missing row count
    from flox_spark import groupby_rank

    out = groupby_rank(
        _t(s, d, "lineitem"), "l_returnflag", value="l_extendedprice", pct=True
    )
    return out.select(
        "l_orderkey", "l_linenumber", F.round("rank", 9).alias("rnk_pct")
    )


def q_value_counts(s, d):
    # pandas GroupBy.value_counts(normalize=True): per-(group, value)
    # within-group proportions
    from flox_spark import groupby_value_counts

    out = groupby_value_counts(
        _t(s, d, "documents"), "source", value="lang", normalize=True
    )
    return out.select("source", "lang", F.round("count", 9).alias("share"))


def q_skew(s, d):
    # pandas GroupBy.skew parity via anchor-shifted power sums.
    # sort=False (r14, guide §2.4): the final orderBy of the
    # group-sized result exists only to present sorted groups — the
    # harness canonicalizes row order before hashing, and the sort's
    # range exchange costs 2 extra AQE jobs (~0.2 s measured: 0.60 ->
    # 0.40 s best-of-4 at sf0.1).  The OPERATOR default keeps
    # sort=True (flox sorted-groups parity).
    from flox_spark import groupby_skew

    out = groupby_skew(
        _t(s, d, "lineitem"), "l_returnflag", value="l_quantity", sort=False
    )
    return out.select("l_returnflag", F.round("skew", 9).alias("skew"))


def q_kurtosis(s, d):
    # pandas GroupBy.kurt parity (bias-corrected excess kurtosis);
    # sort=False per q_skew's rationale (presentation-only sort)
    from flox_spark import groupby_kurtosis

    out = groupby_kurtosis(
        _t(s, d, "lineitem"), "l_returnflag", value="l_quantity", sort=False
    )
    return out.select("l_returnflag", F.round("kurt", 9).alias("kurt"))


def q_upsample_ffill(s, d):
    # per-user regular 6h grid with LOCF carry (xarray/pandas
    # resample().ffill() analog): group bounds -> exploded sequence
    # grid -> per-bucket latest obs -> unbounded ignorenulls window
    from flox_spark import resample_upsample

    out = resample_upsample(
        _t(s, d, "events"), "user_id", time_col="ts", value="value",
        freq="6h", method="ffill",
    )
    return out.select("user_id", "ts", F.round("value", 6).alias("value"))


def q_label_encode(s, d):
    # deterministic dense category ids (sort order of the value) +
    # broadcast encode join
    from flox_spark.operators import label_encode

    enc, _ = label_encode(_t(s, d, "documents"), "lang")
    return enc.select("doc_id", "lang", F.col("lang_id").cast("long").alias("lang_id"))


def q_frequency_encode(s, d):
    # replace-with-frequency categorical encoding
    from flox_spark.operators import frequency_encode

    out = frequency_encode(_t(s, d, "documents"), "source")
    return out.select("doc_id", "source", F.round("source_freq", 9).alias("source_freq"))


def q_ewm_mean(s, d):
    # pandas GroupBy.ewm parity via the Arrow hatch (per-group
    # sequential kernel); oracle = the closed-form quadratic SQL over
    # row positions (fine at oracle scale) — see ewm_mean_blocked for
    # the giant-group blocked twin sharing the same oracle
    from flox_spark import groupby_ewm

    out = groupby_ewm(
        _t(s, d, "events"), "user_id", value="value", order_by="ts", span=20
    )
    return out.select("user_id", "ts", F.round("ewm_mean", 6).alias("ewm_mean"))


def q_ewm_mean_blocked(s, d):
    # the SAME adjust=True EWM mean through the blocked linear-
    # recurrence plan (order-quantile blocks -> per-block pandas
    # ewm.sum pair -> linear-fold carry prefix -> ratio): parallelism
    # = groups x num_blocks, closing groupby_ewm's declared giant-
    # group caveat for the mean case.  Shares ewm_mean's closed-form
    # SQL oracle.
    from flox_spark.ewm_blocked import groupby_ewm_blocked

    out = groupby_ewm_blocked(
        _t(s, d, "events"), "user_id", value="value", order_by="ts",
        span=20, num_blocks=8,
    )
    return out.select("user_id", "ts", F.round("ewm_mean", 6).alias("ewm_mean"))


def q_ewm_var_blocked(s, d):
    # adjust=True blocked EWM variance (r14): four linear recurrences
    # (Swx, Sw, Swx2 decaying by A; Sw2 by A^2) + a per-group anchor
    # shift; var = (Sw*Swx2 - Swx^2)/(Sw^2 - Sw2) — pandas bias=False.
    # The oracle recomputes the same four sums with the closed-form
    # quadratic weight join (ewm_mean's shape).
    from flox_spark.ewm_blocked import groupby_ewm_blocked

    out = groupby_ewm_blocked(
        _t(s, d, "events"), "user_id", value="value", order_by="ts",
        span=20, func="var", num_blocks=8,
    )
    return out.select("user_id", "ts", F.round("ewm_var", 6).alias("ewm_var"))


def q_ewm_adjf_blocked(s, d):
    # adjust=False blocked EWM mean (r14): pandas' renormalize-per-
    # observation kernel through the affine (lam, mu, seed) carry —
    # driver-visible evidence for the new fold path.  ignore_na=True
    # here because it has an exact closed form (gaps are skipped, so
    # weights are b^(V-v) with the first valid observation keeping
    # weight 1 — a plain weighted sum over valid-rank positions) that
    # DuckDB can recompute; ignore_na=False (no closed form — the
    # renormalization chains products of (b^g + a)) is pinned by the
    # pytest differentials instead.
    from flox_spark.ewm_blocked import groupby_ewm_blocked

    out = groupby_ewm_blocked(
        _t(s, d, "events"), "user_id", value="value", order_by="ts",
        span=20, adjust=False, ignore_na=True, num_blocks=8,
    )
    return out.select("user_id", "ts", F.round("ewm_mean", 6).alias("ewm_mean"))


def q_winsorize(s, d):
    # per-group quantile clipping (robust-features step): exact
    # [p05, p95] fences, broadcast-joined; rounded output
    from flox_spark import winsorize_group

    out = winsorize_group(
        _t(s, d, "lineitem"), "l_returnflag", value="l_extendedprice",
        lower=0.05, upper=0.95, out="v_w",
    )
    return out.select(
        "l_orderkey", "l_linenumber", F.round("v_w", 6).alias("v_w")
    )


def q_minhash_estimate(s, d):
    # signature-agreement Jaccard estimate for deterministic
    # consecutive-id pairs (the cheap verify step between LSH recall
    # and exact certification)
    from flox_spark.operators import minhash_jaccard_estimate

    docs = _t(s, d, "documents")
    ids = docs.select("doc_id")
    pairs = (
        ids.filter(F.col("doc_id") % 2 == 0)
        .select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
        .join(ids.select(F.col("doc_id").alias("id_b")), "id_b")
    )
    out = minhash_jaccard_estimate(docs, pairs, hash_impl="md5")
    return out.select("id_a", "id_b", F.round("jaccard_est", 6).alias("jaccard_est"))


def q_k_anonymity(s, d):
    # privacy QA: (lang, source) combinations too small to release
    from flox_spark.operators import k_anonymity_report

    return k_anonymity_report(_t(s, d, "documents"), ["lang", "source"], k=5)


def q_fuzzy_join(s, d):
    # fuzzy string join on 40-char document prefixes: char-2-gram
    # minhash band recall (md5 oracle path) + exact levenshtein
    # certification, odd-id side vs even-id side
    from flox_spark.operators import fuzzy_join

    docs = _t(s, d, "documents").select(
        "doc_id", F.substring("text", 1, 40).alias("name")
    )
    left = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.col("doc_id").alias("lid"), "name"
    )
    right = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("rid"), "name"
    )
    return fuzzy_join(
        left, right, "lid", "name", "rid", "name",
        max_dist=5, bands=8, shingle_k=2, hash_impl="md5",
    )


def q_pivot_sum(s, d):
    # wide grouped aggregation with DECLARED pivot values (no hidden
    # distinct-collect job)
    from flox_spark import groupby_pivot

    out = groupby_pivot(
        _t(s, d, "lineitem"), "l_returnflag",
        pivot="l_linestatus", value="l_quantity", values=["F", "O"],
        func="nansum",
    )
    return out.select(
        "l_returnflag",
        F.round(F.col("F"), 4).alias("sum_f"),
        F.round(F.col("O"), 4).alias("sum_o"),
    )


def q_table_diff(s, d):
    # keyed snapshot diff: "old" = ids < 400, "new" = ids >= 100 with
    # every 5th overlap doc's text uppercased — added/removed/changed
    # in one full outer join
    from flox_spark.operators import table_diff

    docs = _t(s, d, "documents")
    old = docs.filter(F.col("doc_id") < 400).select("doc_id", "text", "lang")
    new = (
        docs.filter(F.col("doc_id") >= 100)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 5 == 0, F.upper("text")).otherwise(F.col("text")).alias("text"),
            "lang",
        )
    )
    return table_diff(old, new, "doc_id")


def q_corr_pearson(s, d):
    # per-group pearson + sample covariance + pair count in ONE
    # hash aggregate (try_divide co-moment form, ANSI-safe)
    from flox_spark import groupby_corr

    out = groupby_corr(
        _t(s, d, "lineitem"), "l_returnflag",
        x="l_quantity", y="l_extendedprice", with_cov=True,
    )
    return out.select(
        "l_returnflag",
        F.round("corr", 9).alias("corr"),
        F.round("cov", 6).alias("cov"),
        "n_pairs",
    )


def q_corr_spearman(s, d):
    # spearman = pearson of within-group average ranks (composes
    # groupby_rank); tie-aware like pandas/scipy
    from flox_spark import groupby_corr

    out = groupby_corr(
        _t(s, d, "lineitem"), "l_returnflag",
        x="l_quantity", y="l_extendedprice", method="spearman",
    )
    return out.select("l_returnflag", F.round("corr", 9).alias("corr"))


def q_twa(s, d):
    # time-weighted average of a step series per user (TimescaleDB
    # time_weight LOCF analog): lead-window durations, one shuffle
    from flox_spark import time_weighted_mean

    out = time_weighted_mean(_t(s, d, "events"), "user_id", value="value", ts="ts")
    return out.select("user_id", F.round("twa", 6).alias("twa"))


def q_minhash_against(s, d):
    # cross-corpus near-dup probe: odd-id batch vs even-id reference,
    # bucket-membership semi join (no pair expansion)
    from flox_spark.operators import minhash_against

    docs = _t(s, d, "documents")
    return minhash_against(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        hash_impl="md5",
    )


def q_dedup_lines(s, d):
    # corpus-level first-occurrence span dedup at word granularity
    # (the synthetic docs have no newlines, so words stand in for
    # lines; the operator is the same plan either way)
    from flox_spark.operators import dedup_lines

    out = dedup_lines(
        _t(s, d, "documents"), sep_re="\\s+", joiner=" ", min_chars=4
    )
    return out.select("doc_id", "text_clean")


def q_dup_spans(s, d):
    # Lee-et-al-2021-style exact substring dedup REPORT: maximal token
    # spans covered by 8-word windows repeating anywhere in the corpus
    # (default xxhash64 gram keys — the scale path; the oracle groups
    # the gram strings directly, identical modulo ~1e-8 collisions)
    from flox_spark.operators import duplicate_spans

    return duplicate_spans(_t(s, d, "documents"), k=8).select(
        "doc_id", "span_start", "span_end", "n_tokens"
    )


def q_dup_spans_removed(s, d):
    # keep-one-copy span REMOVAL: duplicated 8-word spans drop
    # everywhere except their global first occurrence (smallest
    # (doc_id, pos)); every doc survives, possibly reduced to ""
    from flox_spark.operators import remove_duplicate_spans

    return remove_duplicate_spans(_t(s, d, "documents"), k=8).select(
        "doc_id", "text_clean"
    )


def q_dup_spans_against(s, d):
    # cross-corpus span contamination: odd-id "new batch" spans whose
    # 8-word windows appear anywhere in the even-id "existing corpus"
    # (the span-granular dedup_against / position-level
    # contamination_report)
    from flox_spark.operators import duplicate_spans_against

    docs = _t(s, d, "documents")
    return duplicate_spans_against(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        k=8,
    ).select("doc_id", "span_start", "span_end", "n_tokens")


def q_decontaminate_spans(s, d):
    # span-level decontamination: cut every odd-id batch token covered
    # by an 8-word window present in the even-id reference (no
    # keep-first — the reference holds the canonical copy)
    from flox_spark.operators import remove_spans_against

    docs = _t(s, d, "documents")
    return remove_spans_against(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        k=8,
    ).select("doc_id", "text_clean")


def q_binned_left(s, d):
    # left-closed IntervalIndex bins (closed='left'): the reference
    # digitizes by expect.closed_right (flox/factorize.py:57-76);
    # edge values on the breaks discriminate [10,20) from (10,20]
    import pandas as pd

    iv = pd.IntervalIndex.from_breaks([0.0, 10.0, 20.0, 30.0, 51.0], closed="left")
    out = _q_reduce(
        "nanmean", "lineitem", ["l_quantity"], "l_extendedprice", "mean_price",
        expected_groups=iv, fill_value=0.0,
    )(s, d)
    return out.withColumn("mean_price", F.round("mean_price", 4))


def q_resample(s, d):
    # time-bucketed reduction (xarray resample analog; reference's
    # dominant downstream workload, flox/xarray.py:73-516): 6h buckets
    # via exact epoch arithmetic, one aggregation pass
    from flox_spark import resample_reduce

    out = resample_reduce(
        _t(s, d, "events"), "ts", "6h",
        aggs={"n": ("count", "value"), "sv": ("nansum", "value")},
    )
    return out.withColumn("sv", F.round("sv", 6))


def q_rolling_time(s, d):
    # per-user trailing-1h window aggregates — pandas rolling("1h")
    # semantics, the left-open (t-1h, t] frame; one WindowExec, one
    # exchange for both aggregates (flox_spark/rolling.py)
    from flox_spark import groupby_rolling

    out = groupby_rolling(
        _t(s, d, "events"), "user_id", order_by="ts",
        aggs={"n_1h": ("count", "value"), "s_1h": ("sum", "value")},
        window="1h",
    )
    return out.select("event_id", "n_1h", F.round("s_1h", 6).alias("s_1h"))


def q_rolling_rows(s, d):
    # 5-row trailing mean per user, ordered by the unique event id
    # (ROWS frames are tie-order-dependent; a unique order key makes
    # the result deterministic on both engines)
    from flox_spark import groupby_rolling

    out = groupby_rolling(
        _t(s, d, "events"), "user_id", order_by="event_id",
        aggs={"m5": ("mean", "value")}, window=5,
    )
    return out.select("event_id", F.round("m5", 6).alias("m5"))


def q_sample_weighted(s, d):
    # Efraimidis-Spirakis weighted draw (P proportional to n_chars),
    # deterministic hash uniforms — same ln(u)/w ranking in DuckDB
    from flox_spark.operators import sample_weighted_per_group

    docs = _t(s, d, "documents")
    return sample_weighted_per_group(
        docs, "lang", n=10, id_col="doc_id", weight_col="n_chars", seed="w"
    ).select("doc_id", "lang")


def q_split_train_test(s, d):
    # disjoint, exhaustive, id-deterministic train/test labeling
    from flox_spark.operators import split_train_test

    docs = _t(s, d, "documents")
    return split_train_test(docs, "doc_id", test_fraction=0.2, seed="s").select(
        "doc_id", "split"
    )


def q_asof_join(s, d):
    # distributed as-of: each click joined to the user's latest
    # preceding purchase — union + one window pass, not a range join
    from flox_spark.operators import asof_join

    ev = _t(s, d, "events")
    left = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("p_event")
    )
    out = asof_join(left, right, "user_id", left_ts="ts", right_ts="pts")
    return out.select("event_id", "user_id", F.col("asof_pts").alias("p_ts"), "p_event")


# ---- oracle SQL generators for the operator queries -----------------------


def _ppl_cte(train_where: str = "") -> str:
    """Bigram-LM perplexity CTE chain (mirrors operators/lm.py):
    tokens -> bigram occurrences -> count model over the TRAINING
    subset (``train_where``) -> per-doc mean log-prob ``sc``."""
    return f"""
WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents),
bg0 AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2
          THEN list_transform(range(1, len(t)), i -> struct_pack(w1 := t[i], w2 := t[i+1]))
          ELSE [] END) AS p FROM toks),
bg AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg0 WHERE p.w1 != '' AND p.w2 != ''),
tbg AS (SELECT * FROM bg {train_where}),
big AS (SELECT w1, w2, count(*) AS c FROM tbg GROUP BY 1, 2),
ctx AS (SELECT w1, count(*) AS c1 FROM tbg GROUP BY 1),
voc AS (SELECT count(DISTINCT w) AS V FROM (SELECT w1 AS w FROM tbg UNION ALL SELECT w2 FROM tbg)),
sc AS (SELECT b.doc_id, count(*) AS n_bigrams,
              avg(ln((coalesce(g.c, 0) + 1.0) / (coalesce(x.c1, 0) + 1.0 * (SELECT V FROM voc)))) AS mlp
       FROM bg b LEFT JOIN big g USING (w1, w2) LEFT JOIN ctx x USING (w1)
       GROUP BY b.doc_id)"""


_PPL_CTE = _ppl_cte()
_PPL_FILTER_SQL = _ppl_cte("WHERE doc_id % 2 = 0") + """
SELECT d.doc_id
FROM documents d LEFT JOIN sc USING (doc_id)
WHERE sc.mlp IS NULL OR round(exp(-sc.mlp), 6) <= 30.0"""

_EN_SW = "'the','a','of','and','is','to','in','that','it','for'"
_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (SELECT DISTINCT doc_id,
        unnest(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(list_slice(t, i, i + 2), ' '))
               ELSE [array_to_string(t, ' ')] END) AS shingle
       FROM toks)"""


def q_pack_sequences(s, d):
    # FFD packing verified through a DuckDB INVARIANT oracle (r11
    # VERDICT #6): the exact bin assignment is iterative and
    # engine-specific (no SQL form), but every invariant of a CORRECT
    # packing is relational — each doc packed exactly once, oversize
    # flags == (n_tokens > budget), non-oversize bin loads <= budget,
    # oversize bins singleton, and the realized bin count inside
    # [ceil(packable/budget), floor(packable/(budget/2+1)) + n_parts]
    # (first-fit keeps at most ONE bin at <= half capacity per
    # partition, so all others hold > budget/2 tokens).  The oracle
    # recomputes the doc-side facts from raw text and pins the
    # violation counts at zero / the bound check at true; a packing
    # bug flips a value and the hash-compare catches it.
    from flox_spark.operators import pack_sequences, token_count

    docs = token_count(_t(s, d, "documents")).repartition(4, "doc_id")
    # NB deliberately NOT materialized: the two audit branches re-run
    # the pack, but the doc-side facts are assignment-independent and
    # the bin-side bound check is self-consistent within its own
    # branch (see below) — a checkpoint job measured costlier than
    # the repeated mapInPandas fold at this scale
    out = pack_sequences(docs, "n_tokens", budget=512)
    doc_side = out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum(
            F.when(~F.col("oversize"), F.col("n_tokens")).otherwise(F.lit(0))
        ).alias("packable_tokens"),
        F.sum(F.col("oversize").cast("long")).alias("n_oversize"),
        F.sum(
            (F.col("oversize") != (F.col("n_tokens") > 512)).cast("long")
        ).alias("oversize_mismatch"),
    )
    bins = out.groupBy("bin_id").agg(
        F.sum(
            F.when(~F.col("oversize"), F.col("n_tokens")).otherwise(F.lit(0))
        ).alias("load"),
        F.max(F.col("oversize").cast("int")).alias("has_over"),
        F.count(F.lit(1)).alias("n_in_bin"),
    )
    # the bound check is computed INSIDE the bin branch (its own
    # sum(load) is self-consistent with its own bin count even if the
    # two plan branches re-run the nondeterministic-ordered pack)
    bin_side = bins.agg(
        F.sum(
            F.when((F.col("has_over") == 0) & (F.col("load") > 512), 1).otherwise(0)
        ).cast("long").alias("over_cap_bins"),
        F.sum(
            F.when((F.col("has_over") == 1) & (F.col("n_in_bin") > 1), 1).otherwise(0)
        ).cast("long").alias("mixed_oversize_bins"),
        F.sum(F.when(F.col("has_over") == 0, 1).otherwise(0)).alias("__npack"),
        F.sum(
            F.when(F.col("has_over") == 0, F.col("load")).otherwise(F.lit(0))
        ).alias("__ptok"),
    )
    bins_ok = (
        (F.col("__npack") >= F.ceil(F.col("__ptok") / F.lit(512.0)))
        & (F.col("__npack") <= F.floor(F.col("__ptok") / F.lit(257.0)) + F.lit(4))
    ).alias("bins_ok")
    return doc_side.crossJoin(bin_side).select(
        "n_rows", "n_docs", "packable_tokens", "n_oversize",
        "oversize_mismatch", "over_cap_bins", "mixed_oversize_bins", bins_ok,
    )


def q_redact_pii(s, d):
    # inject deterministic PII (docs are synthetic word soup) then
    # redact: url -> email -> phone, same order as the oracle SQL
    from flox_spark.operators import redact_pii

    docs = _t(s, d, "documents").withColumn(
        "text",
        F.concat(
            F.lit("mail bob"), F.col("doc_id").cast("string"),
            F.lit("@ex-a.com visit https://h"), F.col("doc_id").cast("string"),
            F.lit(".org/p?x=1 call 555-123-4567 "), F.col("text"),
        ),
    )
    return redact_pii(docs).select("doc_id", "text")


def q_boilerplate(s, d):
    # inject newlines (synthetic docs are single-line), then drop lines
    # shared by >= 3 documents
    from flox_spark.operators import remove_boilerplate_lines

    docs = _t(s, d, "documents").withColumn(
        "text", F.regexp_replace(F.col("text"), " table ", "\n")
    )
    return remove_boilerplate_lines(docs, min_docs=3).select("doc_id", "text_clean")


def q_range_join(s, d):
    # bucketed interval join: customers matched to overlapping acctbal
    # bands (the equi-bucket plan replacing a nested-loop BETWEEN join)
    from flox_spark.operators import range_join

    iv = _t(s, d, "nation").select(
        F.col("n_nationkey").alias("iid"),
        (F.col("n_nationkey") * 400.0 - 1000.0).alias("lo"),
        (F.col("n_nationkey") * 400.0 - 550.0).alias("hi"),
    )
    pts = _t(s, d, "customer").select("c_custkey", F.col("c_acctbal").cast("double").alias("x"))
    return range_join(pts, iv, "x", "lo", "hi", bucket_width=450.0).select(
        "c_custkey", "iid"
    )


def q_heavy_hitters(s, d):
    # exact corpus-frequency heavy hitters over document tokens
    from flox_spark.operators import heavy_hitters

    toks = _t(s, d, "documents").select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), "\\s+")).alias("tok")
    )
    return heavy_hitters(toks, "tok", min_count=200)


def q_distinct_rollup(s, d):
    # mergeable HLL sketches through a DuckDB INVARIANT oracle (the
    # pack_sequences pattern): the estimate VALUE is engine-specific
    # (DuckDB's HLL differs), but the invariants of a correct rollup
    # are relational — the oracle recomputes the exact per-type
    # distinct count from raw events, and the sketch path must land
    # inside the published HLL error envelope (lgk=12 -> 1.04/2^6 ~
    # 1.6% rse; 5% here = >3 sigma) on the estimate it unioned up
    # from per-(type, day) sketches.  The mergeable path itself stays
    # exercised: the estimate comes from hll_union_agg over the
    # persisted per-day sketches, never from re-sketching raw rows.
    from flox_spark.operators import build_distinct_sketches, rollup_distinct

    ev = _t(s, d, "events").withColumn("day", F.to_date("ts"))
    sk = build_distinct_sketches(ev, "event_type", "day", col="user_id")
    est = rollup_distinct(sk, "event_type")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    tol_ok = F.when(
        F.col("exact_distinct") == 0, F.col("approx_distinct") == 0
    ).otherwise(
        F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
        / F.col("exact_distinct")
        <= 0.05
    )
    return (
        est.join(exact, "event_type")
        .select("event_type", "exact_distinct", tol_ok.alias("within_tol"))
        .orderBy("event_type")
    )


def q_chunk_docs(s, d):
    # overlapping token-window chunking (context-window prep)
    from flox_spark.operators import chunk_documents

    return chunk_documents(_t(s, d, "documents"), max_tokens=32, overlap=8)


def q_embed_pool(s, d):
    # chunk->doc mean pooling over the embeddings table (grouped by a
    # derived doc key). The pooled vector is exploded to (grp, pos,
    # value) rows: the driver's canonicalizer lexsorts result columns
    # with pandas, which cannot hash raw array cells.
    from flox_spark.operators import average_embeddings

    df = _t(s, d, "embeddings").withColumn("grp", F.col("vec_id") % 100)
    out = average_embeddings(df, "grp", dim=64)
    return out.select(
        "grp", F.posexplode(F.col("embedding")).alias("pos", "v")
    ).select("grp", "pos", F.round("v", 6).alias("value"))


def q_profile(s, d):
    # one-pass table profiling; approx_distinct dropped from the oracle
    # row (HLL implementations differ across engines)
    from flox_spark.operators import profile_columns

    out = profile_columns(
        _t(s, d, "lineitem"), ["l_orderkey", "l_quantity", "l_returnflag"],
        approx_distinct=False,  # dropped from the oracle row anyway
    )
    return out.select(
        "column", "n_rows", "n_null",
        F.round("null_frac", 9).alias("null_frac"), "min_str", "max_str",
    )


def q_quality_report(s, d):
    # the quality decision layer: per-drop-reason counts over documents
    from flox_spark.operators import quality_filter_report

    return quality_filter_report(_t(s, d, "documents"), sort=False)


def q_decontaminate(s, d):
    # benchmark decontamination: every 50th document plays the eval
    # set; corpus docs sharing >= 5 distinct 3-grams with it are dropped
    from flox_spark.operators import decontaminate

    docs = _t(s, d, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return decontaminate(docs, bench, n=3, min_shared=5).select("doc_id")


def q_salted_sum(s, d):
    # declared-salt two-phase reduction (hot-key remedy): must equal
    # the plain grouped sum exactly
    from flox_spark import groupby_reduce_salted

    return groupby_reduce_salted(
        _t(s, d, "lineitem"), "l_orderkey",
        func="nansum", value="l_quantity", n_salt=16, alias="sum_qty",
    )


def q_weighted_mean(s, d):
    # quantity-weighted mean price (xarray .weighted() surface fused
    # into one aggregation pass)
    from flox_spark import groupby_reduce_weighted

    out = groupby_reduce_weighted(
        _t(s, d, "lineitem"), "l_returnflag",
        func="nanmean", value="l_extendedprice", weights="l_quantity",
        alias="wmean_price", sort=False,  # presentation-only sort (q_skew note)
    )
    return out.withColumn("wmean_price", F.round("wmean_price", 4))


def q_weighted_var(s, d):
    from flox_spark import groupby_reduce_weighted

    out = groupby_reduce_weighted(
        _t(s, d, "lineitem"), "l_returnflag",
        func="nanvar", value="l_extendedprice", weights="l_quantity",
        alias="wvar_price",
    )
    return out.withColumn("wvar_price", F.round("wvar_price", 2))


def q_funnel(s, d):
    # click -> purchase within 6h, per user: asof_join(forward,
    # tolerance) + one grouped aggregate
    from flox_spark.operators import funnel_conversion

    return funnel_conversion(
        _t(s, d, "events"),
        "user_id",
        start=F.col("event_type") == "click",
        step=F.col("event_type") == "purchase",
        within_seconds=6 * 3600,
        round_to=4,  # delay sums jitter at the 6th decimal by sf0.1
    )


def q_funnel_path(s, d):
    # 3-step funnel: click -> purchase -> signup, each within 12h of
    # the previous match; one forward as-of join per step
    from flox_spark.operators import funnel_path

    return funnel_path(
        _t(s, d, "events"),
        "user_id",
        steps=[
            F.col("event_type") == "click",
            F.col("event_type") == "purchase",
            F.col("event_type") == "signup",
        ],
        within_seconds=12 * 3600,
    )


def q_kmeans(s, d):
    # one Lloyd iteration from the deterministic hash-draw init IS
    # SQL-expressible, so the k-means kernel (init + assign + update)
    # gets a real hash-matched oracle; centroids exploded to
    # (cluster, pos, val) rows for the canonicalizer
    from flox_spark.operators import kmeans_fit

    emb = _t(s, d, "embeddings")
    cents = kmeans_fit(emb, k=4, max_iter=1)
    return cents.select(
        F.col("__cid").cast("long").alias("cluster"),
        F.posexplode("centroid").alias("pos", "v"),
    ).select("cluster", F.col("pos").cast("long").alias("pos"), F.round("v", 6).alias("val"))


def q_frame_sample(s, d):
    # declarative frame sampling (binary substring + sequence, no
    # UDF); frames emitted as md5 because DuckDB lacks blob substr —
    # the ASCII fake content makes char slicing == byte slicing
    from flox_spark.operators.multimodal import media_from_documents, sample_frames

    media = media_from_documents(_t(s, d, "documents")).withColumn(
        "meta",
        F.struct(
            F.col("meta.format"),
            F.col("meta.width"),
            F.col("meta.height"),
            F.col("meta.sample_rate"),
            (F.lit(1) + F.col("media_id") % 5).cast("int").alias("n_frames"),
        ),
    )
    out = sample_frames(media, every_n=2)
    return out.select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("frame_bytes").cast("long").alias("frame_bytes"),
        F.md5("frame").alias("frame_md5"),
    )


def q_grouped_topk(s, d):
    # top-3 orders by price per status: WindowGroupLimit bounds the
    # shuffle at k rows per group per map task
    from flox_spark.operators import grouped_topk

    orders = _t(s, d, "orders")
    return grouped_topk(
        orders, "o_orderstatus", value="o_totalprice", k=3, tiebreak="o_orderkey"
    ).select("o_orderstatus", "o_orderkey", "o_totalprice")


def q_nunique(s, d):
    # exact distinct-count reduction (nan-skipping variant)
    return groupby_reduce(
        _t(s, d, "events"), "user_id", func="nannunique", value="event_type",
        alias="n_types",
    )


def q_nunique_plain(s, d):
    # plain nunique counts the missing class as ONE value
    # (pandas nunique(dropna=False) semantics)
    df = _with_sparse_gaps(_t(s, d, "events"))
    return groupby_reduce(df, "user_id", func="nunique", value="v", alias="n_vals")


def q_minhash_bands(s, d):
    # row-local (stateless) signature+banding — the streaming-capable
    # formulation, oracle-checked in batch mode against the same
    # shingle/md5 math in DuckDB
    from flox_spark.streaming import minhash_band_keys

    return minhash_band_keys(_t(s, d, "documents"), num_hashes=16, bands=4, shingle_k=3, hash_impl="md5")


# universal-hash minhash (mirrors operators/dedup._minhash_pipeline_sql's
# halves and min fold): ONE md5 per shingle, halved into two 32-bit
# ints; seed i's hash is (h1 + i*h2) % p, p the smallest prime > 2^32
_MINHASH_P = 4294967311


def _minhash_sigs_sql() -> str:
    mins = ", ".join(
        f"min((h1 + {i} * h2) % {_MINHASH_P}) AS mh{i}" for i in range(16)
    )
    return f"""hp AS (SELECT doc_id,
        ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
        ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2 FROM sh),
sigs AS (SELECT doc_id, {mins} FROM hp GROUP BY doc_id)"""


def _minhash_bands_sql() -> str:
    return "\nUNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS bkey FROM sigs".format(
            b=b,
            concat=" || '|' || ".join(f"mh{b * 4 + j}::VARCHAR" for j in range(4)),
        )
        for b in range(4)
    )


def _minhash_bands_oracle() -> str:
    return f"""
WITH {_SHINGLES_CTE},
{_minhash_sigs_sql()}
SELECT doc_id, band, bkey FROM ({_minhash_bands_sql()})"""


def _minhash_bands_cte() -> str:
    return f"""
WITH {_SHINGLES_CTE},
{_minhash_sigs_sql()},
bands AS ({_minhash_bands_sql()})"""


def _minhash_oracle() -> str:
    return (
        _minhash_bands_cte()
        + """
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id"""
    )


def _minhash_against_oracle() -> str:
    return (
        _minhash_bands_cte()
        + """
SELECT DISTINCT a.doc_id
FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0"""
    )


def _simhash_oracle() -> str:
    votes = ", ".join(
        f"sum(((v{p} // {2 ** (3 - j)}) % 2) * 2 - 1) AS w{p}_{j}"
        for p in range(8)
        for j in range(4)
    )
    vcols = ", ".join(
        f"strpos('0123456789abcdef', substr(h, {p + 1}, 1)) - 1 AS v{p}" for p in range(8)
    )
    chars = " || ".join(
        "substr('0123456789abcdef', 1 + "
        + " + ".join(f"(CASE WHEN w{p}_{j} > 0 THEN {2 ** (3 - j)} ELSE 0 END)" for j in range(4))
        + ", 1)"
        for p in range(8)
    )
    return f"""
WITH toks AS (SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents),
hs AS (SELECT doc_id, md5(tok) AS h FROM toks),
vs AS (SELECT doc_id, {vcols} FROM hs),
agg AS (SELECT doc_id, {votes} FROM vs GROUP BY doc_id)
SELECT doc_id, {chars} AS simhash FROM agg"""


def _simhash_pairs_oracle(bands: int = 4, max_hamming: int = 3) -> str:
    # same signature pipeline as _simhash_oracle, then band self-join
    # + per-hex-char xor popcount (mirrors operators/dedup.simhash_pairs)
    r = 8 // bands
    sig_sql = _simhash_oracle()
    band_union = "\nUNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, substr(simhash, {b * r + 1}, {r}) AS bkey FROM sigs"
        for b in range(bands)
    )
    ham = " + ".join(
        "bit_count(xor(strpos('0123456789abcdef', substr(sa, {p}, 1)) - 1, "
        "strpos('0123456789abcdef', substr(sb, {p}, 1)) - 1))".format(p=p + 1)
        for p in range(8)
    )
    return f"""
WITH sigs AS ({sig_sql}),
bands AS ({band_union}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                a.simhash AS sa, b.simhash AS sb
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming::INT AS hamming
FROM (SELECT id_a, id_b, ({ham}) AS hamming FROM cand)
WHERE hamming <= {max_hamming}"""


_COS = (
    "list_sum(list_transform(range(0, 64), c -> {a}[c+1]::DOUBLE * {b}[c+1]::DOUBLE))"
    " / (sqrt(list_sum(list_transform(range(0, 64), c -> {a}[c+1]::DOUBLE * {a}[c+1]::DOUBLE)))"
    " * sqrt(list_sum(list_transform(range(0, 64), c -> {b}[c+1]::DOUBLE * {b}[c+1]::DOUBLE))))"
)


def _lsh_sig_sql(emb: str) -> str:
    bits = " || ".join(
        "(CASE WHEN list_sum(list_transform(range(0, 64), "
        f"c -> {emb}[c+1]::DOUBLE * "
        f"((((({1009 * (p + 1) + 12345}) + 9176 * (c + 1)) * 2654435761) % 1000003) / 1000003.0 - 0.5)"
        ")) >= 0 THEN '1' ELSE '0' END)"
        for p in range(16)
    )
    return bits


def _semdedup_cte() -> str:
    # mirrors semantic_dedup_pairs(max_iter=0): the kmeans seed draw
    # and nearest-seed assignment (same CTEs as the kmeans oracle),
    # then exact cosine WITHIN each cell
    cos = _COS.format(a="a.embedding", b="b.embedding")
    return f"""
WITH RECURSIVE sub AS (SELECT vec_id, embedding FROM embeddings),
seeds AS (
  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR || ':0')) - 1 AS cid,
         embedding
  FROM sub ORDER BY md5(vec_id::VARCHAR || ':0') LIMIT 4
), scored AS (
  SELECT e.vec_id, s.cid, e.embedding,
         list_sum(list_transform(range(0, 64),
           i -> (e.embedding[i+1]::DOUBLE - s.embedding[i+1]::DOUBLE)
              * (e.embedding[i+1]::DOUBLE - s.embedding[i+1]::DOUBLE))) AS d
  FROM sub e, seeds s
), best AS (
  SELECT vec_id, cid, embedding FROM scored
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
), p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS sim
  FROM best a JOIN best b ON a.cid = b.cid AND a.vec_id < b.vec_id
)"""


def _semdedup_pairs_oracle() -> str:
    return (
        _semdedup_cte()
        + """
SELECT id_a, id_b, round(sim, 6) AS cos_sim FROM p WHERE sim >= 0.4"""
    )


def _semdedup_oracle() -> str:
    return (
        _semdedup_cte()
        + """,
e AS (SELECT id_a AS u, id_b AS v FROM p WHERE sim >= 0.4
      UNION SELECT id_b, id_a FROM p WHERE sim >= 0.4),
reach(u, r) AS (
  SELECT u, u FROM e
  UNION
  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u
),
drops AS (SELECT u FROM reach GROUP BY u HAVING min(r) != u)
SELECT vec_id FROM sub WHERE vec_id NOT IN (SELECT u FROM drops)"""
    )


def _neardup_oracle() -> str:
    bands = "\nUNION ALL ".join(
        f"SELECT vec_id, {b} AS band, substr(sig, {b * 4 + 1}, 4) AS bkey FROM sigs" for b in range(4)
    )
    cos = _COS.format(a="va.embedding", b="vb.embedding")
    return f"""
WITH sigs AS (SELECT vec_id, {_lsh_sig_sql('embedding')} AS sig FROM embeddings),
bands AS ({bands}),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id)
SELECT id_a, id_b, round(sim, 6) AS cos_sim
FROM (SELECT id_a, id_b, {cos} AS sim
      FROM cand JOIN embeddings va ON va.vec_id = id_a
                JOIN embeddings vb ON vb.vec_id = id_b)
WHERE sim >= 0.45"""


def _ivf_oracle() -> str:
    ccos = _COS.format(a="q.embedding", b="c.centroid")
    fcos = _COS.format(a="b.embedding", b="p.embedding")
    return f"""
WITH expl AS (
  SELECT label,
         unnest(list_transform(range(0, 64),
                i -> struct_pack(p := i, v := embedding[i+1]::DOUBLE))) AS s
  FROM embeddings),
cents AS (
  SELECT label, list(m ORDER BY pos) AS centroid
  FROM (SELECT label, s.p AS pos, round(avg(s.v), 6) AS m FROM expl GROUP BY label, s.p)
  GROUP BY label),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
qscore AS (SELECT q.query_id, q.embedding, c.label, {ccos} AS cs FROM q CROSS JOIN cents c),
probed AS (SELECT query_id, embedding, label
           FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, label) AS pr
                 FROM qscore)
           WHERE pr <= 2),
cand AS (SELECT p.query_id, b.vec_id, {fcos} AS sim
         FROM embeddings b JOIN probed p ON b.label = p.label)
SELECT query_id, vec_id, round(sim, 6) AS cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk FROM cand)
WHERE rk <= 10"""


def _ann_oracle() -> str:
    cos = _COS.format(a="b.embedding", b="q.embedding")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 5),
scored AS (SELECT q.query_id, b.vec_id, {cos} AS sim
           FROM embeddings b CROSS JOIN q)
SELECT query_id, vec_id, round(sim, 6) AS cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk FROM scored)
WHERE rk <= 10"""


def _operator_oracles() -> dict[str, str]:
    return {
        "text_tokens": f"SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents",
        "text_tokens_bpe": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text,
                     '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+'))
                     AS n_bpe_tokens
            FROM documents""",
        "text_quality": f"""
            WITH b AS (SELECT doc_id, text, {_TOKS} AS toks, length(text) AS n_chars FROM documents),
            m AS (SELECT doc_id, n_chars, len(toks) AS n_tokens,
                         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
                         len(list_filter(toks, t -> t IN ({_EN_SW}))) AS n_stop
                  FROM b)
            SELECT doc_id, n_tokens AS q_n_tokens,
                   CASE WHEN n_tokens > 0 THEN (n_chars - (n_tokens - 1)) / n_tokens ELSE 0.0 END AS q_mean_tok_len,
                   CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS q_punct_ratio,
                   CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END AS q_stop_ratio,
                   (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 0.4 ELSE 0.0 END
                    + CASE WHEN n_tokens > 0 AND (n_chars - (n_tokens - 1)) / n_tokens >= 3.0
                            AND (n_chars - (n_tokens - 1)) / n_tokens <= 12.0 THEN 0.3 ELSE 0.0 END
                    + CASE WHEN (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) <= 0.1 THEN 0.15 ELSE 0.0 END
                    + CASE WHEN (CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END) >= 0.05 THEN 0.15 ELSE 0.0 END
                   )::DOUBLE AS q_score
            FROM m""",
        "text_langid": f"""
            WITH s AS (SELECT doc_id,
                len(list_filter({_TOKS}, t -> t IN ('der','die','das','und','ist','nicht','ein','zu','mit','auf'))) AS s_de,
                len(list_filter({_TOKS}, t -> t IN ({_EN_SW}))) AS s_en,
                len(list_filter({_TOKS}, t -> t IN ('el','la','de','que','y','los','en','un','por','con'))) AS s_es,
                len(list_filter({_TOKS}, t -> t IN ('le','la','de','et','les','des','un','une','dans','est'))) AS s_fr
                FROM documents)
            SELECT doc_id,
                   CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                        WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                        WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                        WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM s""",
        "text_repetition": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            top AS (SELECT doc_id, max(c) AS top_c
                    FROM (SELECT doc_id, tok, count(*) AS c
                          FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
                          GROUP BY doc_id, tok)
                    GROUP BY doc_id)
            SELECT t.doc_id,
                   CASE WHEN len(toks) > 0 THEN len(list_distinct(toks)) / len(toks) ELSE 1.0 END
                     AS rep_distinct_ratio,
                   CASE WHEN len(toks) > 0 THEN top_c / len(toks) ELSE 0.0 END
                     AS rep_top_token_ratio
            FROM t JOIN top ON t.doc_id = top.doc_id""",
        "text_fingerprint": """
            SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents""",
        "dedup_exact": """
            SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
                   min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents GROUP BY 1""",
        "q1_multi": """
            SELECT l_returnflag, l_linestatus,
                   coalesce(sum(l_quantity), 0) AS sum_qty,
                   round(coalesce(sum(l_extendedprice), 0), 4) AS sum_price,
                   round(avg(l_quantity), 9) AS avg_qty,
                   round(avg(l_extendedprice), 6) AS avg_price,
                   round(avg(l_discount), 9) AS avg_disc,
                   count(l_quantity) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus""",
        "multimodal_features": """
            SELECT doc_id AS media_id,
                   octet_length(encode(text)) AS n_bytes,
                   i AS pos,
                   (((strpos('0123456789abcdef', substr(sha256(text), 2*i + 1, 1)) - 1) * 16
                     + strpos('0123456789abcdef', substr(sha256(text), 2*i + 2, 1)) - 1)
                    / 128.0 - 1.0)::DOUBLE AS feat_value
            FROM documents, range(0, 16) t(i)""",
        # bigram-LM perplexity, re-derived in-SQL with the engine's
        # exact formula: add-1 smoothing over the joint vocabulary,
        # ln((c+k)/(c1+k*V)), exp(-mean) per doc
        "perplexity": _PPL_CTE + """
SELECT d.doc_id, sc.n_bigrams, round(exp(-sc.mlp), 6) AS ppl
FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN sc USING (doc_id)""",
        "perplexity_filter": _PPL_FILTER_SQL,
        "semdedup_pairs": _semdedup_pairs_oracle(),
        "semdedup": _semdedup_oracle(),
        # ground truth computed ARITHMETICALLY (header layout sizes +
        # the same width/height formulas the Spark side packs into the
        # synthetic PNG/GIF headers) — a true round-trip check of the
        # binary sniff/parse projections
        "media_sniff": """
            SELECT doc_id AS media_id,
                   CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                        WHEN 2 THEN 'jpeg' ELSE 'wav' END AS format,
                   (CASE WHEN doc_id % 4 IN (0, 1) THEN n_chars % 1024 + 1 END)::INT AS width,
                   (CASE WHEN doc_id % 4 IN (0, 1) THEN n_chars % 768 + 1 END)::INT AS height,
                   (octet_length(encode(text)) +
                    CASE doc_id % 4 WHEN 0 THEN 24 WHEN 1 THEN 10
                         WHEN 2 THEN 4 ELSE 12 END)::BIGINT AS n_bytes
            FROM documents""",
        "minhash_pairs": _minhash_oracle(),
        # the xxhash64 twins + the forced dim-768 topk: hash-agnostic /
        # kernel-agnostic INVARIANT oracles (r12 VERDICT #6).  DuckDB
        # cannot compute xxhash64, but it CAN recompute the
        # identical-shingle-set pair count (equal sets => equal
        # signatures => the banding MUST pair them), the token-set
        # group counts a deterministic simhash may never split, and
        # the exact top-k shape of a base-drawn query set — each with
        # the same tokenization the green md5 rows already verify.
        "minhash_pairs_xx": f"""
            WITH {_SHINGLES_CTE},
            keys AS (SELECT doc_id,
                            array_to_string(list_sort(list(shingle)), chr(31)) AS k
                     FROM sh GROUP BY doc_id),
            g AS (SELECT k, count(*) AS n FROM keys GROUP BY k)
            SELECT 0::BIGINT AS n_bad_order,
                   0::BIGINT AS n_dup_pairs,
                   0::BIGINT AS n_unknown_ids,
                   coalesce(sum(n * (n - 1) // 2), 0)::BIGINT AS dup_shingle_pairs,
                   coalesce(sum(n * (n - 1) // 2), 0)::BIGINT AS dup_captured,
                   4::BIGINT AS n_bands,
                   0::BIGINT AS n_uneven_bands
            FROM g""",
        "simhash_xx": f"""
            WITH toks AS (SELECT doc_id,
                                 array_to_string(list_sort(list_distinct({_TOKS})),
                                                 chr(31)) AS k
                          FROM documents)
            SELECT count(*)::BIGINT AS n_rows,
                   count(DISTINCT doc_id)::BIGINT AS n_docs,
                   0::BIGINT AS n_bad_format,
                   count(DISTINCT k)::BIGINT AS n_token_sets,
                   0::BIGINT AS n_split_token_sets
            FROM toks""",
        "ann_topk_768": """
            WITH q AS (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 5)
            SELECT (nq * 10)::BIGINT AS n_rows,
                   nq::BIGINT AS n_queries,
                   0::BIGINT AS n_bad_k,
                   0::BIGINT AS n_dup_neighbors,
                   0::BIGINT AS n_out_of_range,
                   nq::BIGINT AS n_self_top
            FROM q""",
        "lsh_sig_768": """
            SELECT count(*)::BIGINT AS n_rows,
                   count(DISTINCT vec_id)::BIGINT AS n_vecs,
                   0::BIGINT AS n_bad_format,
                   4::BIGINT AS n_bands,
                   0::BIGINT AS n_bucket_oob
            FROM embeddings""",
        "neardup_768": """
            WITH g AS (SELECT embedding, count(*) AS n
                       FROM embeddings GROUP BY embedding HAVING count(*) > 1)
            SELECT 0::BIGINT AS n_bad_order,
                   0::BIGINT AS n_dup_pairs,
                   0::BIGINT AS n_unknown_ids,
                   0::BIGINT AS n_false_pairs,
                   coalesce(sum(n * (n - 1) // 2), 0)::BIGINT AS dup_vec_pairs,
                   coalesce(sum(n * (n - 1) // 2), 0)::BIGINT AS dup_captured
            FROM g""",
        # pack_sequences: the bin ASSIGNMENT is iterative/engine-specific
        # (no SQL form), but the invariants of a correct packing are
        # relational — the oracle recomputes the doc-side facts from raw
        # text (token counts, oversize split, packable total) and pins
        # the packing-side violation counters at zero / the first-fit
        # bin-count bound at true (r11 VERDICT #6)
        "pack_sequences": f"""
            WITH t AS (SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents)
            SELECT count(*)::BIGINT AS n_rows,
                   count(DISTINCT doc_id)::BIGINT AS n_docs,
                   sum(CASE WHEN n_tokens <= 512 THEN n_tokens ELSE 0 END)::BIGINT
                     AS packable_tokens,
                   sum(CASE WHEN n_tokens > 512 THEN 1 ELSE 0 END)::BIGINT
                     AS n_oversize,
                   0::BIGINT AS oversize_mismatch,
                   0::BIGINT AS over_cap_bins,
                   0::BIGINT AS mixed_oversize_bins,
                   true AS bins_ok
            FROM t""",
        # distinct_rollup: same invariant-oracle pattern — exact
        # per-type distinct recomputed from raw events; the HLL union
        # estimate must sit inside the 5% (>3 sigma at lgk=12) envelope
        "distinct_rollup": """
            SELECT event_type,
                   count(DISTINCT user_id)::BIGINT AS exact_distinct,
                   true AS within_tol
            FROM events GROUP BY event_type ORDER BY event_type""",
        "minhash_bands": _minhash_bands_oracle(),
        "minhash_clusters": f"""
            WITH RECURSIVE pairs AS ({_minhash_oracle()}),
            e AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            reach(u, r) AS (
              SELECT u, u FROM e
              UNION
              SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u
            )
            SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u""",
        "dedup_documents": f"""
            WITH RECURSIVE pairs AS ({_minhash_oracle()}),
            e AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            reach(u, r) AS (
              SELECT u, u FROM e
              UNION
              SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u
            ),
            cl AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u)
            SELECT d.doc_id FROM documents d
            WHERE d.doc_id NOT IN
              (SELECT doc_id FROM cl WHERE doc_id != cluster_id)""",
        "jaccard_pairs": f"""
            WITH {_SHINGLES_CTE},
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
                       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                       GROUP BY 1, 2)
            SELECT id_a, id_b, round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 9) AS jaccard
            FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_shared / (sa.n_sh + sb.n_sh - n_shared) >= 0.2""",
        "simhash": _simhash_oracle(),
        "simhash_pairs": _simhash_pairs_oracle(),
        "ann_topk": _ann_oracle(),
        "embed_normalize": """
            SELECT vec_id, i AS pos,
                   CASE WHEN nrm = 0 THEN embedding[i+1]::DOUBLE
                        ELSE embedding[i+1]::DOUBLE / nrm END AS nval
            FROM (SELECT vec_id, embedding,
                         sqrt(list_sum(list_transform(range(0, 64),
                              c -> embedding[c+1]::DOUBLE * embedding[c+1]::DOUBLE))) AS nrm
                  FROM embeddings WHERE vec_id < 100), range(0, 64) t(i)""",
        "embed_quantize": """
            SELECT vec_id, i AS pos,
                   CASE WHEN scale = 0 THEN 0
                        ELSE ((CASE WHEN embedding[i+1] < 0 THEN -1 ELSE 1 END)
                              * floor(abs(embedding[i+1]::DOUBLE) / scale + 0.5))::INTEGER
                   END AS q
            FROM (SELECT vec_id, embedding,
                         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS scale
                  FROM embeddings WHERE vec_id < 100), range(0, 64) t(i)""",
        "scd2": """
            WITH chg AS (
              SELECT user_id, event_type, event_id,
                     lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY event_id) AS prev
              FROM events),
            runs AS (
              SELECT user_id, event_type, event_id AS valid_from
              FROM chg WHERE prev IS DISTINCT FROM event_type)
            SELECT user_id, event_type, valid_from,
                   lead(valid_from) OVER (PARTITION BY user_id
                                          ORDER BY valid_from) AS valid_to,
                   lead(valid_from) OVER (PARTITION BY user_id
                                          ORDER BY valid_from) IS NULL AS is_current
            FROM runs""",
        "describe": """
            SELECT l_returnflag, count(l_quantity) AS count,
                   round(avg(l_quantity), 6) AS mean,
                   round(stddev_samp(l_quantity), 6) AS std,
                   min(l_quantity) AS min,
                   round(quantile_cont(l_quantity, 0.25), 6) AS p25,
                   round(quantile_cont(l_quantity, 0.50), 6) AS p50,
                   round(quantile_cont(l_quantity, 0.75), 6) AS p75,
                   max(l_quantity) AS max
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
        "ntile_buckets": """
            SELECT doc_id, lang,
                   ntile(4) OVER (PARTITION BY lang
                                  ORDER BY n_chars ASC NULLS LAST, doc_id) AS bucket
            FROM documents""",
        "fillna_group": """
            WITH e AS (
              SELECT event_id, user_id,
                     CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
              FROM events)
            SELECT event_id, user_id,
                   round(coalesce(v, avg(v) OVER (PARTITION BY user_id)), 6) AS v_filled
            FROM e""",
        "flag_outliers": """
            SELECT l_orderkey, l_linenumber, l_returnflag,
                   round(abs(l_extendedprice - avg(l_extendedprice) OVER w)
                         / stddev_pop(l_extendedprice) OVER w, 6) AS score,
                   round(abs(l_extendedprice - avg(l_extendedprice) OVER w)
                         / stddev_pop(l_extendedprice) OVER w, 6) > 3.0 AS is_outlier
            FROM lineitem WINDOW w AS (PARTITION BY l_returnflag)""",
        "entropy": """
            WITH c AS (SELECT source, lang, count(*)::DOUBLE AS c
                       FROM documents GROUP BY source, lang),
                 t AS (SELECT source, c,
                              sum(c) OVER (PARTITION BY source) AS n FROM c)
            SELECT source, round(-sum((c / n) * log2(c / n)), 6) AS entropy
            FROM t GROUP BY source ORDER BY source""",
        # mixture rates re-derived in-SQL with the engine's exact
        # arithmetic order: ft = min(n/share); binding source(s)
        # clamped to exactly 1.0 (mirrors sample_mixture's kept-whole
        # guarantee); rate = share * ft / n otherwise
        "sample_mixture": """
            WITH c AS (SELECT source, count(*) AS n FROM documents
                       WHERE source IN ('src1', 'src2', 'src3') GROUP BY source),
                 s(source, share) AS (VALUES ('src1', 0.5::DOUBLE),
                                            ('src2', 0.3::DOUBLE),
                                            ('src3', 0.2::DOUBLE)),
                 j AS (SELECT c.source, c.n, s.share FROM c JOIN s USING (source)),
                 t AS (SELECT min(n / share) AS ft FROM j),
                 r AS (SELECT source,
                              CASE WHEN n / share = (SELECT ft FROM t) THEN 1.0
                                   ELSE share * (SELECT ft FROM t) / n
                              END AS rate FROM j)
            SELECT d.doc_id, d.source
            FROM documents d JOIN r ON d.source = r.source
            WHERE substr(md5(d.doc_id::VARCHAR || ':mx'), 1, 12) <
                  CASE WHEN rate >= 1.0 THEN 'g'
                       ELSE printf('%012x',
                                   CAST(floor(rate * 281474976710656.0) AS BIGINT))
                  END""",
        # rate re-derived in-SQL with the engine's arithmetic order:
        # (budget / total) * 16^12, floored
        "token_budget": """
            WITH t AS (SELECT sum(CASE WHEN n_chars > 0 THEN n_chars ELSE 0 END)::BIGINT
                         AS total FROM documents)
            SELECT doc_id, n_chars FROM documents, t
            WHERE total <= 40000
               OR substr(md5(doc_id::VARCHAR || ':tb'), 1, 12) <
                  printf('%012x',
                         CAST(floor((40000 / total) * 281474976710656.0) AS BIGINT))""",
        "sample_global": """
            SELECT doc_id, lang FROM documents
            ORDER BY md5(doc_id::VARCHAR || ':g'), doc_id LIMIT 25""",
        # group-label hash split; 0.3 threshold = floor(0.3 * 16^12)
        # = 0x4ccccccccccc
        "split_by_group": """
            SELECT doc_id, lang,
                   CASE WHEN substr(md5(lang || ':sg'), 1, 12) < '4ccccccccccc'
                        THEN 'test' ELSE 'train' END AS split
            FROM documents""",
        # near-dup-aware split: the minhash pair CTE + the recursive
        # connected-components CTE (both shared with minhash_clusters)
        # feed the same md5 gate, keyed by each doc's cluster
        # representative (its own id when unpaired)
        "leakage_split": f"""
            WITH RECURSIVE pairs AS ({_minhash_oracle()}),
            e AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            reach(u, r) AS (
              SELECT u, u FROM e
              UNION
              SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u
            ),
            cl AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u)
            SELECT d.doc_id,
                   CASE WHEN substr(md5(coalesce(cl.cluster_id, d.doc_id)::VARCHAR || ':ls'), 1, 12)
                             < '400000000000'
                        THEN 'test' ELSE 'train' END AS split
            FROM documents d LEFT JOIN cl USING (doc_id)""",
        "ivf_topk": _ivf_oracle(),
        "embed_neardup": _neardup_oracle(),
    }


def q_describe(s, d):
    # pandas GroupBy.describe parity in ONE aggregation pass
    from flox_spark import groupby_describe

    out = groupby_describe(_t(s, d, "lineitem"), "l_returnflag", value="l_quantity")
    return out.select(
        "l_returnflag", "count",
        F.round("mean", 6).alias("mean"), F.round("std", 6).alias("std"),
        "min", F.round("p25", 6).alias("p25"), F.round("p50", 6).alias("p50"),
        F.round("p75", 6).alias("p75"), "max",
    )


def q_ntile(s, d):
    # per-group quantile buckets over a TOTAL order (tiebreak column):
    # reproducible under any partitioning, unlike bare ntile
    from flox_spark import groupby_ntile

    docs = _t(s, d, "documents")
    out = groupby_ntile(docs, "lang", value="n_chars", k=4, tiebreak="doc_id")
    return out.select("doc_id", "lang", F.col("bucket").cast("long").alias("bucket"))


def q_fillna_group(s, d):
    # group-mean imputation (one agg pass + broadcast join, no
    # fact-side window); NULLs injected deterministically
    from flox_spark import fillna_group

    ev = _t(s, d, "events").withColumn(
        "v",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double")).otherwise(
            F.col("value")
        ),
    )
    out = fillna_group(ev, "user_id", value="v", out="v_filled")
    return out.select("event_id", "user_id", F.round("v_filled", 6).alias("v_filled"))


def q_flag_outliers(s, d):
    # per-row 3-sigma flags against the row's own group distribution;
    # decision made on the ROUNDED score (cross-engine stable)
    from flox_spark import flag_outliers

    out = flag_outliers(
        _t(s, d, "lineitem"), "l_returnflag", value="l_extendedprice", threshold=3.0
    )
    return out.select("l_orderkey", "l_linenumber", "l_returnflag", "score", "is_outlier")


def q_entropy(s, d):
    # Shannon diversity of each source's language mix (two hash aggs)
    from flox_spark import groupby_entropy

    out = groupby_entropy(_t(s, d, "documents"), "source", value="lang")
    return out.select("source", F.round("entropy", 6).alias("entropy"))


def q_sample_mixture(s, d):
    # dataset-mixing: largest corpus matching declared source shares;
    # rates from the feasibility bound, then the stratified hash gate
    from flox_spark.operators import sample_mixture

    docs = _t(s, d, "documents")
    out = sample_mixture(
        docs, "source", {"src1": 0.5, "src2": 0.3, "src3": 0.2}, "doc_id", seed="mx"
    )
    return out.select("doc_id", "source")


def q_token_budget(s, d):
    # "give me a ~40k-token subset": one sum collect derives the rate,
    # then the unbiased Bernoulli hash gate (pure filter projection)
    from flox_spark.operators import sample_to_token_budget

    docs = _t(s, d, "documents")
    out = sample_to_token_budget(docs, "n_chars", 40000, "doc_id", seed="tb")
    return out.select("doc_id", "n_chars")


def q_sample_global(s, d):
    # exact-N uniform global draw by hash order; plans as
    # TakeOrderedAndProject (per-partition top-N, no global sort)
    from flox_spark.operators import sample_exact_global

    return sample_exact_global(_t(s, d, "documents"), 25, "doc_id", seed="g").select(
        "doc_id", "lang"
    )


def q_split_by_group(s, d):
    # leakage-safe split: hash the GROUP label so all of a group's
    # rows land in one split (near-dups cluster within groups)
    from flox_spark.operators import split_by_group

    out = split_by_group(_t(s, d, "documents"), "lang", test_fraction=0.3, seed="sg")
    return out.select("doc_id", "lang", "split")


def q_leakage_split(s, d):
    # NEAR-DUP-AWARE train/test split: MinHash-LSH pairs -> connected
    # components -> each row hashed by its cluster REPRESENTATIVE, so
    # near-duplicate twins always land on one side (the leakage guard
    # a row-level split lacks).  md5 hash_impl = the oracle path; the
    # DuckDB side replays pairs + recursive CC + the same md5 gate.
    from flox_spark.operators import leakage_safe_split

    out = leakage_safe_split(
        _t(s, d, "documents"), "doc_id", "text", test_fraction=0.25,
        seed="ls", num_hashes=16, bands=4, shingle_k=3, max_bucket=None,
        hash_impl="md5",
    )
    return out.select("doc_id", "split")


def q_scd2(s, d):
    # SCD2 history: compress each user's event_type change log into
    # validity intervals (two windows over ONE shuffle)
    from flox_spark.operators import scd2_history

    ev = _t(s, d, "events")
    return scd2_history(
        ev.select("user_id", "event_id", "event_type"),
        "user_id", order_by="event_id", attrs=["event_type"],
    ).select("user_id", "event_type", "valid_from", "valid_to", "is_current")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordered for driver-coverage rotation: the harness checks a
    # 50-query prefix of this dict, assembled from `_R15_WINDOW` below
    # over the full registry.  Round-15 window (r14 VERDICT next #1):
    # [1-17] the r14-touched rows the driver has never hash-checked
    # post-change — the three big rewrites (lsh_sig_768, simhash_xx,
    # ann_topk_768), the SQL-twin dedup family rows, the staged text
    # family, the dropped-presentation-sort rows, the scan/EWM blocked
    # rows — plus minhash_pairs_xx again (its audit was re-assembled
    # as one SQL statement THIS round); then [18-42] every row riding
    # the r15 SQL-text fast path of groupby_reduce/_multi (the plain
    # reduction family); then [43-50] stale rows not checked since
    # r12.  All pass tools/check_oracle.py at sf0.001/0.01/0.1
    # regardless of window position.
    base = {
        "perplexity": q_perplexity,
        "perplexity_filter": q_perplexity_filter,
        "winsorize": q_winsorize,
        "kmeans": q_kmeans,
        "semdedup_pairs": q_semdedup_pairs,
        "semdedup": q_semdedup,
        "ann_topk_768": q_ann_topk_768,
        "lsh_sig_768": q_lsh_sig_768,
        "neardup_768": q_neardup_768,
        "simhash_pairs": q_simhash_pairs,
        "minhash_clusters": q_minhash_clusters,
        "leakage_split": q_leakage_split,
        "dedup_documents": q_dedup_documents,
        "dup_spans": q_dup_spans,
        "dup_spans_removed": q_dup_spans_removed,
        "dup_spans_against": q_dup_spans_against,
        "decontaminate_spans": q_decontaminate_spans,
        "quantile": q_quantile,
        "median": q_median,
        "quantile_vector": q_quantile_vector,
        "sum": q_sum,
        "mean": q_mean,
        "var": q_var,
        "expected_fill": q_expected_fill,
        "describe": q_describe,
        "dayofyear_mean": q_dayofyear_mean,
        "monthhour_sum": q_monthhour_sum,
        "binned_count": q_binned_count,
        "sample_weighted": q_sample_weighted,
        "scan_diff": q_scan_diff,
        "scan_pct_change": q_pct_change,
        "corr_spearman": q_corr_spearman,
        "rolling_rows": q_rolling_rows,
        "quantile_refine": q_quantile_refine,
        "simhash_xx": q_simhash_xx,
        "sample_bernoulli": q_sample_bernoulli,
        "sample_stratified": q_sample_stratified,
        "split_train_test": q_split_train_test,
        "nunique_plain": q_nunique_plain,
        "embed_pool": q_embed_pool,
        "weighted_var": q_weighted_var,
        "frame_sample": q_frame_sample,
        "media_sniff": q_media_sniff,
        "minhash_estimate": q_minhash_estimate,
        "k_anonymity": q_k_anonymity,
        "multimodal_features": q_multimodal_features,
        "entropy": q_entropy,
        "token_budget": q_token_budget,
        "dedup_against": q_dedup_against,
        "levenshtein_refine": q_levenshtein_refine,
        "tfidf_top_terms": q_tfidf_top_terms,
        "ngram_counts": q_ngram_counts,
        "dedup_lines": q_dedup_lines,
        "scan_shift": q_scan_shift,
        "scan_shift_blocked": q_scan_shift_blocked,
        "rank_avg": q_rank_avg,
        "rank_avg_blocked": q_rank_avg_blocked,
        "pivot_sum": q_pivot_sum,
        "corr_pearson": q_corr_pearson,
        "twa": q_twa,
        "rolling_time": q_rolling_time,
        "resample": q_resample,
        "sample_group": q_sample_group,
        "quantile_sort": q_quantile_sort,
        "transform_mean": q_transform_mean,
        "grouped_topk": q_grouped_topk,
        "embed_normalize": q_embed_normalize,
        "ann_topk": q_ann_topk,
        "ivf_topk": q_ivf_topk,
        "embed_neardup": q_embed_neardup,
        "embed_quantize": q_embed_quantize,
        "highcard_random": q_highcard_random,
        "json_extract": q_json_extract,
        "dedup_exact": q_dedup_exact,
        "ntile_buckets": q_ntile,
        "fillna_group": q_fillna_group,
        "sample_global": q_sample_global,
        "split_by_group": q_split_by_group,
        "pack_sequences": q_pack_sequences,
        "distinct_rollup": q_distinct_rollup,
        "minhash_pairs": q_minhash_pairs,
        "minhash_bands": q_minhash_bands,
        "minhash_against": q_minhash_against,
        "minhash_pairs_xx": q_minhash_pairs_xx,
        "simhash": q_simhash,
        "jaccard_pairs": q_jaccard_pairs,
        "decontaminate": q_decontaminate,
        "fuzzy_join": q_fuzzy_join,
        "sessionize": q_sessionize,
        "session_stats": q_session_stats,
        "asof_join": q_asof_join,
        "funnel": q_funnel,
        "funnel_path": q_funnel_path,
        "range_join": q_range_join,
        "heavy_hitters": q_heavy_hitters,
        "scd2": q_scd2,
        "table_diff": q_table_diff,
        "sample_mixture": q_sample_mixture,
        "shard_stats": q_shard_stats,
        "flag_outliers": q_flag_outliers,
        "value_counts": q_value_counts,
        "upsample_ffill": q_upsample_ffill,
        "label_encode": q_label_encode,
        "frequency_encode": q_frequency_encode,
        "ewm_mean": q_ewm_mean,
        "ewm_mean_blocked": q_ewm_mean_blocked,
        "ewm_adjf_blocked": q_ewm_adjf_blocked,
        "ewm_var_blocked": q_ewm_var_blocked,
        "nansum": q_nansum,
        "count": q_count,
        "var_ddof1": q_var_ddof1,
        "std": q_std,
        "prod": q_prod,
        "min": q_min,
        "max": q_max,
        "argmax": q_argmax,
        "argmin": q_argmin,
        "first": q_first,
        "last": q_last,
        "mode": q_mode,
        "any": q_any,
        "all": q_all,
        "first_plain": q_first_plain,
        "argmax_plain": q_argmax_plain,
        "min_plain": q_min_plain,
        "mode_plain": q_mode_plain,
        "scan_cumsum": q_scan_cumsum,
        "scan_ffill": q_scan_ffill,
        "scan_cumcount": q_scan_cumcount,
        "scan_bfill": q_scan_bfill,
        "binned_labels": q_binned_labels,
        "binned_datetime": q_binned_datetime,
        "binned_left": q_binned_left,
        "multiby_highcard": q_multiby_highcard,
        "q1_multi": q_q1_multi,
        "text_quality": q_text_quality,
        "text_tokens": q_text_tokens,
        "text_tokens_bpe": q_text_tokens_bpe,
        "text_langid": q_text_langid,
        "text_repetition": q_text_repetition,
        "text_fingerprint": q_text_fingerprint,
        "skew": q_skew,
        "kurtosis": q_kurtosis,
        "rank_pct": q_rank_pct,
        "nunique": q_nunique,
        "redact_pii": q_redact_pii,
        "boilerplate": q_boilerplate,
        "chunk_docs": q_chunk_docs,
        "profile": q_profile,
        "quality_report": q_quality_report,
        "salted_sum": q_salted_sum,
        "weighted_mean": q_weighted_mean,
    }
    return {**{k: base[k] for k in _R15_WINDOW}, **base}


# the driver-checked 50-query prefix (see the rotation comment above);
# dict insertion order puts these first, then every remaining registry
# row in its stable order.  Keep this list in sync with the comment.
_R15_WINDOW = [
    # r14-touched rows never driver-checked post-change (r14 VERDICT
    # next #1), + minhash_pairs_xx (audit re-assembled again in r15)
    "lsh_sig_768", "simhash_xx", "ann_topk_768", "minhash_bands",
    "minhash_estimate", "text_quality", "text_langid", "text_repetition",
    "quality_report", "profile", "weighted_mean", "dedup_documents",
    "scan_cumsum", "scan_ffill", "scan_shift_blocked", "ewm_var_blocked",
    "minhash_pairs_xx",
    # r15 SQL-text fast-path rows (groupby_reduce/_multi plain family)
    "sum", "mean", "var", "count", "nansum", "std", "var_ddof1",
    "min", "max", "argmax", "argmin", "first", "last",
    "first_plain", "argmax_plain", "min_plain",
    "nunique", "nunique_plain", "dayofyear_mean", "monthhour_sum",
    "multiby_highcard", "highcard_random", "q1_multi", "any", "all",
    # staleness tail (not driver-checked since r12)
    "transform_mean", "fillna_group", "ntile_buckets", "sample_global",
    "split_by_group", "json_extract", "embed_normalize", "embed_quantize",
]

def oracle_sql() -> dict[str, str]:
    out = _operator_oracles()
    out.update({
        "count": """
            SELECT l_returnflag, l_linestatus, count(l_quantity) AS cnt
            FROM lineitem GROUP BY l_returnflag, l_linestatus""",
        "sum": """
            SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY l_returnflag, l_linestatus""",
        "nansum": """
            SELECT l_returnflag, l_linestatus, round(coalesce(sum(l_extendedprice), 0), 4) AS sum_price
            FROM lineitem GROUP BY l_returnflag, l_linestatus""",
        "mean": """
            SELECT l_returnflag, l_linestatus, round(avg(l_discount), 9) AS avg_disc
            FROM lineitem GROUP BY l_returnflag, l_linestatus""",
        "min": "SELECT l_returnflag, min(l_extendedprice) AS min_price FROM lineitem GROUP BY l_returnflag",
        "max": "SELECT l_returnflag, max(l_extendedprice) AS max_price FROM lineitem GROUP BY l_returnflag",
        "var": "SELECT l_returnflag, round(var_pop(l_quantity), 6) AS var_qty FROM lineitem GROUP BY l_returnflag",
        "var_ddof1": "SELECT l_returnflag, round(var_samp(l_quantity), 6) AS var1_qty FROM lineitem GROUP BY l_returnflag",
        "std": "SELECT l_returnflag, round(stddev_samp(l_quantity), 6) AS std_qty FROM lineitem GROUP BY l_returnflag",
        "prod": "SELECT l_orderkey, round(coalesce(product(l_discount), 1), 12) AS prod_disc FROM lineitem GROUP BY l_orderkey",
        "median": """
            SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 6) AS med_price
            FROM lineitem GROUP BY l_returnflag""",
        "quantile": """
            SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
            FROM lineitem GROUP BY l_returnflag""",
        "rolling_time": """
            SELECT event_id,
                   count(value) OVER w AS n_1h,
                   round(sum(value) OVER w, 6) AS s_1h
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)""",
        "rolling_rows": """
            SELECT event_id, round(avg(value) OVER w, 6) AS m5
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""",
        "resample": """
            SELECT TIMESTAMP '1970-01-01'
                     + to_seconds(CAST(floor(epoch(ts)/21600)*21600 AS BIGINT))
                     AS ts_bucket,
                   count(value) AS n,
                   round(sum(value), 6) AS sv
            FROM events GROUP BY ts_bucket ORDER BY ts_bucket""",
        "dedup_against": """
            WITH fp AS (
              SELECT doc_id,
                     md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
              FROM documents
            )
            SELECT b.doc_id FROM fp b
            WHERE b.doc_id % 2 = 1
              AND NOT EXISTS (
                SELECT 1 FROM fp r WHERE r.doc_id % 2 = 0 AND r.f = b.f)""",
        "levenshtein_refine": """
            WITH p AS (
              SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b
              FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
              WHERE a.doc_id % 2 = 0
            )
            SELECT p.id_a, p.id_b,
                   levenshtein(left(da.text, 48), left(db.text, 48)) AS edit_dist
            FROM p
            JOIN documents da ON da.doc_id = p.id_a
            JOIN documents db ON db.doc_id = p.id_b
            WHERE levenshtein(left(da.text, 48), left(db.text, 48)) <= 40""",
        "tfidf_top_terms": """
            WITH toks AS (
              SELECT doc_id, t AS term
              FROM documents,
                   unnest(list_filter(
                     string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '')) AS u(t)
            ),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
            dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
            n AS (SELECT count(*) AS n FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term,
                     round(tf.tf * ln(n.n::DOUBLE / dfq.df), 6) AS score
              FROM tf JOIN dfq USING (term) CROSS JOIN n
            )
            SELECT doc_id, term, score FROM (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term) AS rn
              FROM scored)
            WHERE rn <= 2""",
        "ngram_counts": """
            WITH t AS (
              SELECT list_filter(
                       string_split_regex(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS w
              FROM documents
            ),
            g AS (
              SELECT array_to_string(w[i:i+2], ' ') AS ngram
              FROM t, unnest(range(1, len(w) - 1)) AS r(i)
            )
            SELECT ngram, count(*) AS n_occurrences
            FROM g GROUP BY 1
            ORDER BY n_occurrences DESC, ngram
            LIMIT 50""",
        "shard_stats": """
            WITH s AS (
              SELECT (('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 8))::BIGINT
                      % 8)::INT AS shard,
                     n_chars
              FROM documents
            ),
            agg AS (
              SELECT shard, count(*) AS n_rows, sum(n_chars)::BIGINT AS total_size
              FROM s GROUP BY shard
            )
            SELECT g.shard::INT AS shard,
                   coalesce(a.n_rows, 0) AS n_rows,
                   coalesce(a.total_size, 0) AS total_size
            FROM range(8) AS g(shard) LEFT JOIN agg a ON a.shard = g.shard
            ORDER BY 1""",
        "table_diff": """
            WITH old AS (
              SELECT doc_id, text, lang FROM documents WHERE doc_id < 400
            ),
            new AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END AS text,
                     lang
              FROM documents WHERE doc_id >= 100
            )
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.doc_id IS NULL THEN 'added'
                        WHEN n.doc_id IS NULL THEN 'removed'
                        ELSE 'changed' END AS status,
                   CASE WHEN o.doc_id IS NULL OR n.doc_id IS NULL THEN ''
                        ELSE concat_ws(',',
                          CASE WHEN o.text IS DISTINCT FROM n.text THEN 'text' END,
                          CASE WHEN o.lang IS DISTINCT FROM n.lang THEN 'lang' END)
                   END AS changed_cols
            FROM old o FULL OUTER JOIN new n USING (doc_id)
            WHERE o.doc_id IS NULL OR n.doc_id IS NULL
               OR o.text IS DISTINCT FROM n.text
               OR o.lang IS DISTINCT FROM n.lang""",
        "corr_pearson": """
            SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 9) AS corr,
                   round(covar_samp(l_quantity, l_extendedprice), 6) AS cov,
                   count(*) AS n_pairs
            FROM lineitem GROUP BY 1 ORDER BY 1""",
        "corr_spearman": """
            WITH r AS (
              SELECT l_returnflag,
                     rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                       + (count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1) / 2.0
                       AS rx,
                     rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                       + (count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0
                       AS ry
              FROM lineitem
            )
            SELECT l_returnflag, round(corr(rx, ry), 9) AS corr
            FROM r GROUP BY 1 ORDER BY 1""",
        "twa": """
            WITH d AS (
              SELECT user_id, value,
                     (lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                      - epoch_us(ts))::DOUBLE AS dur
              FROM events
            )
            SELECT user_id, round(sum(value * dur) / sum(dur), 6) AS twa
            FROM d GROUP BY user_id ORDER BY user_id""",
        "scan_shift": """
            SELECT event_id, user_id,
                   round(lag(value) OVER (PARTITION BY user_id ORDER BY event_id), 6)
                     AS shifted
            FROM events""",
        "scan_shift_blocked": """
            SELECT event_id, user_id,
                   round(lag(value, 3) OVER (PARTITION BY user_id ORDER BY event_id), 6)
                     AS shifted
            FROM events""",
        "scan_diff": """
            SELECT event_id, user_id,
                   round(value - lag(value) OVER (PARTITION BY user_id ORDER BY event_id), 6)
                     AS dv
            FROM events""",
        "scan_pct_change": """
            WITH e AS (
              SELECT event_id, user_id,
                     ((floor(value)::BIGINT % 37) + 37) % 37 + 1 AS v37
              FROM events
            )
            SELECT event_id, user_id,
                   round(v37::DOUBLE /
                         lag(v37) OVER (PARTITION BY user_id ORDER BY event_id)
                         - 1, 6) AS pc
            FROM e""",
        "skew": """
            WITH a AS (SELECT l_returnflag AS k, l_quantity::DOUBLE AS v,
                              min(l_quantity::DOUBLE) OVER (PARTITION BY l_returnflag) AS anc
                       FROM lineitem),
                 m AS (SELECT k, count(v)::DOUBLE AS n,
                              sum(v - anc) AS s1, sum((v-anc)*(v-anc)) AS s2,
                              sum((v-anc)*(v-anc)*(v-anc)) AS s3,
                              sum((v-anc)*(v-anc)*(v-anc)*(v-anc)) AS s4
                       FROM a GROUP BY k),
                 c AS (SELECT k, n, s1/n AS mu,
                              s2/n - (s1/n)*(s1/n) AS m2,
                              s3/n - 3*(s1/n)*s2/n + 2*(s1/n)*(s1/n)*(s1/n) AS m3,
                              s4/n - 4*(s1/n)*s3/n + 6*(s1/n)*(s1/n)*s2/n
                                - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n) AS m4
                       FROM m)
            SELECT k AS l_returnflag,
                   CASE WHEN n >= 3 THEN
                     CASE WHEN m2 > 0 THEN
                       round((n*n/((n-1)*(n-2))) * m3 / pow(m2*n/(n-1), 1.5), 9)
                     ELSE 0.0 END
                   END AS skew
            FROM c ORDER BY k""",
        "kurtosis": """
            WITH a AS (SELECT l_returnflag AS k, l_quantity::DOUBLE AS v,
                              min(l_quantity::DOUBLE) OVER (PARTITION BY l_returnflag) AS anc
                       FROM lineitem),
                 m AS (SELECT k, count(v)::DOUBLE AS n,
                              sum(v - anc) AS s1, sum((v-anc)*(v-anc)) AS s2,
                              sum((v-anc)*(v-anc)*(v-anc)) AS s3,
                              sum((v-anc)*(v-anc)*(v-anc)*(v-anc)) AS s4
                       FROM a GROUP BY k),
                 c AS (SELECT k, n, s1/n AS mu,
                              s2/n - (s1/n)*(s1/n) AS m2,
                              s3/n - 3*(s1/n)*s2/n + 2*(s1/n)*(s1/n)*(s1/n) AS m3,
                              s4/n - 4*(s1/n)*s3/n + 6*(s1/n)*(s1/n)*s2/n
                                - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n) AS m4
                       FROM m)
            SELECT k AS l_returnflag,
                   CASE WHEN n >= 4 THEN
                     CASE WHEN m2 > 0 THEN
                       round(n*(n+1)/((n-1)*(n-2)*(n-3)) * (m4*n)
                               / ((m2*n/(n-1))*(m2*n/(n-1)))
                             - 3*(n-1)*(n-1)/((n-2)*(n-3)), 9)
                     ELSE 0.0 END
                   END AS kurt
            FROM c ORDER BY k""",
        "upsample_ffill": """
            WITH o AS (
              SELECT user_id,
                     TIMESTAMP '1970-01-01'
                       + to_seconds(CAST(floor(epoch(ts)/21600)*21600 AS BIGINT)) AS bk,
                     epoch_us(ts) AS us, value::DOUBLE AS v
              FROM events
              WHERE user_id IS NOT NULL
                AND value IS NOT NULL AND NOT isnan(value::DOUBLE)
            ), ob AS (
              SELECT user_id, bk, max(struct_pack(us := us, v := v)) AS lastsv
              FROM o GROUP BY user_id, bk
            ), bounds AS (
              SELECT user_id, min(bk) AS lo, max(bk) AS hi FROM ob GROUP BY user_id
            ), grid AS (
              SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 6 HOUR)) AS bk
              FROM bounds
            )
            SELECT g.user_id, g.bk AS ts,
                   round(last_value(ob.lastsv.v IGNORE NULLS)
                           OVER (PARTITION BY g.user_id ORDER BY g.bk
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value
            FROM grid g LEFT JOIN ob ON ob.user_id = g.user_id AND ob.bk = g.bk""",
        "label_encode": """
            WITH m AS (SELECT lang, row_number() OVER (ORDER BY lang) - 1 AS lang_id
                       FROM (SELECT DISTINCT lang FROM documents WHERE lang IS NOT NULL))
            SELECT d.doc_id, d.lang, m.lang_id
            FROM documents d LEFT JOIN m USING (lang)""",
        "frequency_encode": """
            WITH c AS (SELECT source, count(*) AS n FROM documents
                       WHERE source IS NOT NULL GROUP BY source)
            SELECT d.doc_id, d.source,
                   round(c.n / (SELECT sum(n) FROM c), 9) AS source_freq
            FROM documents d LEFT JOIN c USING (source)""",
        "minhash_estimate": f"""
WITH {_SHINGLES_CTE},
{_minhash_sigs_sql()},
pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
       WHERE a.doc_id % 2 = 0)
SELECT pr.id_a, pr.id_b,
       round(({" + ".join(f"(sa.mh{i} = sb.mh{i})::INT" for i in range(16))}) / 16.0, 6) AS jaccard_est
FROM pr JOIN sigs sa ON sa.doc_id = pr.id_a JOIN sigs sb ON sb.doc_id = pr.id_b""",
        "k_anonymity": """
            SELECT lang, source, count(*) AS group_size
            FROM documents GROUP BY lang, source HAVING count(*) < 5""",
        "fuzzy_join": """
            WITH src AS (SELECT doc_id, lower(trim(substr(text, 1, 40))) AS s
                         FROM documents),
            csh AS (SELECT doc_id,
                           unnest(CASE WHEN len(s) >= 2
                             THEN list_transform(range(1, len(s)), i -> substr(s, i, 2))
                             ELSE [s] END) AS shingle
                    FROM src),
            hp AS (SELECT doc_id,
                          ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
                          ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2 FROM csh),
            sigs AS (SELECT doc_id, min((h1 + 0 * h2) % 4294967311) AS mh0, min((h1 + 1 * h2) % 4294967311) AS mh1, min((h1 + 2 * h2) % 4294967311) AS mh2, min((h1 + 3 * h2) % 4294967311) AS mh3, min((h1 + 4 * h2) % 4294967311) AS mh4, min((h1 + 5 * h2) % 4294967311) AS mh5, min((h1 + 6 * h2) % 4294967311) AS mh6, min((h1 + 7 * h2) % 4294967311) AS mh7, min((h1 + 8 * h2) % 4294967311) AS mh8, min((h1 + 9 * h2) % 4294967311) AS mh9, min((h1 + 10 * h2) % 4294967311) AS mh10, min((h1 + 11 * h2) % 4294967311) AS mh11, min((h1 + 12 * h2) % 4294967311) AS mh12, min((h1 + 13 * h2) % 4294967311) AS mh13, min((h1 + 14 * h2) % 4294967311) AS mh14, min((h1 + 15 * h2) % 4294967311) AS mh15 FROM hp GROUP BY doc_id),
            bnd AS (SELECT doc_id, 0 AS band, md5(mh0::VARCHAR || '|' || mh1::VARCHAR) AS bkey FROM sigs
UNION ALL SELECT doc_id, 1 AS band, md5(mh2::VARCHAR || '|' || mh3::VARCHAR) AS bkey FROM sigs
UNION ALL SELECT doc_id, 2 AS band, md5(mh4::VARCHAR || '|' || mh5::VARCHAR) AS bkey FROM sigs
UNION ALL SELECT doc_id, 3 AS band, md5(mh6::VARCHAR || '|' || mh7::VARCHAR) AS bkey FROM sigs
UNION ALL SELECT doc_id, 4 AS band, md5(mh8::VARCHAR || '|' || mh9::VARCHAR) AS bkey FROM sigs
UNION ALL SELECT doc_id, 5 AS band, md5(mh10::VARCHAR || '|' || mh11::VARCHAR) AS bkey FROM sigs
UNION ALL SELECT doc_id, 6 AS band, md5(mh12::VARCHAR || '|' || mh13::VARCHAR) AS bkey FROM sigs
UNION ALL SELECT doc_id, 7 AS band, md5(mh14::VARCHAR || '|' || mh15::VARCHAR) AS bkey FROM sigs),
            cand AS (SELECT DISTINCT a.doc_id AS lid, b.doc_id AS rid
                     FROM bnd a JOIN bnd b ON a.band = b.band AND a.bkey = b.bkey
                     WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0)
            SELECT cand.lid, cand.rid,
                   levenshtein(sl.s, sr.s)::BIGINT AS edit_dist
            FROM cand JOIN src sl ON sl.doc_id = cand.lid
                      JOIN src sr ON sr.doc_id = cand.rid
            WHERE levenshtein(sl.s, sr.s) <= 5""",
        "ewm_mean": """
            -- adjust=True EWM mean is closed-form with NON-NEGATIVE
            -- exponents: y_t = sum w^(t-i) x_i / sum w^(t-i), w=19/21
            -- (span=20).  Quadratic within group — fine at the sf0.01
            -- oracle scale; weights decay by ROW POSITION (pandas
            -- ignore_na=False), with (user_id, ts) unique in testdata
            -- so the ordering is total.
            WITH t AS (
              SELECT user_id, ts, value,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
              FROM events
            )
            SELECT a.user_id, a.ts,
                   round(
                     sum(pow(19.0/21.0, a.rn - b.rn) * b.value)
                       FILTER (b.value IS NOT NULL AND NOT isnan(b.value))
                     / sum(pow(19.0/21.0, a.rn - b.rn))
                       FILTER (b.value IS NOT NULL AND NOT isnan(b.value)),
                     6) AS ewm_mean
            FROM t a JOIN t b ON a.user_id = b.user_id AND b.rn <= a.rn
            GROUP BY a.user_id, a.ts""",
        "ewm_mean_blocked": """
            WITH t AS (
              SELECT user_id, ts, value,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
              FROM events
            )
            SELECT a.user_id, a.ts,
                   round(
                     sum(pow(19.0/21.0, a.rn - b.rn) * b.value)
                       FILTER (b.value IS NOT NULL AND NOT isnan(b.value))
                     / sum(pow(19.0/21.0, a.rn - b.rn))
                       FILTER (b.value IS NOT NULL AND NOT isnan(b.value)),
                     6) AS ewm_mean
            FROM t a JOIN t b ON a.user_id = b.user_id AND b.rn <= a.rn
            GROUP BY a.user_id, a.ts""",
        "ewm_var_blocked": """
            -- four closed-form weighted sums over row positions
            -- (adjust=True, ignore_na=False), w = 19/21:
            -- var = (Sw*Swx2 - Swx^2)/(Sw^2 - Sw2), bias=False
            WITH t AS (
              SELECT user_id, ts, value,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
              FROM events
            ),
            s AS (
              SELECT a.user_id, a.ts,
                     sum(pow(19.0/21.0, a.rn - b.rn) * b.value)
                       FILTER (b.value IS NOT NULL AND NOT isnan(b.value)) AS swx,
                     sum(pow(19.0/21.0, a.rn - b.rn))
                       FILTER (b.value IS NOT NULL AND NOT isnan(b.value)) AS sw,
                     sum(pow(19.0/21.0, a.rn - b.rn) * b.value * b.value)
                       FILTER (b.value IS NOT NULL AND NOT isnan(b.value)) AS swx2,
                     sum(pow(pow(19.0/21.0, a.rn - b.rn), 2))
                       FILTER (b.value IS NOT NULL AND NOT isnan(b.value)) AS sw2
              FROM t a JOIN t b ON a.user_id = b.user_id AND b.rn <= a.rn
              GROUP BY a.user_id, a.ts
            )
            SELECT user_id, ts,
                   round(CASE WHEN sw * sw - sw2 > 0
                              THEN greatest((sw * swx2 - swx * swx)
                                            / (sw * sw - sw2), 0)
                         END, 6) AS ewm_var
            FROM s""",
        "ewm_adjf_blocked": """
            -- adjust=False, ignore_na=True: gaps are skipped, so the
            -- mean is a weighted sum over VALID-rank positions v with
            -- weights a*b^(V-v), except the first valid observation
            -- which keeps weight b^(V-1) (pandas weight-1 seed); the
            -- weights sum to exactly 1, so no denominator.
            WITH t AS (
              SELECT user_id, ts, value,
                     count(*) FILTER (WHERE value IS NOT NULL
                                        AND NOT isnan(value))
                       OVER (PARTITION BY user_id ORDER BY ts) AS vn
              FROM events
            ),
            v AS (SELECT user_id, vn, value FROM t
                  WHERE value IS NOT NULL AND NOT isnan(value))
            SELECT a.user_id, a.ts,
                   round(sum(pow(19.0/21.0, a.vn - b.vn) *
                             (CASE WHEN b.vn = 1 THEN 1.0
                                   ELSE 2.0/21.0 END) * b.value), 6)
                     AS ewm_mean
            FROM t a LEFT JOIN v b
              ON a.user_id = b.user_id AND b.vn <= a.vn AND a.vn > 0
            GROUP BY a.user_id, a.ts""",
        "winsorize": """
            WITH q AS (SELECT l_returnflag,
                              quantile_cont(l_extendedprice, 0.05) AS lo,
                              quantile_cont(l_extendedprice, 0.95) AS hi
                       FROM lineitem GROUP BY l_returnflag)
            SELECT l_orderkey, l_linenumber,
                   round(least(greatest(l_extendedprice::DOUBLE, lo), hi), 6) AS v_w
            FROM lineitem JOIN q USING (l_returnflag)""",
        "rank_pct": """
            SELECT l_orderkey, l_linenumber,
                   round((rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                          + (count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0)
                         / count(l_extendedprice) OVER (PARTITION BY l_returnflag), 9)
                     AS rnk_pct
            FROM lineitem""",
        "value_counts": """
            WITH c AS (SELECT source, lang, count(*) AS n FROM documents
                       WHERE lang IS NOT NULL AND source IS NOT NULL
                       GROUP BY source, lang)
            SELECT source, lang,
                   round(n / (sum(n) OVER (PARTITION BY source)), 9) AS share
            FROM c""",
        "rank_avg": """
            SELECT l_orderkey, l_linenumber,
                   rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                   + (count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0
                     AS rnk
            FROM lineitem""",
        "rank_avg_blocked": """
            SELECT l_orderkey, l_linenumber,
                   rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                   + (count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1) / 2.0
                     AS rnk
            FROM lineitem""",
        "pivot_sum": """
            SELECT l_returnflag,
                   round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS sum_f,
                   round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS sum_o
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
        "minhash_against": _minhash_against_oracle(),
        "dedup_lines": """
            WITH lines AS (
              SELECT doc_id, w[i] AS line, i AS pos
              FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
                    FROM documents) t,
                   unnest(range(1, len(w) + 1)) AS r(i)
            ),
            ranked AS (
              SELECT doc_id, line, pos,
                     row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
              FROM lines
            ),
            kept AS (
              SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text_clean
              FROM ranked
              WHERE length(trim(line)) < 4 OR rn = 1
              GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(k.text_clean, '') AS text_clean
            FROM documents d LEFT JOIN kept k USING (doc_id)""",
        "dup_spans": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
              FROM documents
            ),
            wins AS (
              SELECT doc_id, i::INTEGER AS pos,
                     array_to_string(w[i:i+7], ' ') AS g
              FROM toks, unnest(range(1, len(w) - 8 + 2)) AS r(i)
              WHERE len(w) >= 8
            ),
            dup AS (SELECT g FROM wins GROUP BY g HAVING count(*) >= 2),
            marked AS (
              SELECT doc_id, pos FROM wins WHERE g IN (SELECT g FROM dup)
            ),
            lagged AS (
              SELECT doc_id, pos,
                     lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lp
              FROM marked
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN pos - lp > 8 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM lagged
            )
            SELECT doc_id, min(pos) AS span_start,
                   (max(pos) + 7)::INTEGER AS span_end,
                   (max(pos) + 7 - min(pos) + 1)::INTEGER AS n_tokens
            FROM isl GROUP BY doc_id, island""",
        "dup_spans_removed": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
              FROM documents
            ),
            wins AS (
              SELECT doc_id, i::INTEGER AS pos,
                     array_to_string(w[i:i+7], ' ') AS g
              FROM toks, unnest(range(1, len(w) - 8 + 2)) AS r(i)
              WHERE len(w) >= 8
            ),
            ranked AS (
              SELECT doc_id, pos,
                     count(*) OVER (PARTITION BY g) AS c,
                     row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
              FROM wins
            ),
            marked AS (SELECT doc_id, pos FROM ranked WHERE c >= 2 AND rn > 1),
            lagged AS (
              SELECT doc_id, pos,
                     lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lp
              FROM marked
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN pos - lp > 8 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM lagged
            ),
            spans AS (
              SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
              FROM isl GROUP BY doc_id, island
            ),
            otoks AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
              FROM documents
            ),
            tokens AS (
              SELECT doc_id, i::INTEGER AS i, w[i] AS tok
              FROM otoks, unnest(range(1, len(w) + 1)) AS r(i)
            ),
            keep AS (
              SELECT t.doc_id, t.i, t.tok
              FROM tokens t LEFT JOIN spans s
                ON t.doc_id = s.doc_id
               AND t.i BETWEEN s.span_start AND s.span_end
              WHERE s.doc_id IS NULL
            )
            SELECT d.doc_id, coalesce(k.text_clean, '') AS text_clean
            FROM documents d LEFT JOIN (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_clean
              FROM keep GROUP BY doc_id
            ) k USING (doc_id)""",
        "dup_spans_against": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
              FROM documents
            ),
            wins AS (
              SELECT doc_id, i::INTEGER AS pos,
                     array_to_string(w[i:i+7], ' ') AS g
              FROM toks, unnest(range(1, len(w) - 8 + 2)) AS r(i)
              WHERE len(w) >= 8
            ),
            refg AS (SELECT DISTINCT g FROM wins WHERE doc_id % 2 = 0),
            marked AS (
              SELECT doc_id, pos FROM wins
              WHERE doc_id % 2 = 1 AND g IN (SELECT g FROM refg)
            ),
            lagged AS (
              SELECT doc_id, pos,
                     lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lp
              FROM marked
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN pos - lp > 8 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM lagged
            )
            SELECT doc_id, min(pos) AS span_start,
                   (max(pos) + 7)::INTEGER AS span_end,
                   (max(pos) + 7 - min(pos) + 1)::INTEGER AS n_tokens
            FROM isl GROUP BY doc_id, island""",
        "decontaminate_spans": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
              FROM documents
            ),
            wins AS (
              SELECT doc_id, i::INTEGER AS pos,
                     array_to_string(w[i:i+7], ' ') AS g
              FROM toks, unnest(range(1, len(w) - 8 + 2)) AS r(i)
              WHERE len(w) >= 8
            ),
            refg AS (SELECT DISTINCT g FROM wins WHERE doc_id % 2 = 0),
            marked AS (
              SELECT doc_id, pos FROM wins
              WHERE doc_id % 2 = 1 AND g IN (SELECT g FROM refg)
            ),
            lagged AS (
              SELECT doc_id, pos,
                     lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lp
              FROM marked
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN pos - lp > 8 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM lagged
            ),
            spans AS (
              SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end
              FROM isl GROUP BY doc_id, island
            ),
            otoks AS (
              SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
              FROM documents WHERE doc_id % 2 = 1
            ),
            tokens AS (
              SELECT doc_id, i::INTEGER AS i, w[i] AS tok
              FROM otoks, unnest(range(1, len(w) + 1)) AS r(i)
            ),
            keep AS (
              SELECT t.doc_id, t.i, t.tok
              FROM tokens t LEFT JOIN spans s
                ON t.doc_id = s.doc_id
               AND t.i BETWEEN s.span_start AND s.span_end
              WHERE s.doc_id IS NULL
            )
            SELECT d.doc_id, coalesce(k.text_clean, '') AS text_clean
            FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
            LEFT JOIN (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_clean
              FROM keep GROUP BY doc_id
            ) k USING (doc_id)""",
        "quantile_refine": """
            SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
        "binned_left": """
            WITH binned AS (
              SELECT CASE
                       WHEN l_quantity >= 0 AND l_quantity < 10 THEN 0
                       WHEN l_quantity >= 10 AND l_quantity < 20 THEN 1
                       WHEN l_quantity >= 20 AND l_quantity < 30 THEN 2
                       WHEN l_quantity >= 30 AND l_quantity < 51 THEN 3
                     END AS l_quantity_bin,
                     l_extendedprice
              FROM lineitem)
            SELECT b.l_quantity_bin,
                   round(coalesce(m, 0.0), 4) AS mean_price
            FROM (VALUES (0), (1), (2), (3)) b(l_quantity_bin)
            LEFT JOIN (SELECT l_quantity_bin, avg(l_extendedprice) AS m
                       FROM binned WHERE l_quantity_bin IS NOT NULL
                       GROUP BY l_quantity_bin) g USING (l_quantity_bin)""",
        "quantile_sort": """
            SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
            FROM lineitem GROUP BY l_returnflag""",
        "quantile_vector": """
            SELECT l_returnflag,
                   unnest([0.25::DOUBLE, 0.5::DOUBLE, 0.9::DOUBLE]) AS q,
                   round(unnest(quantile_cont(l_extendedprice, [0.25, 0.5, 0.9])), 6) AS p_price
            FROM lineitem GROUP BY l_returnflag""",
        "first": """
            SELECT user_id, first(value ORDER BY event_id) AS first_value
            FROM events WHERE value IS NOT NULL GROUP BY user_id""",
        "last": """
            SELECT user_id, last(value ORDER BY event_id) AS last_value
            FROM events WHERE value IS NOT NULL GROUP BY user_id""",
        "argmax": """
            SELECT user_id, (list(event_id ORDER BY value DESC, event_id ASC))[1] AS argmax_event
            FROM events WHERE value IS NOT NULL GROUP BY user_id""",
        "argmin": """
            SELECT user_id, (list(event_id ORDER BY value ASC, event_id ASC))[1] AS argmin_event
            FROM events WHERE value IS NOT NULL GROUP BY user_id""",
        "first_plain": """
            SELECT user_id,
                   coalesce(first(CASE WHEN event_id % 211 = 0 THEN NULL ELSE value END
                                  ORDER BY event_id), 'NaN'::DOUBLE) AS first_value
            FROM events GROUP BY user_id""",
        "argmax_plain": """
            WITH g AS (SELECT user_id, event_id,
                              CASE WHEN event_id % 211 = 0 THEN NULL ELSE value END AS v
                       FROM events)
            SELECT user_id,
                   CASE WHEN count(*) FILTER (WHERE v IS NULL) > 0
                        THEN min(event_id) FILTER (WHERE v IS NULL)
                        ELSE (list(event_id ORDER BY v DESC, event_id ASC))[1]
                   END AS argmax_event
            FROM g GROUP BY user_id""",
        "min_plain": """
            WITH g AS (SELECT user_id,
                              CASE WHEN event_id % 211 = 0 THEN NULL ELSE value END AS v
                       FROM events)
            SELECT user_id,
                   CASE WHEN count(*) FILTER (WHERE v IS NULL) > 0 THEN 'NaN'::DOUBLE
                        ELSE min(v) END AS min_value
            FROM g GROUP BY user_id""",
        "mode_plain": """
            WITH g AS (SELECT user_id,
                              CASE WHEN event_id % 211 = 0 THEN NULL
                                   ELSE (floor(value)::BIGINT % 5)::DOUBLE END AS v
                       FROM events),
            counts AS (SELECT user_id, v, count(*) AS c FROM g
                       WHERE v IS NOT NULL GROUP BY user_id, v),
            m AS (SELECT user_id, (list(v ORDER BY c DESC, v ASC))[1] AS mode_v
                  FROM counts GROUP BY user_id),
            miss AS (SELECT user_id, bool_or(v IS NULL) AS has_miss FROM g GROUP BY user_id)
            SELECT miss.user_id,
                   CASE WHEN has_miss THEN 'NaN'::DOUBLE ELSE mode_v END AS mode_value
            FROM miss LEFT JOIN m ON miss.user_id = m.user_id""",
        "any": """
            SELECT event_type, coalesce(bool_or(value > 100.0), FALSE) AS any_big
            FROM events GROUP BY event_type""",
        "all": """
            SELECT event_type, coalesce(bool_and(value > 0.0), FALSE) AS all_pos
            FROM events GROUP BY event_type""",
        "mode": """
            SELECT o_orderstatus, (list(val ORDER BY c DESC, val ASC))[1] AS mode_prio
            FROM (SELECT o_orderstatus, o_orderpriority AS val, count(*) AS c
                  FROM orders WHERE o_orderpriority IS NOT NULL
                  GROUP BY o_orderstatus, o_orderpriority)
            GROUP BY o_orderstatus""",
        "binned_count": """
            WITH binned AS (
              SELECT CASE
                       WHEN l_quantity > 0 AND l_quantity <= 10 THEN 0
                       WHEN l_quantity > 10 AND l_quantity <= 20 THEN 1
                       WHEN l_quantity > 20 AND l_quantity <= 30 THEN 2
                       WHEN l_quantity > 30 AND l_quantity <= 50 THEN 3
                     END AS l_quantity_bin,
                     l_extendedprice
              FROM lineitem)
            SELECT b.l_quantity_bin, coalesce(cnt, 0) AS cnt
            FROM (VALUES (0),(1),(2),(3)) b(l_quantity_bin)
            LEFT JOIN (SELECT l_quantity_bin, count(l_extendedprice) AS cnt
                       FROM binned WHERE l_quantity_bin IS NOT NULL
                       GROUP BY l_quantity_bin) g USING (l_quantity_bin)""",
        "binned_labels": """
            WITH binned AS (
              SELECT CASE
                       WHEN l_quantity > 0 AND l_quantity <= 10 THEN 0
                       WHEN l_quantity > 10 AND l_quantity <= 20 THEN 1
                       WHEN l_quantity > 20 AND l_quantity <= 30 THEN 2
                       WHEN l_quantity > 30 AND l_quantity <= 50 THEN 3
                     END AS l_quantity_bin,
                     l_extendedprice
              FROM lineitem)
            SELECT b.l_quantity_bin,
                   b.bl::DOUBLE AS l_quantity_bin_left,
                   b.br::DOUBLE AS l_quantity_bin_right,
                   round(coalesce(m, 0.0), 4) AS mean_price
            FROM (VALUES (0, 0.0, 10.0), (1, 10.0, 20.0),
                         (2, 20.0, 30.0), (3, 30.0, 50.0))
                 b(l_quantity_bin, bl, br)
            LEFT JOIN (SELECT l_quantity_bin, avg(l_extendedprice) AS m
                       FROM binned WHERE l_quantity_bin IS NOT NULL
                       GROUP BY l_quantity_bin) g USING (l_quantity_bin)""",
        "binned_datetime": """
            WITH binned AS (
              SELECT CASE
                       WHEN ts > TIMESTAMP '2024-01-01' AND ts <= TIMESTAMP '2024-01-08' THEN 0
                       WHEN ts > TIMESTAMP '2024-01-08' AND ts <= TIMESTAMP '2024-01-15' THEN 1
                       WHEN ts > TIMESTAMP '2024-01-15' AND ts <= TIMESTAMP '2024-01-22' THEN 2
                       WHEN ts > TIMESTAMP '2024-01-22' AND ts <= TIMESTAMP '2024-01-29' THEN 3
                       WHEN ts > TIMESTAMP '2024-01-29' AND ts <= TIMESTAMP '2024-02-05' THEN 4
                     END AS ts_bin, value
              FROM events)
            SELECT b.ts_bin, coalesce(cnt, 0) AS cnt
            FROM (VALUES (0),(1),(2),(3),(4)) b(ts_bin)
            LEFT JOIN (SELECT ts_bin, count(value) AS cnt FROM binned
                       WHERE ts_bin IS NOT NULL GROUP BY ts_bin) g USING (ts_bin)""",
        "expected_fill": """
            SELECT g.l_returnflag, g.l_linestatus, coalesce(s.sum_qty, 0.0) AS sum_qty
            FROM (SELECT rf.f AS l_returnflag, ls.s AS l_linestatus
                  FROM (VALUES ('A'),('N'),('R'),('Z')) rf(f)
                  CROSS JOIN (VALUES ('F'),('O')) ls(s)) g
            LEFT JOIN (SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty
                       FROM lineitem GROUP BY l_returnflag, l_linestatus) s
            USING (l_returnflag, l_linestatus)""",
        "dayofyear_mean": """
            SELECT dayofyear(ts) AS doy, round(avg(value), 6) AS avg_value
            FROM events WHERE ts IS NOT NULL GROUP BY 1""",
        "multiby_highcard": """
            SELECT user_id, event_type, round(sum(value), 6) AS sum_value
            FROM events GROUP BY user_id, event_type""",
        "highcard_random": """
            SELECT l_partkey, coalesce(sum(l_quantity), 0) AS sum_qty
            FROM lineitem GROUP BY l_partkey""",
        "json_extract": """
            SELECT event_type, round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 9) AS avg_k
            FROM events GROUP BY event_type""",
        "monthhour_sum": """
            SELECT month(ts) AS month, hour(ts) AS hour, round(sum(value), 6) AS sum_value
            FROM events WHERE ts IS NOT NULL GROUP BY 1, 2""",
        "scan_cumsum": """
            SELECT event_id, user_id,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id), 6) AS cum_value
            FROM events""",
        "scan_cumcount": """
            SELECT event_id, user_id,
                   count(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END)
                     OVER (PARTITION BY user_id ORDER BY event_id) AS cum_cnt
            FROM events""",
        "scan_ffill": """
            SELECT event_id, user_id,
                   last_value(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
            FROM events""",
        "scan_bfill": """
            SELECT event_id, user_id,
                   first_value(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_filled
            FROM events""",
        "sessionize": """
            SELECT event_id, user_id,
                   (sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) - 1)::BIGINT AS session_id
            FROM (
              SELECT event_id, user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR date_diff('microseconds', lag(ts) OVER w, ts) > 3600000000
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""",
        "session_stats": """
            WITH b AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR date_diff('microseconds', lag(ts) OVER w, ts) > 3600000000
                          THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT user_id, ts, value,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
              FROM b
            )
            SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
                   count(*) AS n_events,
                   date_diff('microseconds', min(ts), max(ts)) AS duration_us,
                   round(sum(value), 6) AS sum_value
            FROM s GROUP BY user_id, sid""",
        # hash-gated Bernoulli: threshold = floor(0.25 * 16^12) in hex
        "sample_bernoulli": """
            SELECT l_orderkey, l_linenumber
            FROM lineitem
            WHERE substr(md5(l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR || ':a'),
                         1, 12) < '400000000000'""",
        "sample_group": """
            SELECT doc_id, lang FROM documents
            QUALIFY row_number() OVER (
                PARTITION BY lang
                ORDER BY md5(doc_id::VARCHAR || ':x'), doc_id) <= 20""",
        "transform_mean": """
            SELECT event_id, user_id,
                   round(avg(value) OVER (PARTITION BY user_id), 6) AS mean_v
            FROM events""",
        # en threshold = floor(0.2 * 16^12) = 0x333333333333
        "sample_stratified": """
            SELECT doc_id, lang FROM documents
            WHERE lang = 'de'
               OR (lang = 'en'
                   AND substr(md5(doc_id::VARCHAR || ':t'), 1, 12) < '333333333333')""",
        "sample_weighted": """
            SELECT doc_id, lang FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 0
            QUALIFY row_number() OVER (
                PARTITION BY lang
                ORDER BY (ln(((('0x' || substr(md5(doc_id::VARCHAR || ':w'), 1, 12))::BIGINT
                               + 0.5) / 281474976710656.0))
                          / n_chars::DOUBLE) DESC, doc_id) <= 10""",
        # threshold = floor(0.2 * 16^12) = 0x333333333333
        "split_train_test": """
            SELECT doc_id,
                   CASE WHEN substr(md5(doc_id::VARCHAR || ':s'), 1, 12) < '333333333333'
                        THEN 'test' ELSE 'train' END AS split
            FROM documents""",
        "asof_join": """
            SELECT l.event_id, l.user_id, r.ts AS p_ts, r.event_id AS p_event
            FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
            ASOF LEFT JOIN
                 (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.ts""",
        "grouped_topk": """
            SELECT o_orderstatus, o_orderkey, o_totalprice
            FROM orders
            QUALIFY row_number() OVER (
                PARTITION BY o_orderstatus
                ORDER BY o_totalprice DESC, o_orderkey) <= 3""",
        "nunique": """
            SELECT user_id, count(DISTINCT event_type) AS n_types
            FROM events GROUP BY user_id ORDER BY user_id""",
        "nunique_plain": """
            SELECT user_id,
                   count(DISTINCT CASE WHEN event_id % 211 = 0 THEN NULL ELSE value END)
                   + max(CASE WHEN event_id % 211 = 0 THEN 1 ELSE 0 END) AS n_vals
            FROM events GROUP BY user_id ORDER BY user_id""",
        "redact_pii": r"""
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         'mail bob' || doc_id::VARCHAR || '@ex-a.com visit https://h'
                           || doc_id::VARCHAR || '.org/p?x=1 call 555-123-4567 ' || text,
                         'https?://[^\s]+', '<REDACTED>', 'g'),
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<REDACTED>', 'g'),
                     '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<REDACTED>', 'g') AS text
            FROM documents""",
        "boilerplate": """
            WITH base AS (
              SELECT doc_id, regexp_replace(text, ' table ', chr(10), 'g') AS t2
              FROM documents
            ), lines AS (
              SELECT doc_id,
                     unnest(string_split(t2, chr(10))) AS line,
                     generate_subscripts(string_split(t2, chr(10)), 1) AS pos
              FROM base
            ), normed AS (
              SELECT doc_id, pos, line, lower(trim(line)) AS norm FROM lines
            ), freq AS (
              SELECT norm, count(DISTINCT doc_id) AS dfc FROM normed GROUP BY norm
            )
            SELECT b.doc_id,
                   coalesce(string_agg(n.line, chr(10) ORDER BY n.pos), '') AS text_clean
            FROM base b
            LEFT JOIN (SELECT normed.* FROM normed JOIN freq USING (norm)
                       WHERE freq.dfc < 3) n
              ON b.doc_id = n.doc_id
            GROUP BY b.doc_id""",
        "funnel": """
            WITH a AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
            b AS (SELECT user_id, ts AS bts FROM events WHERE event_type = 'purchase'),
            j AS (
              SELECT a.user_id, a.ts,
                     CASE WHEN b.bts IS NOT NULL
                           AND date_diff('microseconds', a.ts, b.bts) <= 21600000000
                          THEN b.bts END AS bts
              FROM a ASOF LEFT JOIN b ON a.user_id = b.user_id AND a.ts <= b.bts
            )
            SELECT user_id, count(*) AS n_start, count(bts) AS n_converted,
                   round(count(bts)::DOUBLE / count(*), 4) AS conversion_rate,
                   floor(avg(date_diff('microseconds', ts, bts)))::BIGINT AS mean_delay_us
            FROM j GROUP BY user_id""",
        "funnel_path": """
            WITH s0 AS (SELECT user_id, ts AS t0 FROM events WHERE event_type = 'click'),
            s1 AS (SELECT user_id, ts AS t1 FROM events WHERE event_type = 'purchase'),
            s2 AS (SELECT user_id, ts AS t2 FROM events WHERE event_type = 'signup'),
            j1 AS (
              SELECT s0.user_id, t0,
                     CASE WHEN t1 IS NOT NULL
                           AND date_diff('microseconds', t0, t1) <= 43200000000
                          THEN t1 END AS t1
              FROM s0 ASOF LEFT JOIN s1
                ON s0.user_id = s1.user_id AND s0.t0 <= s1.t1
            ), j2 AS (
              SELECT j1.user_id, t0, j1.t1,
                     CASE WHEN t2 IS NOT NULL
                           AND date_diff('microseconds', j1.t1, t2) <= 43200000000
                          THEN t2 END AS t2
              FROM j1 ASOF LEFT JOIN s2
                ON j1.user_id = s2.user_id AND j1.t1 <= s2.t2
            )
            SELECT user_id, count(*) AS n_step0,
                   count(t1) AS n_step1,
                   round(count(t1)::DOUBLE / count(*), 6) AS rate_step1,
                   count(t2) AS n_step2,
                   round(count(t2)::DOUBLE / count(*), 6) AS rate_step2
            FROM j2 GROUP BY user_id""",
        "kmeans": """
            WITH seeds AS (
              SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR || ':0')) - 1 AS cid,
                     embedding
              FROM embeddings ORDER BY md5(vec_id::VARCHAR || ':0') LIMIT 4
            ), scored AS (
              SELECT e.vec_id, s.cid, e.embedding,
                     list_sum(list_transform(range(0, 64),
                       i -> (e.embedding[i+1]::DOUBLE - s.embedding[i+1]::DOUBLE)
                          * (e.embedding[i+1]::DOUBLE - s.embedding[i+1]::DOUBLE))) AS d
              FROM embeddings e, seeds s
            ), best AS (
              SELECT vec_id, cid, embedding FROM scored
              QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
            ), pts AS (
              SELECT cid,
                     unnest(embedding)::DOUBLE AS x,
                     generate_subscripts(embedding, 1) - 1 AS pos
              FROM best
            )
            SELECT cid AS cluster, pos::BIGINT AS pos, round(avg(x), 6) AS val
            FROM pts GROUP BY cid, pos""",
        # same one-pass formula as the engine so rounding is stable
        "range_join": """
            WITH iv AS (
              SELECT n_nationkey AS iid,
                     n_nationkey * 400.0 - 1000.0 AS lo,
                     n_nationkey * 400.0 - 550.0 AS hi
              FROM nation
            )
            SELECT c_custkey, iid
            FROM customer JOIN iv
              ON c_acctbal::DOUBLE >= lo AND c_acctbal::DOUBLE <= hi""",
        "heavy_hitters": """
            SELECT tok AS item, count(*)::BIGINT AS n
            FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
                  FROM documents WHERE text IS NOT NULL)
            WHERE tok IS NOT NULL
            GROUP BY tok HAVING count(*) >= 200""",
        "chunk_docs": """
            WITH t AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents
              WHERE text IS NOT NULL AND trim(text) != ''
            ), s AS (
              SELECT doc_id, toks, len(toks) AS n,
                     unnest(range(0, ((len(toks) - 1) // 24) + 1)) AS cid
              FROM t
            )
            SELECT doc_id, cid::INT AS chunk_id,
                   array_to_string(toks[cid*24 + 1 : cid*24 + 32], ' ') AS chunk_text,
                   least(32, n - cid*24)::INT AS n_tokens
            FROM s""",
        "embed_pool": """
            WITH pts AS (
              SELECT vec_id % 100 AS grp,
                     unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) - 1 AS pos
              FROM embeddings
            )
            SELECT grp, pos::INT AS pos, round(avg(x::DOUBLE), 6) AS value
            FROM pts GROUP BY grp, pos""",
        "profile": """
            WITH w AS (
              SELECT count(*)::BIGINT AS n,
                     sum((l_orderkey IS NULL)::BIGINT)::BIGINT AS nn1,
                     min(l_orderkey)::VARCHAR AS mn1, max(l_orderkey)::VARCHAR AS mx1,
                     sum((l_quantity IS NULL)::BIGINT)::BIGINT AS nn2,
                     min(l_quantity)::VARCHAR AS mn2, max(l_quantity)::VARCHAR AS mx2,
                     sum((l_returnflag IS NULL)::BIGINT)::BIGINT AS nn3,
                     min(l_returnflag)::VARCHAR AS mn3, max(l_returnflag)::VARCHAR AS mx3
              FROM lineitem)
            SELECT 'l_orderkey' AS column, n AS n_rows, nn1 AS n_null,
                   round(CASE WHEN n > 0 THEN nn1 / n ELSE 0.0 END, 9) AS null_frac,
                   mn1 AS min_str, mx1 AS max_str FROM w
            UNION ALL
            SELECT 'l_quantity', n, nn2,
                   round(CASE WHEN n > 0 THEN nn2 / n ELSE 0.0 END, 9),
                   mn2, mx2 FROM w
            UNION ALL
            SELECT 'l_returnflag', n, nn3,
                   round(CASE WHEN n > 0 THEN nn3 / n ELSE 0.0 END, 9),
                   mn3, mx3 FROM w""",
        "quality_report": f"""
            WITH b AS (SELECT doc_id, text, {_TOKS} AS toks, length(text) AS n_chars FROM documents),
            m AS (SELECT doc_id, n_chars, len(toks) AS n_tokens,
                         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
                         len(list_filter(toks, t -> t IN ({_EN_SW}))) AS n_stop
                  FROM b),
            r AS (SELECT doc_id,
                   CASE WHEN NOT coalesce(n_tokens >= 5 AND n_tokens <= 100000, false) THEN 'n_tokens'
                        WHEN NOT coalesce(n_tokens > 0 AND (n_chars - (n_tokens - 1)) / n_tokens >= 3.0
                                  AND (n_chars - (n_tokens - 1)) / n_tokens <= 12.0, false) THEN 'mean_tok_len'
                        WHEN NOT coalesce((CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) <= 0.1, false) THEN 'punct_ratio'
                        WHEN NOT coalesce((CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END) >= 0.05, false) THEN 'stop_ratio'
                        ELSE 'kept' END AS outcome
                  FROM m)
            SELECT outcome, count(*)::BIGINT AS n FROM r GROUP BY outcome""",
        "decontaminate": """
            WITH {SHINGLES},
            bench AS (SELECT DISTINCT shingle FROM sh
                      WHERE doc_id % 50 = 0 AND shingle != ''),
            hits AS (SELECT s.doc_id, count(DISTINCT s.shingle) AS n_shared
                     FROM sh s JOIN bench b USING (shingle)
                     WHERE s.shingle != ''
                     GROUP BY s.doc_id)
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM hits WHERE n_shared >= 5)""".replace("{SHINGLES}", _SHINGLES_CTE),
        "salted_sum": """
            SELECT l_orderkey, coalesce(sum(l_quantity::DOUBLE), 0.0) AS sum_qty
            FROM lineitem GROUP BY l_orderkey""",
        "weighted_mean": """
            SELECT l_returnflag,
                   round(sum(l_quantity::DOUBLE * l_extendedprice::DOUBLE)
                           / sum(l_quantity::DOUBLE), 4) AS wmean_price
            FROM lineitem GROUP BY l_returnflag""",
        # same min-anchored shifted formula as the engine (weighted.py):
        # variance is shift-invariant, and anchoring makes both engines'
        # doubles agree to far below the rounding granularity
        "weighted_var": """
            WITH t AS (
              SELECT l_returnflag,
                     l_extendedprice::DOUBLE AS x,
                     l_quantity::DOUBLE AS w,
                     min(l_extendedprice::DOUBLE)
                       OVER (PARTITION BY l_returnflag) AS a
              FROM lineitem
            )
            SELECT l_returnflag,
                   round(sum(w * (x - a) * (x - a)) / sum(w)
                         - (sum(w * (x - a)) / sum(w))
                           * (sum(w * (x - a)) / sum(w)),
                         2) AS wvar_price
            FROM t GROUP BY l_returnflag""",
        "frame_sample": """
            WITH m AS (
              SELECT doc_id AS media_id, text, (1 + doc_id % 5)::INT AS nf
              FROM documents
            ), f AS (
              SELECT media_id, text, nf,
                     greatest(strlen(text) // nf, 1) AS fs,
                     unnest(range(0, nf)) AS frame_idx
              FROM m
            )
            SELECT media_id, frame_idx::INT AS frame_idx,
                   strlen(substr(text, (frame_idx * fs + 1)::BIGINT, fs::BIGINT))::BIGINT
                     AS frame_bytes,
                   md5(substr(text, (frame_idx * fs + 1)::BIGINT, fs::BIGINT)) AS frame_md5
            FROM f WHERE frame_idx % 2 = 0""",
    })
    return out
