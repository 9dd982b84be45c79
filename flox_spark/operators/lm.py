"""N-gram language-model perplexity scoring — the CCNet/RedPajama
quality-filtering step ("drop documents a reference LM finds
surprising") re-expressed as pure DataFrame ops.

Beyond the reference's surface (BASELINE.json north star).  The
classic pipeline trains a KenLM model on a clean reference corpus and
filters the crawl by per-document perplexity; the statistical core —
an add-k-smoothed word bigram model — is a pair of count aggregates
plus one join, fully declarative:

    train:  bigram counts C(w1, w2) and context counts C(w1) over the
            reference corpus (two hash aggregates, vocab-sized output)
    score:  each document's bigrams left-join the count tables;
            log P(w2 | w1) = ln((C(w1,w2) + k) / (C(w1) + k*V));
            perplexity = exp(-mean log P) per doc (one aggregate)

Scale posture (100 TB corpus, reference-sized model):
- training touches the REFERENCE corpus only; outputs are vocab- and
  bigram-type-sized, not corpus-sized.
- scoring shuffles on the bigram key only when the model is too big
  to broadcast; AQE sees the model's RUNTIME size and converts the
  count joins to broadcast for any curated-reference model, so
  scoring is a pure map-side pipeline over the crawl — zero corpus
  shuffles except the per-doc mean (one hash aggregate on doc_id).
- SMALL models (stats-gated) are collected ONCE to the driver and
  re-enter the plan as an Arrow-built LocalRelation lookup with V as
  a literal — zero model actions inside the scoring query, and the
  broadcast of a local relation costs no Spark job, so scoring a
  100 TB crawl against a curated reference model is a pure map-side
  pipeline.  Past the gate (or ``broadcast_model=False``) the model
  stays distributed and V rides the plan as a broadcast one-row
  frame (no driver collect) — fully lazy.

Smoothing: add-k over the vocabulary (unknown bigram -> k / (C(w1) +
k*V); unknown context -> 1/V).  Documents with fewer than 2 tokens
have no bigrams and score NULL (no evidence either way) — filter
treats NULL as "keep", matching the quality-filter convention that
absence of signal never drops a document silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flox_spark.operators.dedup import _word_tokens
from flox_spark.plans import ensure_parallelism

__all__ = ["doc_perplexity", "perplexity_filter", "train_bigram_lm"]


def _doc_bigrams(
    df: DataFrame, id_col: str, text_col: str, keep_empty_docs: bool = False
) -> DataFrame:
    """(id, w1, w2) rows — one per bigram OCCURRENCE (counts weigh
    repeats, like any LM).  Tokens staged in their own select (the
    shingle pipeline's discipline).  The empty-token guard runs INSIDE
    the pair array (identical result to the old post-explode filter),
    so ``keep_empty_docs=True`` can ``explode_outer`` and emit exactly
    ONE (id, NULL, NULL) row for a doc with no valid bigrams — the
    scoring aggregate then covers every document in a single pass,
    with no second corpus-wide distinct + re-attach join."""
    # min_bytes gate at 256 KB, NOT ensure_parallelism's cheap-work
    # 8 MB: plan stats report COMPRESSED parquet bytes and text
    # compresses ~5-10x, while tokenize+explode+model-join is regex +
    # log work per UNCOMPRESSED byte — measured r10 on a 1 MB-stats/
    # 50k-doc corpus: the skipped fan-out left tokenization on ONE
    # task, 3.6 s vs 0.7 s repartitioned (doc_perplexity 0.8 -> 0.4).
    # r13 lowered 1 MB -> 256 KB from a per-job decomposition at the
    # sf0.1 bench shape (0.58 MB stats = ~1.5M bigram occurrences):
    # the un-fanned plan ran the whole explode+join+score pipeline as
    # ONE AQE-coalesced task, 0.5-1.1 s serial; fanned, the
    # perplexity_filter wall dropped 1.42 -> 1.03 s (best-of-5,
    # quiet).  A keyed pin on the per-doc aggregate instead was
    # measured WORSE (extra exchange, 1.7 s) — the CPU lives in the
    # map side, so the scan fan is the right knob.
    toks = ensure_parallelism(df, min_bytes=256 << 10).select(
        F.col(id_col), _word_tokens(text_col).alias("__t")
    )
    # ONE expr string: the nested transform/filter built from Python
    # lambdas costs ~0.2 s of py4j round trips per plan build (the
    # similarity._dot discipline)
    valid = F.expr(
        "filter(CASE WHEN size(__t) >= 2 THEN "
        "transform(sequence(0, size(__t) - 2), "
        "i -> struct(__t[i] AS w1, __t[i + 1] AS w2)) "
        "ELSE array() END, s -> s.w1 != '' AND s.w2 != '')"
    )
    ex = F.explode_outer(valid) if keep_empty_docs else F.explode(valid)
    return toks.select(F.col(id_col), ex.alias("bg")).select(
        id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )


def train_bigram_lm(
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    _bg: DataFrame | None = None,
    _small: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fit the count model: returns (bigrams, contexts, vocab_size) —
    (w1, w2, c) bigram counts, (w1, c1) context counts, and a ONE-ROW
    frame with the vocabulary size V (distinct tokens, either
    position).  All three are aggregates of the reference corpus; keep
    them (e.g. ``write_table``) to score many batches against one
    model.

    ONE corpus-sized aggregate: only the bigram-type counts touch the
    reference corpus; the context counts are the bigram counts summed
    over w2 (C(w1) = sum_w2 C(w1, w2) — identical by definition) and
    the vocabulary is the distinct words of the bigram TYPES — both
    aggregates over the vocab-sized count frame, never the corpus.
    The count frame is materialized (``materialize_shared``) so its
    corpus-sized aggregation doesn't re-run for each of its three
    consumers (measured: skipping it re-runs the tokenize+explode
    subtree inside every AQE broadcast build — slower even at sf0.1).
    """
    from flox_spark.plans.util import materialize_shared

    bg = _bg if _bg is not None else _doc_bigrams(reference, id_col, text_col)
    bigrams = materialize_shared(
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    )
    contexts = bigrams.groupBy("w1").agg(F.sum("c").alias("c1"))
    vsrc = bigrams
    if _small:
        # count_distinct is a two-phase agg: partial-distinct exchange
        # + SinglePartition exchange + the broadcast build = three AQE
        # stages for ONE number.  A small count frame collapses to one
        # single-task stage (coalesce is narrow over the checkpoint);
        # web-scale vocabularies keep the parallel two-phase plan.
        vsrc = bigrams.coalesce(1)
    vocab = (
        vsrc.select(F.explode(F.array(F.col("w1"), F.col("w2"))).alias("w"))
        .agg(F.count_distinct(F.col("w")).alias("V"))
    )
    return bigrams, contexts, vocab


def _collect_literal_model(
    counts: DataFrame,
    spark,
    contexts: DataFrame | None = None,
    vocab: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """Bring the (w1, w2, c) bigram-count frame to the driver (ONE
    job; callers gate on plan stats so this is model-sized, never
    corpus-sized) and rebuild it as the fused per-context lookup —
    (w1, map<w2,c>, c1) — plus the vocabulary size V as a plain int.
    The returned lookup is a LocalRelation: broadcasting it costs no
    Spark job, and V becomes a literal in the scoring expression, so
    the whole model contributes ZERO actions to the scoring query.

    ``contexts``/``vocab``: for a SELF-TRAINED model the caller omits
    them and c1/V are derived from the bigram rows (identical by
    ``train_bigram_lm``'s definition, zero extra jobs).  For a
    CALLER-SUPPLIED model tuple they MUST be passed: a persisted model
    whose bigram counts were pruned (min-count trimming, the standard
    KenLM-style step) has c1/V that are NOT derivable from the
    surviving bigrams, and deriving them would silently score
    differently than ``broadcast_model=False`` on the same inputs
    (r9 ADVICE).  Two extra model-sized collects, amortized over the
    many scoring batches a persisted model exists for."""
    # AQE off + 4 shuffle partitions for the tiny collects: the counts
    # exchange only ever carries partially-aggregated vocab-type rows
    # (<= types per map task), so AQE's per-stage re-plan jobs are
    # pure scheduling on a shuffle it cannot improve.  Measured: 5 ->
    # 4 jobs, ~0.1 s at sf0.1.  scoped_tiny_collect owns the
    # session-global flip + restore + cross-thread lock (see its
    # docstring for the concurrency caveat).
    from flox_spark.plans.util import scoped_tiny_collect

    with scoped_tiny_collect(counts.sparkSession):
        rows = counts.collect()
        ctx_rows = contexts.collect() if contexts is not None else None
        v_supplied = vocab.collect()[0][0] if vocab is not None else None
    cm: dict = {}
    c1: dict = {}
    words: set = set()
    for w1, w2, c in rows:
        for w in (w1, w2):
            if w is not None:
                words.add(w)
        if w1 is None or w2 is None:
            continue  # sentinel rows never join
        cm.setdefault(w1, {})[w2] = c
        c1[w1] = c1.get(w1, 0) + c
    if ctx_rows is not None:
        c1 = {r[0]: r[1] for r in ctx_rows if r[0] is not None}
        # contexts with every bigram pruned still need a lookup row
        # (c1 drives the denominator even when the map is empty)
        for w in c1:
            cm.setdefault(w, {})
    # Arrow path, NOT a plain row list: createDataFrame over pickled
    # Python rows lands in the plan as a Scan ExistingRDD that pays a
    # Python-runner deserialization on EVERY action (measured 0.43 s
    # vs 0.13 s per scoring join at sf0.1); the pandas/Arrow route
    # produces a genuine JVM-side LocalRelation
    import pandas as pd

    from pyspark.sql.types import (
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("w1", StringType()),
            StructField("__cm", MapType(StringType(), LongType())),
            StructField("c1", LongType()),
        ]
    )
    keys = list(cm)
    pdf = pd.DataFrame(
        {
            "w1": pd.Series(keys, dtype=object),
            "__cm": pd.Series([cm[w] for w in keys], dtype=object),
            # .get(w, 0), not [w]: a supplied contexts frame pruned
            # MORE aggressively than the bigrams leaves a bigram's w1
            # without a c1 row — the declarative left join scores it
            # coalesce(c1, 0), so the literal lookup must too
            "c1": pd.Series(
                [c1.get(w, 0) for w in keys], dtype="int64" if keys else object
            ),
        }
    )
    return spark.createDataFrame(pdf, schema), (
        int(v_supplied) if v_supplied is not None else len(words)
    )


def doc_perplexity(
    corpus: DataFrame,
    reference: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    smooth_k: float = 1.0,
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    broadcast_model: bool | None = None,
) -> DataFrame:
    """Per-document bigram perplexity against the reference corpus
    (default: the corpus itself — self-perplexity, the "how unlike the
    rest of the data is this document" score).  Returns
    (id, n_bigrams, ppl); docs with no bigrams score NULL.

    ``model``: pass ``train_bigram_lm(...)`` output to reuse a fitted
    model; otherwise one is trained from ``reference``/``corpus``.
    ``broadcast_model``: None (default) lets AQE pick the join
    strategy from RUNTIME sizes — it converts to broadcast for any
    normal model and falls back to shuffle for web-scale
    vocabularies, and measured ~30% faster than the forced hint even
    on a 1k-bigram model (the explicit broadcast subtree schedules
    three separate build jobs).  True forces the broadcast hint;
    False forbids it — a ``shuffle_hash`` hint on the model frames,
    which Catalyst/AQE honor over their broadcast preference (for a
    model too large for executor memory)."""
    if smooth_k <= 0:
        raise ValueError(f"smooth_k must be > 0, got {smooth_k}")
    bg = None
    literal_model = None
    model_supplied = model is not None
    if model is None:
        if reference is None:
            # self-perplexity: train and score share ONE bigram frame
            # plan.  keep_empty_docs threads the bigram-less docs
            # through as (id, NULL, NULL) rows — they contribute
            # nothing to the counts (NULL keys never join) and come
            # out of the scoring aggregate with NULL scores, so the
            # old second corpus-wide distinct + re-attach join is gone
            # entirely.  bg itself is deliberately NOT checkpointed:
            # its only consumers are the bigram-count aggregate
            # (checkpointed, tiny) and the scoring join — re-running
            # tokenize+explode once beats writing out an intermediate
            # LARGER than the corpus (the exploded bigram rows), and
            # it keeps the whole query a single action.
            bg = _doc_bigrams(corpus, id_col, text_col, keep_empty_docs=True)
            from flox_spark.plans.util import estimate_size_bytes as _est

            csize = _est(corpus)
            if csize is not None and csize < (32 << 20):
                # SMALL corpus: the training agg and the scoring join
                # both consume bg — checkpoint it so tokenize+explode
                # runs once (measured 0.33 s per pass at sf0.1).  At
                # scale bg stays lazy: the exploded bigram rows are
                # LARGER than the corpus, so re-running the projection
                # beats writing them out (the original rationale).
                from flox_spark.plans.util import (
                    materialize_shared,
                    scoped_tiny_collect,
                )

                if broadcast_model is not False:
                    # the whole model rides to the driver ONCE as the
                    # (bounded, vocab-type-sized) count rows and comes
                    # back as a literal LocalRelation broadcast — the
                    # vocab agg, lookup agg, and their AQE broadcast
                    # build jobs all disappear.  r11: the checkpoint
                    # RDD is CREATED inside the AQE-off guard (the
                    # semdedup staging trick — plan->RDD conversion
                    # freezes the adaptive context), so tokenize +
                    # explode + checkpoint materialize as plain stages
                    # UNDER the counts collect: bg checkpoint + counts
                    # collect fuse to ONE job and the path is 2 jobs
                    # end-to-end (was 4 with AQE stage jobs).  The
                    # explicit ensure_parallelism repartition inside
                    # _doc_bigrams pins its count, so the 4-partition
                    # window only touches the vocab-sized counts
                    # exchange.  Gated on the 32 MB corpus stats.
                    with scoped_tiny_collect(corpus.sparkSession):
                        bg = materialize_shared(bg)
                        literal_model = _collect_literal_model(
                            bg.groupBy("w1", "w2").agg(
                                F.count(F.lit(1)).alias("c")
                            ),
                            corpus.sparkSession,
                        )
                else:
                    bg = materialize_shared(bg)
            if literal_model is None:
                model = train_bigram_lm(
                    corpus, id_col, text_col, _bg=bg,
                    _small=csize is not None and csize < (32 << 20),
                )
        else:
            from flox_spark.plans.util import estimate_size_bytes as _est

            rsize = _est(reference)
            if (
                broadcast_model is not False
                and rsize is not None
                and rsize < (32 << 20)
            ):
                # small reference: collect the counts agg directly —
                # train_bigram_lm's checkpoint + contexts/vocab frames
                # are dead weight on the literal path (c1/V derive on
                # the driver); saves the checkpoint job.  The collect
                # itself is bounded by the 8 MB MODEL gate on the agg's
                # plan stats, not the corpus gate: compressed text
                # stats undershoot ~5-10x, so a 32 MB-stats reference
                # can hold millions of distinct bigram types — the
                # corpus gate alone would ship them all to the driver
                # (r10 ADVICE)
                cnt = (
                    _doc_bigrams(reference, id_col, text_col)
                    .groupBy("w1", "w2")
                    .agg(F.count(F.lit(1)).alias("c"))
                )
                msize = _est(cnt)
                if msize is not None and msize < (8 << 20):
                    literal_model = _collect_literal_model(
                        cnt, corpus.sparkSession
                    )
            if literal_model is None:
                model = train_bigram_lm(reference, id_col, text_col)
    bigrams = contexts = vocab = None
    if model is not None:
        bigrams, contexts, vocab = model
    if broadcast_model is True:
        hint = F.broadcast
    elif broadcast_model is False:
        # actually forbid broadcast: the shuffle_hash hint outranks
        # AQE's size-based broadcast conversion
        hint = lambda d: d.hint("shuffle_hash")  # noqa: E731
    else:
        hint = lambda d: d  # noqa: E731 — AQE decides (None)

    if bg is None:
        bg = _doc_bigrams(corpus, id_col, text_col, keep_empty_docs=True)
    # two scoring shapes, picked by model size:
    #
    # LITERAL (small model): the fitted counts live on the driver —
    # rebuild them as ONE w1-keyed LocalRelation (per context a
    # map<w2, c> plus c1 = sum of the map's counts, identical by
    # definition) and broadcast it; V is a plan literal.  No vocab
    # agg, no lookup agg, no AQE broadcast-build sub-jobs — at small
    # inputs those fixed jobs ARE the query's cost (r8's fused-lookup
    # shape still paid 6; this pays 3).  A broadcast of a local row
    # set needs no Spark job at all, so scoring a 100 TB crawl
    # against a curated-reference model this way is a pure map-side
    # pipeline — the production CCNet shape.
    #
    # LARGE (or broadcast forbidden): the classic two-join shape.
    # Per-w1 maps at web-scale vocabularies would concentrate a
    # stopword context's whole fan-out into one driver dict entry /
    # broadcast row, so past the gate the model stays distributed and
    # AQE picks the join strategy from runtime sizes.
    from flox_spark.plans.util import estimate_size_bytes

    if literal_model is None and bigrams is not None and broadcast_model is not False:
        msize = estimate_size_bytes(bigrams)
        if msize is not None and msize < (8 << 20):
            # a SUPPLIED model's contexts/vocab may be pruned
            # independently of the bigram rows, so they ship to the
            # driver as-is; a model trained inside this call derives
            # c1/V from the bigrams (identical by definition, and two
            # fewer collect jobs)
            literal_model = _collect_literal_model(
                bigrams,
                corpus.sparkSession,
                contexts=contexts if model_supplied else None,
                vocab=vocab if model_supplied else None,
            )
    if literal_model is not None:
        lookup_local, V = literal_model
        joined = bg.join(F.broadcast(lookup_local), ["w1"], "left")
        c_expr = F.element_at(F.col("__cm"), F.col("w2"))
        v_col = F.lit(V)
    else:
        joined = (
            bg.join(hint(bigrams), ["w1", "w2"], "left")
            .join(hint(contexts), ["w1"], "left")
            .crossJoin(F.broadcast(vocab))
        )
        c_expr = F.col("c")
        v_col = F.col("V")
    k = F.lit(float(smooth_k))
    logp = F.log(
        (F.coalesce(c_expr, F.lit(0)) + k)
        / (F.coalesce(F.col("c1"), F.lit(0)) + k * v_col)
    )
    # ONE aggregate covers every document: real bigram rows score,
    # the NULL sentinel rows count 0 and average to NULL
    per_doc = joined.groupBy(id_col).agg(
        F.count(F.col("w1")).alias("__nb"),
        F.avg(F.when(F.col("w1").isNotNull(), logp)).alias("__mlp"),
    )
    return per_doc.select(
        F.col(id_col),
        F.when(F.col("__nb") > 0, F.col("__nb")).alias("n_bigrams"),
        F.exp(-F.col("__mlp")).alias("ppl"),
    )


def _fused_filter_small(
    corpus: DataFrame,
    reference: DataFrame | None,
    id_col: str,
    text_col: str,
    smooth_k: float,
    max_ppl: float,
    model: tuple[DataFrame, DataFrame, DataFrame] | None,
    round_digits: int | None,
) -> DataFrame | None:
    """Score and filter in ONE plan (the r9 mandate): each corpus row
    rides its own bigram frame as a carried struct, the per-doc
    aggregate computes the mean log-prob AND re-collects the carried
    rows, and the rounded keep/drop is a projection over that same
    aggregate — so the filter's job structure is EXACTLY
    ``doc_perplexity``'s (bg checkpoint + counts collect + one scoring
    action), with no keep-set collect and no semi-join scan on top.

    Exact semantics, including duplicate ``id_col`` rows: every
    PHYSICAL corpus row attaches its struct to exactly one exploded
    row (pos 0, or the NULL sentinel for bigram-less docs), duplicate
    ids pool their bigrams in the per-id aggregate exactly like
    ``doc_perplexity``, the surviving groups explode back to all
    their original rows, and NULL-id rows drop (the declarative
    semi-join's equality key never matches NULL).

    Returns None when the model can't collapse to a literal lookup
    (stats-unknown or >8 MB supplied/reference model) — the caller
    falls back to the declarative semi-join.  Only called under the
    32 MB corpus-stats gate, so the carried structs add at most one
    corpus copy to the checkpoint and the per-doc exchange — bounded
    by the same gate that bounds every literal collect here;
    web-scale corpora never enter."""
    from flox_spark.plans.util import estimate_size_bytes, materialize_shared

    spark = corpus.sparkSession
    # 256 KB gate, not 8 MB: compressed stats undershoot tokenize +
    # score work by the text compression ratio (see _doc_bigrams'
    # r13 per-job measurement — the un-fanned sf0.1 plan ran the
    # whole explode+join+score pipeline on ONE AQE-coalesced task)
    toks = ensure_parallelism(corpus, min_bytes=256 << 10).select(
        F.struct(*[F.col(c) for c in corpus.columns]).alias("__row"),
        F.col(id_col).alias("__id"),
        _word_tokens(text_col).alias("__t"),
    )
    valid = F.expr(
        "filter(CASE WHEN size(__t) >= 2 THEN "
        "transform(sequence(0, size(__t) - 2), "
        "i -> struct(__t[i] AS w1, __t[i + 1] AS w2)) "
        "ELSE array() END, s -> s.w1 != '' AND s.w2 != '')"
    )
    ex = toks.select(
        "__row", "__id", F.posexplode_outer(valid).alias("__pos", "__bg")
    )
    bg = ex.select(
        "__id",
        F.col("__bg.w1").alias("w1"),
        F.col("__bg.w2").alias("w2"),
        F.when(
            F.col("__pos").isNull() | (F.col("__pos") == 0), F.col("__row")
        ).alias("__row"),
    )
    if model is not None:
        bigrams, contexts, vocab = model
        msize = estimate_size_bytes(bigrams)
        if msize is None or msize >= (8 << 20):
            return None
        lookup, V = _collect_literal_model(bigrams, spark, contexts, vocab)
    elif reference is not None:
        rsize = estimate_size_bytes(reference)
        rcnt = None
        if rsize is not None and rsize < (32 << 20):
            # small reference corpus: ONE counts agg straight to the
            # driver.  train_bigram_lm's contexts/vocab frames and the
            # shared checkpoint it stages for its three consumers are
            # dead weight on the literal path (c1/V derive on the
            # driver) — skipping them saves the checkpoint job.  Like
            # doc_perplexity's twin, the collect is bounded by the
            # 8 MB MODEL gate on the agg's plan stats (compressed text
            # stats undershoot ~5-10x — r10 ADVICE), never the corpus
            # gate alone
            rbg = _doc_bigrams(reference, id_col, text_col)
            rcnt = rbg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
            rmsize = estimate_size_bytes(rcnt)
            if rmsize is None or rmsize >= (8 << 20):
                rcnt = None
        if rcnt is not None:
            lookup, V = _collect_literal_model(rcnt, spark)
        else:
            bigrams, contexts, vocab = train_bigram_lm(
                reference, id_col, text_col
            )
            msize = estimate_size_bytes(bigrams)
            if msize is None or msize >= (8 << 20):
                return None
            # trained inside this call: c1/V derive from the bigrams
            lookup, V = _collect_literal_model(bigrams, spark)
    else:
        # self-perplexity: train and score share the ONE checkpointed
        # carry-struct bigram frame — the doc_perplexity small shape.
        # r11: checkpoint RDD created inside the guard so tokenize +
        # carry-struct explode + checkpoint run as plain stages under
        # the counts collect (one job, not an AQE stage fan)
        from flox_spark.plans.util import scoped_tiny_collect

        with scoped_tiny_collect(spark):
            bg = materialize_shared(bg)
            lookup, V = _collect_literal_model(
                bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")), spark
            )
    joined = bg.join(F.broadcast(lookup), ["w1"], "left")
    k = F.lit(float(smooth_k))
    logp = F.log(
        (F.coalesce(F.element_at(F.col("__cm"), F.col("w2")), F.lit(0)) + k)
        / (F.coalesce(F.col("c1"), F.lit(0)) + k * F.lit(V))
    )
    # collect_list skips NULL carries, so each group's list holds
    # exactly its physical corpus rows; bigram-less docs average to
    # NULL and are kept (absence of signal never drops)
    per_doc = joined.groupBy("__id").agg(
        F.avg(F.when(F.col("w1").isNotNull(), logp)).alias("__mlp"),
        F.collect_list("__row").alias("__rows"),
    )
    ppl = F.exp(-F.col("__mlp"))
    scr = F.round(ppl, round_digits) if round_digits is not None else ppl
    # NULL-id rows ALWAYS drop: the declarative path's left-semi
    # equality join can never match a NULL key, so those physical rows
    # never survive there — the fused plan must agree regardless of
    # which side of the stats gate the input lands on (their bigrams
    # still train the self-model, same as train_bigram_lm over the
    # full corpus)
    kept = per_doc.filter(
        F.col("__id").isNotNull() & (scr.isNull() | (scr <= F.lit(float(max_ppl))))
    )
    return kept.select(F.explode("__rows").alias("__r")).select("__r.*")


def perplexity_filter(
    corpus: DataFrame,
    max_ppl: float,
    reference: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    smooth_k: float = 1.0,
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    broadcast_model: bool | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """Keep corpus rows whose perplexity is <= ``max_ppl`` (plus docs
    with no bigram evidence — NULL never silently drops).  The CCNet
    decision step; returns surviving rows unchanged.  The comparison
    runs on the score ROUNDED to ``round_digits`` (the engine's usual
    rounded-boundary discipline — keep/drop is stable across engines'
    last-ulp differences in the log-mean; None for raw doubles).

    Plan shapes: under the 32 MB corpus-stats gate the keep decision
    is derived INSIDE the scoring plan (``_fused_filter_small`` — same
    job structure as ``doc_perplexity``, zero extra jobs).  NB the
    fused path runs a model-sized driver collect at PLAN-BUILD time
    (the literal-model pattern; see ``scoped_tiny_collect`` for the
    conf-scoping caveat), so this builder has action-time side effects
    on small inputs.  Web-scale corpora (or ``broadcast_model=False``)
    keep the fully declarative score -> keep-set -> left-semi-join
    shape: no corpus shuffle, no driver traffic."""
    from flox_spark.plans.util import estimate_size_bytes

    csize = estimate_size_bytes(corpus)
    if csize is not None and csize < (32 << 20) and broadcast_model is not False:
        fused = _fused_filter_small(
            corpus, reference, id_col, text_col, smooth_k, max_ppl, model,
            round_digits,
        )
        if fused is not None:
            return fused
    scores = doc_perplexity(
        corpus, reference, id_col, text_col, smooth_k, model, broadcast_model
    )
    scr = (
        F.round(F.col("ppl"), round_digits)
        if round_digits is not None
        else F.col("ppl")
    )
    keep = scores.filter(scr.isNull() | (scr <= F.lit(float(max_ppl)))).select(id_col)
    return corpus.join(keep, [id_col], "left_semi")
