"""Text cleaning for training-data pipelines: PII redaction,
whitespace normalization, boilerplate-line removal.

Beyond the reference's surface (SURVEY §2.5); pipeline-operator suite
per the engine's north star (BASELINE.json).  Redaction and
normalization are pure ``regexp_replace`` projections — zero
shuffles, whole-stage codegen, filters still push down past them.

The regex subset is deliberately portable (no lookahead/lookbehind,
no backreferences): the same patterns run under Java regex (Spark)
and RE2 (DuckDB), which is what makes the oracle differential check
possible.

``remove_boilerplate_lines`` is the distributed one: a line shared by
many documents (headers, footers, nav text) is dropped from all of
them.  Plan: explode lines -> one groupBy(line) document-frequency
aggregate -> join back -> reassemble per doc.  The doc-frequency
frame is (distinct lines)-sized; the reassembly groupBy carries
(doc, pos, line) rows once — two data-sized shuffles total, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "dedup_lines",
    "duplicate_spans",
    "duplicate_spans_against",
    "k_anonymity_report",
    "normalize_whitespace",
    "redact_pii",
    "remove_boilerplate_lines",
    "remove_duplicate_spans",
    "remove_spans_against",
]

# portable across Java regex and RE2 (no lookaround)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"


def normalize_whitespace(
    df: DataFrame, text_col: str = "text", out: str | None = None
) -> DataFrame:
    """Collapse runs of whitespace to single spaces and trim."""
    return df.withColumn(
        out or text_col, F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))
    )


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out: str | None = None,
    email: bool = True,
    url: bool = True,
    phone: bool = True,
    token: str = "<REDACTED>",
) -> DataFrame:
    """Replace emails / URLs / NNN-NNN-NNNN phone numbers with
    ``token``.  URL redaction runs first so a URL containing an
    '@' (userinfo) cannot leave a half-redacted email behind."""
    c: Column = F.col(text_col)
    if url:
        c = F.regexp_replace(c, URL_RE, token)
    if email:
        c = F.regexp_replace(c, EMAIL_RE, token)
    if phone:
        c = F.regexp_replace(c, PHONE_RE, token)
    return df.withColumn(out or text_col, c)


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    max_doc_frac: float | None = None,
    out: str = "text_clean",
) -> DataFrame:
    """Drop every line whose normalized form (trimmed, lower-cased)
    appears in >= ``min_docs`` distinct documents (and, if
    ``max_doc_frac`` is given, in >= that fraction of all documents —
    both conditions must hold).  Line order within each doc is
    preserved; docs reduced to nothing keep an empty string.

    The total-document count joins in as a broadcast 1-row frame —
    no driver-side collect."""
    from flox_spark.plans.util import materialize_shared

    # the lines frame feeds both the doc-frequency aggregate and the
    # kept-join (a diamond): materialize so the explode runs once.
    # Measured (sf0.1, best-of-6): skipping the checkpoint for small
    # frames is SLOWER here (0.73 s vs 0.59 s) — the split+explode
    # recompute lands in both the boiler broadcast build and the kept
    # probe, costing more than the checkpoint job it saves (unlike
    # the LSH bucket diamond, whose branches are cheaper).
    lines = materialize_shared(
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        ).withColumn("norm", F.lower(F.trim(F.col("line"))))
    )

    docfreq = lines.groupBy("norm").agg(F.count_distinct(F.col(id_col)).alias("df"))
    boiler = docfreq.filter(F.col("df") >= F.lit(min_docs))
    if max_doc_frac is not None:
        total = df.agg(F.count(F.lit(1)).alias("__total"))
        boiler = boiler.crossJoin(F.broadcast(total)).filter(
            F.col("df") >= F.col("__total") * F.lit(max_doc_frac)
        )
    boiler = boiler.select("norm").withColumn("__drop", F.lit(True))

    kept = (
        lines.join(boiler, "norm", "left")
        .filter(F.col("__drop").isNull())
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("line").alias("l")))
                    ),
                    lambda s: s["l"],
                ),
            ).alias(out)
        )
    )
    return df.join(kept, id_col, "left").withColumn(
        out, F.coalesce(F.col(out), F.lit(""))
    )


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_re: str = "\n",
    joiner: str = "\n",
    min_chars: int = 10,
    out: str = "text_clean",
) -> DataFrame:
    """Corpus-level line dedup (the C4-style span rule, at line
    granularity): every line of at least ``min_chars`` trimmed
    characters that occurs more than once ANYWHERE in the corpus is
    kept only at its first occurrence — smallest (doc id, position) —
    and removed everywhere else.  Shorter lines pass through
    untouched.  ``sep_re`` is the split regex, ``joiner`` the
    reassembly separator (separator runs are normalized to it); every
    input doc survives, reduced to "" when nothing remains.

    Scale shape: one explode, one line-keyed window (row_number over
    (id, pos) — the shuffle is by line content, uniform unless the
    corpus is one repeated line), one group-by-doc reassembly.  All
    data-sized steps are single-pass; no self-joins, no driver
    collects."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_re)).alias("pos", "line"),
    )
    w = Window.partitionBy("line").orderBy(F.col(id_col).asc(), F.col("pos").asc())
    kept = (
        lines.withColumn("__rn", F.row_number().over(w))
        .filter(
            (F.length(F.trim(F.col("line"))) < F.lit(min_chars))
            | (F.col("__rn") == 1)
        )
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                joiner,
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("line").alias("l")))
                    ),
                    lambda s: s["l"],
                ),
            ).alias(out)
        )
    )
    return df.join(kept, id_col, "left").withColumn(
        out, F.coalesce(F.col(out), F.lit(""))
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    bench_text_col: str | None = None,
) -> DataFrame:
    """Per-corpus-document count of distinct word n-grams shared with
    ANY benchmark document: one row ``(id, n_shared)`` per corpus doc
    with at least one shared n-gram.  The candidate-generation half of
    benchmark decontamination (the standard n-gram-overlap protocol
    for keeping eval data out of training corpora; n=13 is the common
    published choice).

    Plan: the benchmark's DISTINCT shingle set broadcasts (benchmark
    suites are tiny next to a training corpus) and FILTERS the
    corpus's exploded shingles BEFORE any shuffle — the broadcast
    semi-filter drops ~all rows, so the only exchange is the per-doc
    count over the few surviving (doc, shingle) pairs.  Corpus
    shingles are deduplicated per doc AT GENERATION TIME
    (``array_distinct`` on the shingle array, row-local) so that
    per-doc count is a plain ``count`` — one aggregate stage, not the
    two-phase (doc, shingle)+(doc) plan ``count_distinct`` needs.
    (A corpus-side cross-doc pre-distinct would shuffle every
    (doc, shingle) pair first — ~25% slower even at sf0.1, and the
    gap grows with corpus size since that shuffle is corpus-sized
    while the survivors are benchmark-sized.)  No UDFs."""
    from flox_spark.operators.dedup import _shingles_from_tokens, _word_tokens
    from flox_spark.plans import ensure_parallelism

    btc = bench_text_col or text_col
    # shingle the benchmark TEXT directly (no doc-level distinct, no
    # id column required on the benchmark frame); contentless docs
    # (NULL/empty/whitespace) shingle to [''] — exclude that sentinel
    # on BOTH sides, or one empty benchmark doc would "contaminate"
    # every empty corpus doc
    # NB a hashed-shingle variant (xxhash64 over per-token hashes,
    # joined on longs) was built and MEASURED 2.5x slower at n=13:
    # n interpreted try_element_at calls per window lose to one native
    # slice+concat_ws, and the join volume saving never pays for it.
    # Tokens are STAGED in their own select (see _word_tokens): the
    # inline form re-splits per shingle — measured ~40% of the cost.
    bench_sh = (
        benchmark.select(_word_tokens(btc).alias("__t"))
        .select(F.explode(_shingles_from_tokens("__t", n)).alias("shingle"))
        .filter(F.col("shingle") != "")
        .distinct()
    )
    corp_sh = (
        ensure_parallelism(corpus)
        .select(F.col(id_col), _word_tokens(text_col).alias("__t"))
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(_shingles_from_tokens("__t", n))
            ).alias("shingle"),
        )
        .filter(F.col("shingle") != "")
    )
    return (
        corp_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "ngram",
    n: int = 13,
    min_shared: int = 1,
    bench_text_col: str | None = None,
) -> DataFrame:
    """Remove corpus documents that overlap the benchmark set —
    ``method="ngram"`` drops docs sharing >= ``min_shared`` distinct
    word n-grams with any benchmark doc (``contamination_report``),
    ``method="exact"`` drops docs whose whitespace/case-normalized
    content equals any benchmark doc.  Returns the surviving corpus
    rows unchanged."""
    if method == "exact":
        btc = bench_text_col or text_col
        # pick a scratch name that cannot clobber a corpus column
        fp = "__fp"
        while fp in corpus.columns:
            fp += "_"
        norm_c = F.md5(
            F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
        )
        norm_b = F.md5(
            F.regexp_replace(F.lower(F.trim(F.col(btc))), r"\s+", " ")
        )
        bench_fp = benchmark.select(norm_b.alias(fp)).distinct()
        return (
            corpus.withColumn(fp, norm_c)
            .join(F.broadcast(bench_fp), fp, "left_anti")
            .drop(fp)
        )
    if method != "ngram":
        raise ValueError(f"method must be ngram|exact, got {method!r}")
    if min_shared <= 1:
        # ANY shared shingle contaminates: no counting needed at all —
        # the broadcast semi-filter plus a distinct over the surviving
        # doc ids replaces the per-doc count aggregate (and shingle
        # generation skips the array_distinct pass: duplicates cannot
        # change "at least one hit")
        from flox_spark.operators.dedup import _shingles_from_tokens, _word_tokens
        from flox_spark.plans import ensure_parallelism

        btc = bench_text_col or text_col
        bench_sh = (
            benchmark.select(_word_tokens(btc).alias("__t"))
            .select(
                F.explode(_shingles_from_tokens("__t", n)).alias("shingle")
            )
            .filter(F.col("shingle") != "")
            .distinct()
        )
        hits = (
            ensure_parallelism(corpus)
            .select(F.col(id_col), _word_tokens(text_col).alias("__t"))
            .select(
                F.col(id_col),
                F.explode(_shingles_from_tokens("__t", n)).alias("shingle"),
            )
            .filter(F.col("shingle") != "")
            .join(F.broadcast(bench_sh), "shingle", "left_semi")
            .select(id_col)
            .distinct()
        )
    else:
        hits = contamination_report(
            corpus, benchmark, id_col, text_col, n, bench_text_col
        ).filter(F.col("n_shared") >= min_shared).select(id_col)
    return _anti_join_ids(corpus, hits, id_col)


# contaminated-id counts past which the literal NOT-IN / local-frame
# re-entry is abandoned for the declarative anti-join (a NOT IN string
# parses fine into an InSet well past this; the cap bounds driver
# memory the same way the union-find literal path caps its edge list)
_LITERAL_IDS_MAX = 100_000


def _anti_join_ids(corpus: DataFrame, hits: DataFrame, id_col: str) -> DataFrame:
    """``corpus LEFT ANTI JOIN hits`` with a gated literal fast path.

    The declarative anti-join costs 6 jobs at small scale (benchmark
    distinct + its AQE stage, the per-doc count exchange + its stage,
    the hits broadcast build, the final scan) and scans the corpus
    twice.  Under a 32 MB corpus plan-stats gate the contaminated-id
    set is bounded, so collect it once (``scoped_tiny_collect``: the
    whole hits pipeline — benchmark-shingle broadcast included — runs
    as 2 AQE-off jobs) and filter the corpus with a driver-known
    ``NOT IN`` predicate: Catalyst folds it to an O(1)-per-row
    ``InSet``, no join, no broadcast-build job — 4 jobs, one corpus
    scan on the output side.  The id list is shipped as ONE parsed SQL
    string: per-element ``Column.isin`` literals cost a py4j round
    trip each (~1.5 s at 4k ids, measured).

    Anti-join NULL semantics are preserved explicitly: NULL-id corpus
    rows are KEPT (equality joins never match them), and NULL ids in
    ``hits`` are dropped from the literal list — one NULL inside
    ``NOT IN (...)`` would null out the predicate and drop every
    clean row.  Non-integer id types and id sets past the cap re-enter
    as an Arrow local frame (broadcast anti-join, no count change vs
    declarative).  Stats-less / web-scale / streaming corpora keep the
    fully declarative anti-join — no collect exists on that path."""
    from flox_spark.plans.util import (
        estimate_size_bytes,
        local_frame,
        scoped_tiny_collect,
    )

    sts = estimate_size_bytes(corpus)
    if sts is not None and sts < (32 << 20) and not corpus.isStreaming:
        with scoped_tiny_collect(corpus.sparkSession):
            ids = [r[0] for r in hits.collect()]
        ids = [i for i in ids if i is not None]
        if not ids:
            return corpus
        idt = corpus.schema[id_col].dataType.simpleString()
        if (
            idt in ("bigint", "int", "smallint", "tinyint")
            and len(ids) <= _LITERAL_IDS_MAX
        ):
            pred = (
                f"`{id_col}` IS NULL OR "
                f"`{id_col}` NOT IN ({','.join(map(str, ids))})"
            )
            return corpus.filter(F.expr(pred))
        lf = local_frame(
            corpus.sparkSession, [(i,) for i in ids], f"`{id_col}` {idt}"
        )
        return corpus.join(F.broadcast(lf), id_col, "left_anti")
    return corpus.join(hits, id_col, "left_anti")


def k_anonymity_report(
    df: DataFrame,
    quasi_identifiers: list[str],
    k: int = 5,
) -> DataFrame:
    """Privacy QA: the quasi-identifier combinations whose group size
    is below ``k`` — the rows a k-anonymity release would need to
    suppress or generalize.  Output: one row per violating combination
    with its ``group_size`` (NULL components are a combination value
    like any other: a NULL birth-year still identifies).

    One hash aggregate over the quasi-identifier tuple + a
    group-cardinality-sized filter — the fact table is touched once.
    Join the output back (left_semi on the identifiers) to extract the
    violating ROWS, or left_anti to keep the releasable subset."""
    if not quasi_identifiers:
        raise ValueError("need at least one quasi-identifier column")
    if k < 2:
        raise ValueError(f"k must be >= 2 (k=1 is vacuous), got {k}")
    return (
        df.groupBy(*quasi_identifiers)
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < k)
    )


def _gram_key(hash_impl: str, gram: Column) -> Column:
    """Shuffle key for a window's content.  'exact' keys on the gram
    string itself (exact semantics, widest shuffle rows);
    'xxhash64' (default) narrows every shuffled row to one long —
    at 100k distinct windows the birthday-collision odds are ~3e-10,
    and a collision only ever merges two windows' occurrence counts
    (never loses a real duplicate); 'md5' is the 128-bit middle
    ground shared with the dedup family's oracle rows."""
    if hash_impl == "exact":
        return gram
    if hash_impl == "md5":
        return F.md5(gram)
    if hash_impl == "xxhash64":
        return F.xxhash64(gram)
    raise ValueError(f"hash_impl must be exact|md5|xxhash64, got {hash_impl!r}")


def _kgram_windows(
    df: DataFrame, id_col: str, text_col: str, k: int, hash_impl: str
) -> DataFrame:
    """(id, pos, __g) rows: every k-token window of lower-cased
    whitespace tokens, keyed per ``_gram_key``.  ``pos`` is the
    1-based token index of the window start.  Docs under k tokens
    produce no windows (they cannot contain a k-token span, and
    ``_shingles_from_tokens`` would emit their whole content as one
    short pseudo-window)."""
    from flox_spark.operators.dedup import _shingles_from_tokens, _word_tokens
    from flox_spark.plans import ensure_parallelism

    toks = (
        ensure_parallelism(df)
        .select(F.col(id_col), _word_tokens(text_col).alias("__t"))
        .filter(F.size("__t") >= k)
    )
    return toks.select(
        F.col(id_col),
        F.posexplode(_shingles_from_tokens("__t", k)).alias("__p0", "__g"),
    ).select(
        F.col(id_col),
        (F.col("__p0") + 1).alias("pos"),
        _gram_key(hash_impl, F.col("__g")).alias("__g"),
    )


def _reference_grams(
    reference: DataFrame, text_col: str, k: int, hash_impl: str
) -> DataFrame:
    """The DISTINCT gram keys of a reference corpus — one ``__g``
    column, no id required (the documented ``duplicate_spans_against``
    contract: references are often bare text suites)."""
    from flox_spark.operators.dedup import _shingles_from_tokens, _word_tokens
    from flox_spark.plans import ensure_parallelism

    toks = (
        ensure_parallelism(reference)
        .select(_word_tokens(text_col).alias("__t"))
        .filter(F.size("__t") >= k)
    )
    return (
        toks.select(F.explode(_shingles_from_tokens("__t", k)).alias("__g"))
        .select(_gram_key(hash_impl, F.col("__g")).alias("__g"))
        .distinct()
    )


def _dup_window_marks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    min_occurrences: int,
    cross_doc_only: bool,
    hash_impl: str,
    drop_first: bool,
) -> DataFrame:
    """(id, pos) rows — 1-based token positions starting a k-token
    window whose content repeats corpus-wide.  ``drop_first`` excludes
    each window-content's global first occurrence (smallest
    (id, pos)), the keep-one-copy rule removal wants.

    Scale shape (the reason the default path is a groupBy + shuffle
    join, not a window over the gram): the exploded window frame is
    corpus-token-sized but narrow (hash + id + pos).  The occurrence
    count is a hash aggregate — map-side partial combine collapses a
    billion-fold-repeated boilerplate gram to one row per task before
    the exchange — and the mark-back join is a shuffle join AQE can
    skew-split.  A ``count(*) over (partition by gram)`` window would
    compute the same thing in ONE exchange but pins every occurrence
    of the hottest gram to a single un-splittable task; at C4-scale
    corpora that task is the job.

    Small inputs (compressed scan stats under 32 MB, the repo-wide
    small-path gate) DO take the one-exchange window form: a hot-gram
    task is bounded by the whole input there, and the saved
    exchange + broadcast stages are the measured difference between
    6 and 4 jobs at sf0.1 (the gate mis-firing small is safe — the
    window path is exact, just less splittable)."""
    if k < 2:
        raise ValueError(f"k must be >= 2 (a 1-token 'span' is a word count), got {k}")
    if min_occurrences < 2:
        raise ValueError(f"min_occurrences must be >= 2, got {min_occurrences}")
    from flox_spark.plans.util import estimate_size_bytes

    wins = _kgram_windows(df, id_col, text_col, k, hash_impl)

    sts = estimate_size_bytes(df)
    if sts is not None and sts < (32 << 20) and not df.isStreaming:
        # small path: ONE gram exchange — count / first-occurrence /
        # distinct-doc test all ride the same window partition
        w_g = Window.partitionBy("__g")
        cnt_all = F.count(F.lit(1)).over(w_g)
        keep = cnt_all >= min_occurrences
        if cross_doc_only:
            # >= 2 distinct id VALUES, NULL counted as one value (the
            # python-reference spec): min/max skip NULLs, so a
            # NULL-id doc sharing a gram with exactly one non-NULL
            # doc needs the explicit has-null-and-non-null term
            cnt_id = F.count(F.col(id_col)).over(w_g)
            keep = keep & (
                F.coalesce(
                    F.min(id_col).over(w_g) != F.max(id_col).over(w_g),
                    F.lit(False),
                )
                | ((cnt_id < cnt_all) & (cnt_id > 0))
            )
        if drop_first:
            first = F.min(F.struct(F.col(id_col), F.col("pos"))).over(w_g)
            # eqNullSafe: a plain == against a NULL first-occurrence id
            # nulls the WHOLE predicate and silently drops every mark
            # for that gram (caught by the NULL-id pin test)
            keep = keep & ~(
                F.col(id_col).eqNullSafe(first[id_col])
                & (F.col("pos") == first["pos"])
            )
        # window expressions cannot sit in a filter directly
        return (
            wins.withColumn("__keep", keep)
            .filter("__keep")
            .select(id_col, "pos")
        )
    aggs = [
        F.count(F.lit(1)).alias("__c"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__first"),
    ]
    if cross_doc_only:
        # >= 2 distinct id VALUES (NULL one value, see small path);
        # min/max + null-count instead of a two-phase count_distinct
        aggs += [
            F.min(id_col).alias("__dlo"),
            F.max(id_col).alias("__dhi"),
            F.count(F.col(id_col)).alias("__cid"),
        ]
    dup = wins.groupBy("__g").agg(*aggs).filter(F.col("__c") >= min_occurrences)
    if cross_doc_only:
        dup = dup.filter(
            F.coalesce(F.col("__dlo") != F.col("__dhi"), F.lit(False))
            | ((F.col("__cid") < F.col("__c")) & (F.col("__cid") > 0))
        )
    marked = wins.join(
        dup.select("__g", "__first"), "__g"
    )
    if drop_first:
        # eqNullSafe — see the small-path note: NULL first-occurrence
        # ids must compare as equal-to-themselves, not as NULL
        marked = marked.filter(
            ~(
                F.col(id_col).eqNullSafe(F.col("__first")[id_col])
                & (F.col("pos") == F.col("__first")["pos"])
            )
        )
    return marked.select(id_col, "pos")


def _merge_window_islands(marked: DataFrame, id_col: str, k: int) -> DataFrame:
    """Merge marked window starts into maximal spans: windows at
    token positions p < q cover a contiguous duplicated region iff
    q <= p + k (ranges [p, p+k-1] and [q, q+k-1] touch or overlap).
    Classic gaps-and-islands — one per-doc window pass; the island
    groupBy reuses the window exchange's hash partitioning on id."""
    w = Window.partitionBy(id_col).orderBy("pos")
    gap = F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0)
    return (
        marked.withColumn("__isl", F.sum(gap).over(w))
        .groupBy(id_col, "__isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .withColumn(
            "n_tokens", F.col("span_end") - F.col("span_start") + F.lit(1)
        )
        .drop("__isl")
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    min_occurrences: int = 2,
    cross_doc_only: bool = False,
    hash_impl: str = "xxhash64",
) -> DataFrame:
    """Exact substring-level duplication report (the train-data span
    dedup of Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499, at word granularity):
    one row ``(id, span_start, span_end, n_tokens)`` per maximal token
    span covered by k-token windows whose lower-cased content occurs
    at least ``min_occurrences`` times anywhere in the corpus
    (``cross_doc_only=True`` additionally requires >= 2 distinct
    documents, so within-doc repetition alone does not mark).
    Positions are 1-based token indices over whitespace tokens of
    ``lower(trim(text))``; overlapping/adjacent duplicated windows
    merge into one span, so ``n_tokens >= k``.  Rows sharing an id
    contribute windows under ONE key, so their positions collide —
    give duplicate-id frames a unique id first (like ``dedup_lines``).

    Beyond the reference's surface (SURVEY §2.5) — the span-granular
    sibling of ``dedup_lines``.  Plan: one posexplode (corpus-token-
    sized, narrow hashed rows), one gram hash-aggregate (map-side
    partial combine eats hot boilerplate grams), one AQE-skew-
    splittable mark-back join, one per-doc island merge.  No UDFs, no
    driver collects, no self-joins."""
    marked = _dup_window_marks(
        df, id_col, text_col, k, min_occurrences, cross_doc_only,
        hash_impl, drop_first=False,
    )
    return _merge_window_islands(marked, id_col, k)


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    min_occurrences: int = 2,
    cross_doc_only: bool = False,
    hash_impl: str = "xxhash64",
    out: str = "text_clean",
) -> DataFrame:
    """Keep-one-copy span dedup: every token covered by a duplicated
    k-token window (see ``duplicate_spans``) is removed, EXCEPT in
    the window-content's global first occurrence — smallest
    (id, pos), the same first-wins rule as ``dedup_lines`` — so one
    copy of every duplicated span survives the corpus.  Every input
    row survives with ``out`` holding the surviving tokens rejoined
    by single spaces (original token case is preserved; whitespace
    runs are normalized, like ``dedup_lines``'s joiner — and like it,
    an ``out`` name already present on the input raises at build
    time), reduced to
    "" when nothing remains.  NULL ids order before non-NULL in the
    first-occurrence rule (Spark struct ordering).

    Plan: the mark/merge stages of ``duplicate_spans`` minus first
    occurrences, then the per-doc span list (bounded by doc length)
    joins back by id and a row-local ``F.filter`` over the original
    token array drops covered positions — the reassembly never
    explodes tokens."""
    marked = _dup_window_marks(
        df, id_col, text_col, k, min_occurrences, cross_doc_only,
        hash_impl, drop_first=True,
    )
    spans = _merge_window_islands(marked, id_col, k)
    return _cut_spans(df, spans, id_col, text_col, out)


def _cut_spans(
    df: DataFrame, spans: DataFrame, id_col: str, text_col: str, out: str
) -> DataFrame:
    """Reassemble each doc without the tokens its span rows cover:
    the per-doc span list (bounded by doc length) joins back by id
    and a row-local ``F.filter`` over the original token array drops
    covered 1-based positions — the reassembly never explodes
    tokens.  Every input row survives; ``out`` holds the surviving
    ORIGINAL-CASE tokens rejoined by single spaces ("" when nothing
    remains)."""
    # eqNullSafe join: NULL-id rows are real documents in this family
    # (the mark/merge stages handle them), so a NULL-rejecting equi
    # join would silently keep their duplicated/contaminated text
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__rm")
    ).withColumnRenamed(id_col, "__rm_id")
    if out in df.columns:
        # loud build-time validation like the family's other contract
        # checks (r11 ADVICE): a silent rename ("text_clean_") made
        # the output column undiscoverable to the caller
        raise ValueError(
            f"output column {out!r} already exists on the input frame; "
            "pass out=<fresh name> (dedup_lines raises the same way)"
        )
    # original-case tokens: the same whitespace split as the window
    # keys (positions align 1:1), without the lower()
    orig_toks = F.split(F.trim(F.col(text_col)), r"\s+")
    kept = F.filter(
        orig_toks,
        lambda t, i: ~F.exists(
            F.coalesce(F.col("__rm"), F.array()),
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        ),
    )
    return (
        df.join(per_doc, F.col(id_col).eqNullSafe(F.col("__rm_id")), "left")
        .withColumn(out, F.concat_ws(" ", kept))
        .drop("__rm", "__rm_id")
    )


def _spans_against(
    df: DataFrame,
    reference: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    hash_impl: str,
    ref_text_col: str | None,
) -> DataFrame:
    """Marked-window island merge for the cross-corpus case: batch
    windows whose content appears ANYWHERE in ``reference``.  The
    reference side reduces to its DISTINCT gram keys (an aggregate
    with map-side partial combine — reference-distinct-gram-sized,
    never reference-token-sized, after the exchange) and the batch
    marks via a LEFT SEMI join on the key: no occurrence counting, no
    keep-first bookkeeping, AQE-skew-splittable, broadcastable when
    the reference is benchmark-sized."""
    if k < 2:
        raise ValueError(f"k must be >= 2 (a 1-token 'span' is a word count), got {k}")
    ref_grams = _reference_grams(reference, ref_text_col or text_col, k, hash_impl)
    wins = _kgram_windows(df, id_col, text_col, k, hash_impl)
    marked = wins.join(ref_grams, "__g", "left_semi").select(id_col, "pos")
    return _merge_window_islands(marked, id_col, k)


def duplicate_spans_against(
    df: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    hash_impl: str = "xxhash64",
    ref_text_col: str | None = None,
) -> DataFrame:
    """Cross-corpus span contamination report — the span-granular
    sibling of ``dedup_against``/``minhash_against`` and the
    position-level refinement of ``contamination_report``: one row
    ``(id, span_start, span_end, n_tokens)`` per maximal token span
    of ``df`` covered by k-token windows whose lower-cased content
    appears ANYWHERE in ``reference`` (an existing training corpus, a
    benchmark suite).  Positions/merging as in ``duplicate_spans``;
    ``df``-internal repetition alone does NOT mark.

    The reference needs no id column (``ref_text_col`` defaults to
    ``text_col``); its windows collapse to a distinct gram-key set
    before the semi join, so the join build side is
    distinct-gram-sized."""
    return _spans_against(df, reference, id_col, text_col, k, hash_impl, ref_text_col)


def remove_spans_against(
    df: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    hash_impl: str = "xxhash64",
    ref_text_col: str | None = None,
    out: str = "text_clean",
) -> DataFrame:
    """Span-level decontamination: cut every token of ``df`` covered
    by a k-token window that appears anywhere in ``reference`` (the
    reference holds the canonical copy, so unlike
    ``remove_duplicate_spans`` there is no keep-first exception).
    Every input row survives with ``out`` holding the surviving
    original-case tokens rejoined by single spaces ("" when nothing
    remains; an ``out`` name already present on the input raises at
    build time) — the redaction alternative to ``decontaminate``'s
    whole-doc drop."""
    spans = _spans_against(df, reference, id_col, text_col, k, hash_impl, ref_text_col)
    return _cut_spans(df, spans, id_col, text_col, out)
