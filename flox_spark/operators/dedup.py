"""Deduplication operators for training-data pipelines.

Beyond the reference's surface (BASELINE.json north star).  Four
families, all expressed as DataFrame ops over JVM built-ins:

- exact: hash-groupBy on a normalized fingerprint.
- MinHash + LSH: shingle -> universal-hash seeds -> band -> bucket join.
- n-gram Jaccard: inverted shingle index self-join with a document
  -frequency cutoff (the classic quadratic-blowup guard at scale).
- SimHash: per-token hash bit votes -> compact hex signature.

Determinism note: every ``hash_impl`` is deterministic across runs
and partitionings.  The default is ``"xxhash64"`` — Spark's native
64-bit hash, one codegen'd long op per input — which other engines
cannot reproduce byte-for-byte.  Pass ``hash_impl="md5"`` when an
external engine must reproduce the exact buckets (the DuckDB
differential oracle does): md5 hex is identical everywhere, and the
universal-hash construction needs only ONE md5 per shingle, so the
md5 tax is a constant factor on one hash call, not sixteen.

Scale notes (100 TB posture):
- Shingling + hashing + minhash signatures are pure projections
  (row-local array folds — zero shuffles).
- Bucket joins shuffle on (band, key) — uniform by construction
  (hash-derived).  ``max_bucket`` caps pathological buckets (e.g.
  boilerplate documents) before the pair expansion, which is the one
  step that can go quadratic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flox_spark.plans import ensure_parallelism


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups by normalized-text fingerprint: one row
    per distinct content with the representative (min id) and the
    duplicate count.  ``keep='first'`` semantics."""
    return (
        df.select(content_fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# ---------------------------------------------------------------------------
# shared bucket-cap helper
# ---------------------------------------------------------------------------


def cap_buckets(
    df: DataFrame, keys: list[str], max_bucket: int | None
) -> DataFrame:
    """Drop buckets larger than ``max_bucket`` BEFORE a pair-expanding
    self-join (the quadratic-blowup guard).  A dropped bucket means
    "everything here is near-identical" — route those through
    dedup_exact instead.  No-op when ``max_bucket`` is None."""
    if max_bucket is None:
        return df
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("__bs", F.count(F.lit(1)).over(w))
        .filter(F.col("__bs") <= max_bucket)
        .drop("__bs")
    )


# ---------------------------------------------------------------------------
# shingling (shared by minhash / jaccard)
# ---------------------------------------------------------------------------


def _bt(name: str) -> str:
    """Backtick-quote a column name for SQL-text assembly."""
    return "`" + name.replace("`", "``") + "`"


# The tokenizer and the two shingle builders exist once, as SQL text:
# the minhash pipeline splices them into its CTE and the Column
# helpers below parse the same strings.  Refs are PRE-QUOTED.


def _tokens_sql(text: str) -> str:
    """Whitespace tokens of lower-cased ``text``."""
    return f"split(lower(trim({text})), '\\\\s+')"


def _word_shingles_sql(toks: str, k: int) -> str:
    """k-shingles from a (pre-staged) token array; docs shorter than
    k tokens produce their full content as the one shingle.  Each
    shingle is built by k direct element lookups + one concat (no
    per-shingle slice allocation — measured ~25% faster)."""
    parts = ", ' ', ".join(f"{toks}[i{j - 1:+d}]" for j in range(k))
    return (
        f"CASE WHEN size({toks}) >= {k} "
        f"THEN transform(sequence(1, size({toks}) - {k - 1}), i -> concat({parts})) "
        f"ELSE array(concat_ws(' ', {toks})) END"
    )


def _char_shingles_sql(text: str, k: int) -> str:
    """Character k-grams of a (pre-staged, normalized) string; strings
    shorter than k produce themselves as the one shingle."""
    return (
        f"CASE WHEN length({text}) >= {k} "
        f"THEN transform(sequence(1, length({text}) - {k - 1}), i -> substr({text}, i, {k})) "
        f"ELSE array({text}) END"
    )


def _word_tokens(text_col: str) -> Column:
    """Whitespace tokens of lower-cased ``text_col`` — stage this in
    its OWN select before `_shingles_from_tokens`: a bound attribute
    reference evaluates the split once per row, while an inline split
    expression is re-evaluated per shingle inside the transform lambda
    (measured ~40% of the whole minhash signature cost)."""
    return F.expr(_tokens_sql(_bt(text_col)))


def _shingles_from_tokens(toks_col: str, k: int) -> Column:
    """k-shingles of the staged token-array column ``toks_col``."""
    return F.expr(_word_shingles_sql(_bt(toks_col), k))


def doc_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3, unit: str = "word"
) -> DataFrame:
    """Distinct (id, shingle) pairs — the inverted-index input.
    Fans out small scans first: shingling+hashing are CPU-bound.  The
    char unit stages the normalized text too — an inline
    lower(trim()) inside the substr lambda re-normalizes the whole
    string once per character position (the same trap the word
    branch's token staging closes)."""
    df = ensure_parallelism(df)
    if unit == "word":
        staged = df.select(F.col(id_col), _word_tokens(text_col).alias("__t"))
        shingles = _shingles_from_tokens("__t", k)
    else:
        staged = df.select(F.col(id_col), F.lower(F.trim(F.col(text_col))).alias("__c"))
        shingles = F.expr(_char_shingles_sql("__c", k))
    return staged.select(F.col(id_col), F.explode(shingles).alias("shingle")).distinct()


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# smallest prime > 2^32: (h1 + i*h2) stays well inside int64 for any
# practical num_hashes, and % p is exact in both Spark and DuckDB
MINHASH_P = 4294967311


# names the staged signature/banding pipeline owns: carrying a column
# with one of these would silently clobber a staged projection or
# produce duplicate/ambiguous output columns
_CARRY_RESERVED = frozenset({"band", "bkey", "__c", "__sh", "__hp", "__mins", "__t"})


def _minhash_pipeline_sql(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    hash_impl: str,
    unit: str,
    carry: tuple[str, ...],
    out: str,
    prefix: str = "mh",
) -> DataFrame:
    """The staged signature/banding pipeline as ONE parameterized
    ``spark.sql`` statement — the only spelling of the minhash
    family's kernel, run unchanged on batch and streaming frames.

    Universal-hash minhash: each shingle gets ONE base hash split into
    two 32-bit halves (h1, h2) — md5 hex halves via conv (byte-identical
    in any engine, the oracle path) or the xxhash64 long split (the
    production default) — and seed i's value is (h1 + i*h2) % p (the
    Kirsch-Mitzenmacher double-hashing construction: 16x fewer hash
    calls than hashing (seed, shingle) per seed, same LSH guarantees).
    All seeds' minimums come out of ONE array-state fold (measured ~25%
    faster than a pass per seed); the lambda's index IS the seed.

    STAGED projections: tokens, shingles, halves and the min fold are
    each their own CTE select, so the O(tokens^2) shingle build and the
    per-shingle hash run once, not once per seed (inlining the
    tokenizer alone cost ~40%; an early one-select form measured 11x
    slower at sf0.1).  One statement analyzes once: assembling the
    same stages through DataFrame selects cost ~0.5 s of py4j and
    per-select analysis per build (r14).

    ``out``: "signatures" (id, carry..., {prefix}0..{prefix}N) or
    "band_keys" (id, carry..., band, bkey), where a band's key is the
    md5 of its '|'-joined decimal seeds (DuckDB casts BIGINT to the
    same string) or one xxhash64 over them.
    """
    k = shingle_k
    idq = _bt(id_col)
    carryq = "".join(f", {_bt(c)}" for c in carry)
    if unit == "word":
        stage_in = (
            f"WITH __mh_t AS (SELECT {idq}{carryq}, "
            f"{_tokens_sql(_bt(text_col))} AS __t FROM {{src}}),\n"
            f"__mh_s AS (SELECT {idq}{carryq}, {_word_shingles_sql('__t', k)} AS __sh "
            "FROM __mh_t)"
        )
    elif unit == "char":
        stage_in = (
            f"WITH __mh_c AS (SELECT {idq}{carryq}, "
            f"lower(trim({_bt(text_col)})) AS __c FROM {{src}}),\n"
            f"__mh_s AS (SELECT {idq}{carryq}, {_char_shingles_sql('__c', k)} AS __sh "
            "FROM __mh_c)"
        )
    else:
        raise ValueError(f"unit must be word|char, got {unit!r}")
    if hash_impl == "xxhash64":
        hp = (
            "named_struct('h1', shiftright(xxhash64(x), 32) & 4294967295, "
            "'h2', xxhash64(x) & 4294967295)"
        )
    elif hash_impl == "md5":
        hp = (
            "named_struct('h1', cast(conv(substring(md5(x), 1, 8), 16, 10) as bigint), "
            "'h2', cast(conv(substring(md5(x), 9, 8), 16, 10) as bigint))"
        )
    else:
        raise ValueError(f"hash_impl must be md5|xxhash64, got {hash_impl!r}")
    sql = (
        f"{stage_in},\n"
        f"__mh_h AS (SELECT {idq}{carryq}, transform(__sh, x -> {hp}) AS __hp FROM __mh_s),\n"
        f"__mh_m AS (SELECT {idq}{carryq}, aggregate(__hp, "
        f"array_repeat(cast({MINHASH_P} as bigint), {num_hashes}), "
        f"(acc, x) -> transform(acc, (c, i) -> least(c, (x.h1 + i * x.h2) % {MINHASH_P}))"
        f") AS __mins FROM __mh_h)"
    )
    if out == "signatures":
        seed_cols = ", ".join(
            f"element_at(__mins, {j + 1}) AS {_bt(prefix + str(j))}"
            for j in range(num_hashes)
        )
        sql += f"\nSELECT {idq}{carryq}, {seed_cols} FROM __mh_m"
    elif out == "band_keys":
        r = num_hashes // bands
        structs = []
        for b in range(bands):
            cols = ", ".join(f"element_at(__mins, {b * r + j + 1})" for j in range(r))
            if hash_impl == "xxhash64":
                bkey = f"cast(xxhash64({cols}) as string)"
            else:
                bkey = f"md5(concat_ws('|', {cols}))"
            structs.append(f"named_struct('band', {b}, 'bkey', {bkey})")
        sql += (
            f"\nSELECT {idq}{carryq}, bb.band AS band, bb.bkey AS bkey "
            f"FROM __mh_m LATERAL VIEW explode(array({', '.join(structs)})) __mh_e AS bb"
        )
    else:
        raise ValueError(f"out must be signatures|band_keys, got {out!r}")
    return df.sparkSession.sql(sql, src=df)


def _check_carry(carry, num_hashes: int | None = None) -> None:
    bad = sorted(set(carry) & _CARRY_RESERVED)
    if num_hashes:
        bad += [c for c in carry if c.startswith("mh") and c[2:].isdigit()]
    if bad:
        raise ValueError(
            f"carry column(s) {bad} collide with the signature pipeline's "
            f"internal/output names ({sorted(_CARRY_RESERVED)}, mh0..mhN) — "
            "rename them before carrying"
        )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 3,
    hash_impl: str = "xxhash64",
    unit: str = "word",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document MinHash signature (mh0..mhN longs): for seed i,
    the minimum of (h1 + i*h2) % p over the doc's shingles, where
    (h1, h2) are the halves of ONE base hash per shingle
    (``_minhash_pipeline_sql``) — universal-hash minhash.
    ``hash_impl``: "xxhash64" (default, native long hash) or "md5"
    (hex-derived, byte-identical in any engine — the oracle path).

    Row-local and ZERO-exchange: a document is one row and min() is
    insensitive to duplicate shingles, so the seeds' mins are one
    array fold — no explode/distinct/groupBy (the previous
    formulation's two shuffles) — and the same statement runs on
    batch and streaming frames.

    ``carry`` names extra columns of ``df`` threaded through every
    staged select into the output — for SHORT payloads (a normalized
    name in ``fuzzy_join``) that downstream wants without a join-back.
    Don't carry document-sized text: it rides every shuffle after."""
    _check_carry(carry, num_hashes)
    return _minhash_pipeline_sql(
        ensure_parallelism(df),
        id_col=id_col, text_col=text_col, num_hashes=num_hashes,
        bands=1, shingle_k=shingle_k, hash_impl=hash_impl,
        unit=unit, carry=tuple(carry), out="signatures",
    )


def band_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    hash_impl: str = "xxhash64",
    unit: str = "word",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, band, bkey) LSH bucket rows: the signature split into
    ``bands`` bands of ``num_hashes/bands`` rows, each hashed to one
    bucket key.  The shared front half of ``minhash_candidates``
    (within-corpus self-join) and ``minhash_against`` (cross-corpus
    membership probe).  ``carry`` columns ride through to the output
    (one copy per band row — short payloads only)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands ({bands}); "
            "a remainder would silently drop hashes and change the LSH threshold"
        )
    _check_carry(carry, num_hashes)
    return _minhash_pipeline_sql(
        ensure_parallelism(df),
        id_col=id_col, text_col=text_col, num_hashes=num_hashes,
        bands=bands, shingle_k=shingle_k, hash_impl=hash_impl,
        unit=unit, carry=tuple(carry), out="band_keys",
    )


def minhash_against(
    batch: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    hash_impl: str = "xxhash64",
) -> DataFrame:
    """Cross-corpus NEAR-dup flagging: the distinct batch ids whose
    MinHash signature shares any LSH band bucket with any reference
    document — ``dedup_against``'s recall-oriented sibling for the
    "new crawl vs existing corpus" step when exact fingerprints are
    too strict.

    Scale shape: there is NO pair expansion at all — the reference
    side collapses to its DISTINCT (band, bkey) set before a LEFT
    SEMI join (existence is the question, so no ``max_bucket`` cap is
    even needed; a degenerate mega-bucket costs one row here).  Both
    sides are one shingle+min aggregation each; the join shuffles
    bucket keys, never documents.  Drop flagged ids with a left-anti
    join against this result, or route them to ``levenshtein_refine``
    for certification."""
    bb = band_buckets(batch, id_col, text_col, num_hashes, bands, shingle_k, hash_impl)
    rb = band_buckets(
        reference, id_col, text_col, num_hashes, bands, shingle_k, hash_impl
    ).select("band", "bkey").distinct()
    return bb.join(rb, ["band", "bkey"], "left_semi").select(id_col).distinct()


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int | None = 1000,
    hash_impl: str = "xxhash64",
    buckets: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: split the signature into ``bands`` bands
    of ``num_hashes/bands`` rows each, hash each band, and emit all
    (id_a < id_b) pairs sharing any band bucket.

    ``max_bucket`` drops degenerate buckets (boilerplate text) before
    the quadratic pair expansion — at 100 TB this is the difference
    between a join and an outage; dropped buckets mean "everything
    here is near-identical", which callers handle via dedup_exact.

    ``buckets``: optionally a pre-built, ALREADY-MATERIALIZED
    (id, band, bkey) frame (``band_buckets``/``minhash_band_keys``
    output — the two are bit-identical by shared construction).  A
    caller that also needs the banding for something else (an audit,
    a stats pass) builds it once, ``materialize_shared``s it, and
    passes it here so the shingle+minhash pipeline runs once instead
    of once per consumer; the caller owns materialization in that
    case (an unmaterialized frame would recompute the pipeline for
    both sides of the self-join diamond below).
    """
    if buckets is None:
        buckets = band_buckets(
            df, id_col, text_col, num_hashes, bands, shingle_k, hash_impl
        )
        buckets = cap_buckets(buckets, ["band", "bkey"], max_bucket)
        # the self-join is a diamond DAG: without materializing, Spark
        # recomputes the whole shingle+md5 pipeline for BOTH sides
        # (verified via .explain: 2 FileScans, 0 ReusedExchange)
        from flox_spark.plans.util import materialize_shared

        buckets = materialize_shared(buckets)
    else:
        if max_bucket is not None:
            # the cap's bucket-size window sits ON TOP of the caller's
            # materialization — without re-materializing, the window
            # (though not the pipeline) recomputes on both sides of
            # the self-join diamond below
            from flox_spark.plans.util import materialize_shared

            buckets = materialize_shared(
                cap_buckets(buckets, ["band", "bkey"], max_bucket)
            )
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    df_max: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs found via
    the inverted shingle index.  ``df_max`` drops shingles appearing
    in more than that many documents (stopword-like shingles create
    O(df^2) pairs and contribute little discrimination).

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    With ``df_max`` set, the score is exact Jaccard over the FILTERED
    shingle universe (sizes and intersections both exclude the dropped
    high-frequency shingles) — a consistent metric, not a mix of the
    two universes.
    """
    # sh feeds the pair join twice plus sizes (and freq):
    # materialize the inverted index once instead of re-shingling
    from flox_spark.plans.util import materialize_shared

    sh = materialize_shared(doc_shingles(df, id_col, text_col, k))
    if df_max is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        sh = materialize_shared(
            sh.join(freq.filter(F.col("__df") <= df_max), "shingle").drop("__df")
        )
    # sizes AFTER the df_max filter: |A|, |B| and |A∩B| must count the
    # same shingle universe or near-threshold pairs get silently dropped
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        shared.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn("jaccard", F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def _simhash_pipeline_sql(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    hex_chars: int,
    hash_impl: str,
    carry: tuple[str, ...],
) -> DataFrame:
    """``simhash_signatures``' kernel as ONE parameterized ``spark.sql``
    statement, run unchanged on batch and streaming frames (the
    ``_minhash_pipeline_sql`` rationale: one analysis pass instead of
    one per select).

    Each token's hash is read as a long: xxhash64 directly, or md5's
    first ``hex_chars`` hex digits through one conv (two for 16
    chars: conv of >15 hex digits overflows the signed-long cast, so
    two 32-bit halves combine with shiftleft|or).  All ``hex_chars *
    4`` bit votes come out of ONE array-state fold over the token
    array (measured ~2x over a pass per bit); the flat vote index
    i = 4p+j reads hex char p's bit 3-j, so the hex rebuild below is
    the same for both hashes.  NULL-text rows have no tokens and are
    dropped, matching the grouped formulation (whose explode emits no
    rows for them) instead of an all-zero signature that would
    collide all NULL docs."""
    nbits = hex_chars * 4
    idq = _bt(id_col)
    carryq = "".join(f", {_bt(c)}" for c in carry)
    toks = f"array_distinct({_tokens_sql(_bt(text_col))})"
    if hash_impl == "xxhash64":
        hs = f"transform({toks}, t -> xxhash64(t))"
        bitpos = "i + 3 - (i % 4) * 2"
    else:  # md5 (validated by the caller)
        if hex_chars <= 15:
            tok_long = f"cast(conv(substring(md5(t), 1, {hex_chars}), 16, 10) as bigint)"
        else:
            tok_long = (
                f"shiftleft(cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint), "
                f"{4 * (hex_chars - 8)}) | "
                f"cast(conv(substring(md5(t), 9, {hex_chars - 8}), 16, 10) as bigint)"
            )
        hs = f"transform({toks}, t -> {tok_long})"
        bitpos = f"{nbits - 1} - i"
    votes = (
        f"aggregate(__hs, array_repeat(cast(0 as bigint), {nbits}), "
        f"(acc, h) -> transform(acc, (c, i) -> c + getbit(h, {bitpos}) * 2 - 1))"
    )
    chars = []
    for p in range(hex_chars):
        val = " + ".join(
            f"(CASE WHEN element_at(__v, {p * 4 + j + 1}) > 0 THEN {2 ** (3 - j)} ELSE 0 END)"
            for j in range(4)
        )
        chars.append(f"substr('{_HEX}', ({val}) + 1, 1)")
    sql = (
        f"WITH __sh_h AS (SELECT {idq}{carryq}, {hs} AS __hs FROM {{src}} "
        f"WHERE {_bt(text_col)} IS NOT NULL),\n"
        f"__sh_v AS (SELECT {idq}{carryq}, {votes} AS __v FROM __sh_h)\n"
        f"SELECT {idq}{carryq}, concat({', '.join(chars)}) AS simhash FROM __sh_v"
    )
    return df.sparkSession.sql(sql, src=df)


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hex_chars: int = 8,
    hash_impl: str = "xxhash64",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """SimHash over distinct tokens (unit weights): for each of
    ``hex_chars * 4`` bits, sum +1/-1 votes of hash(token)'s bit and
    emit the majority as a hex signature string.  Near-duplicates
    share signatures (or differ in few bits — pair via banding on
    signature prefixes).  ``hash_impl="xxhash64"`` votes on the bits
    of one native 64-bit hash per token (max 16 hex chars) instead of
    md5 hex digits — same plan shape, ~no string work.

    Plan shape: a document is one row, so the votes are row-local
    array folds (``aggregate`` over ``transform``'d hashes) — a
    pure projection with ZERO exchanges, like the text operators, and
    one statement (``_simhash_pipeline_sql``) for batch and streaming
    frames; the explode -> groupBy formulation this replaces is kept
    as ``_simhash_signatures_grouped`` and equality-tested.

    ``carry`` names extra columns of ``df`` threaded through the
    staged selects into the output (the ``minhash_signatures``
    pattern) — for a caller that needs row-aligned extras (an audit's
    token-set key) WITHOUT a join-back.  Short payloads only: carried
    columns ride every projection after.
    """
    bad_carry = sorted(set(carry) & {"__hs", "__v", "simhash"})
    if bad_carry:
        raise ValueError(
            f"carry column(s) {bad_carry} collide with the signature "
            "pipeline's internal/output names (__hs, __v, simhash) — "
            "rename them before carrying"
        )
    if hash_impl not in ("md5", "xxhash64"):
        raise ValueError(f"hash_impl must be md5|xxhash64, got {hash_impl!r}")
    if hex_chars > 16:
        raise ValueError(f"{hash_impl} simhash supports at most 16 hex chars")
    return _simhash_pipeline_sql(
        ensure_parallelism(df),
        id_col=id_col, text_col=text_col, hex_chars=hex_chars,
        hash_impl=hash_impl, carry=tuple(carry),
    )


def _simhash_signatures_grouped(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hex_chars: int = 8,
) -> DataFrame:
    """Original explode -> distinct -> groupBy formulation (one
    shuffle); retained as the differential witness for the row-local
    path above."""
    toks = F.explode(
        F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), "\\s+"))
    ).alias("tok")
    base = ensure_parallelism(df).select(F.col(id_col), toks).withColumn("h", F.md5(F.col("tok")))
    # per hex char p: v = 0..15 from the md5 hex digit
    char_exprs = []
    for p in range(hex_chars):
        v = (F.instr(F.lit(_HEX), F.substring(F.col("h"), p + 1, 1)) - 1).cast("int")
        char_exprs.append(v.alias(f"v{p}"))
    base = base.select(id_col, *char_exprs)
    # bit j of char p: (v >> (3-j)) & 1 ; vote = sum(2*bit - 1)
    votes = []
    for p in range(hex_chars):
        for j in range(4):
            shift = 3 - j
            bit = F.floor(F.col(f"v{p}") / (2 ** shift)) % 2
            votes.append(F.sum(bit * 2 - 1).alias(f"w{p}_{j}"))
    agg = base.groupBy(id_col).agg(*votes)
    # rebuild hex chars from majority bits
    out_chars = []
    for p in range(hex_chars):
        val = None
        for j in range(4):
            bit = F.when(F.col(f"w{p}_{j}") > 0, F.lit(2 ** (3 - j))).otherwise(F.lit(0))
            val = bit if val is None else val + bit
        out_chars.append(F.lit(_HEX).substr(val + 1, F.lit(1)))
    sig = F.concat(*out_chars)
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hex_chars: int = 8,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = 1000,
    hash_impl: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance: band each
    signature into ``bands`` substrings, bucket-join docs sharing any
    band (a pair within ``max_hamming`` bits differs in at most
    ``max_hamming`` < bands bands, so by pigeonhole it shares at least
    one — guaranteed recall when ``max_hamming < bands``), then filter
    candidates by exact hamming distance (``bit_count`` of the xor'd
    signatures — pure codegen).

    Output: (id_a, id_b, hamming) with id_a < id_b.  ``max_bucket``
    caps degenerate buckets like the minhash path."""
    if hex_chars % bands != 0:
        raise ValueError(f"hex_chars ({hex_chars}) must divide into bands ({bands})")
    if hex_chars > 16:
        raise ValueError("hamming via 64-bit xor supports at most 16 hex chars")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}): the "
            "pigeonhole recall guarantee needs one unchanged band per pair; "
            "raise bands (or hex_chars) to allow a larger distance"
        )
    r = hex_chars // bands
    sigs = simhash_signatures(df, id_col, text_col, hex_chars, hash_impl)
    # per-ROW slice longs for the hamming term: conv() over the
    # <=8-hex-char (32-bit) slices runs n times here instead of twice
    # per candidate PAIR (sf0.1: 5k rows vs 9.5M candidates).  Slices,
    # not one conv of the full signature: a 16-char signature with the
    # top bit set exceeds Long.MAX and casts to NULL, silently
    # dropping pairs.
    slice_cols = [
        F.conv(F.substring(F.col("simhash"), p + 1, 8), 16, 10)
        .cast("long")
        .alias(f"__sl{p // 8}")
        for p in range(0, hex_chars, 8)
    ]
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.substring(F.col("simhash"), b * r + 1, r).alias("bkey"),
            )
            for b in range(bands)
        ]
    )
    buckets = sigs.select(
        F.col(id_col), F.col("simhash"), *slice_cols, F.explode(band_structs).alias("bb")
    ).select(
        id_col, "simhash", *[f"__sl{i}" for i in range(len(slice_cols))],
        F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"),
    )
    buckets = cap_buckets(buckets, ["band", "bkey"], max_bucket)
    from flox_spark.plans.util import materialize_shared

    buckets = materialize_shared(buckets)
    a, b = buckets.alias("a"), buckets.alias("b")
    ham_terms = [
        F.bit_count(
            F.col(f"a.__sl{i}").bitwiseXOR(F.col(f"b.__sl{i}"))
        )
        for i in range(len(slice_cols))
    ]
    ham = ham_terms[0]
    for h in ham_terms[1:]:
        ham = ham + h
    base_cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    if max_bucket is None:
        # FIRST-MATCHING-BAND dedup (r11): a pair sharing m bands
        # would reach the hamming filter m times and need a
        # candidate-sized distinct to collapse — instead each pair is
        # emitted only from its lowest matching band (no earlier band
        # substring agrees), which is a pure projection predicate
        # over columns already on both sides.  Kills the 9.5M-row
        # distinct exchange at sf0.1 (measured in SCALE.md r11).
        # Only valid UNCAPPED: with max_bucket, a pair whose first
        # matching band got capped away must still surface through a
        # later surviving band, so the capped path keeps distinct.
        first_match = F.expr(
            f"a.band = 0 OR NOT exists(sequence(0, a.band - 1), "
            f"j -> substring(a.simhash, j * {r} + 1, {r}) = "
            f"substring(b.simhash, j * {r} + 1, {r}))"
        )
        return (
            a.join(b, base_cond & first_match)
            .withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                "hamming",
            )
        )
    cand = (
        a.join(b, base_cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"a.__sl{i}").alias(f"__sla{i}") for i in range(len(slice_cols))],
            *[F.col(f"b.__sl{i}").alias(f"__slb{i}") for i in range(len(slice_cols))],
        )
        .distinct()
    )
    ham2 = F.bit_count(F.col("__sla0").bitwiseXOR(F.col("__slb0")))
    for i in range(1, len(slice_cols)):
        ham2 = ham2 + F.bit_count(F.col(f"__sla{i}").bitwiseXOR(F.col(f"__slb{i}")))
    return (
        cand.withColumn("hamming", ham2.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# duplicate clusters (connected components over candidate pairs)
# ---------------------------------------------------------------------------


def _literal_cc_cap(df: DataFrame) -> int | None:
    """Caller-side gate for ``dedup_clusters``' literal path: the
    standard 32 MB plan-stats gate every other literal collect here
    uses, applied to the CORPUS/EMBEDDING input (the pair frame's own
    post-join stats are size products — useless).  Returns the pair
    cap to pass as ``literal_max_pairs``, or None for the iterative
    loop."""
    from flox_spark.plans.util import estimate_size_bytes

    size = estimate_size_bytes(df)
    if size is not None and size < (32 << 20) and not df.isStreaming:
        return 100_000
    return None


def _literal_cc(spark, rows, id_type) -> DataFrame:
    """Driver-side union-find over a collected (bounded) pair list:
    union-by-minimum keeps each component's root at its minimum id,
    so ``find(n)`` IS the min-reachable representative — bit-identical
    to the iterative min-label propagation and the oracle's recursive
    CTE.  Returns an Arrow LocalRelation (no job to broadcast)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        a, b = row[0], row[1]
        for n in (a, b):
            parent.setdefault(n, n)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    t = id_type.simpleString()
    if not parent:
        return spark.createDataFrame([], schema=f"doc_id {t}, cluster_id {t}")
    import pandas as pd

    data = sorted((n, find(n)) for n in parent)
    pdf = pd.DataFrame(
        {
            "doc_id": [d for d, _ in data],
            "cluster_id": [c for _, c in data],
        }
    )
    return spark.createDataFrame(pdf, schema=f"doc_id {t}, cluster_id {t}")


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    literal_max_pairs: int | None = None,
) -> DataFrame:
    """Connected components over candidate-pair edges: every document
    that appears in a pair is assigned the MINIMUM id reachable
    through the pair graph as its ``cluster_id`` (the canonical
    representative).  The step a real dedup pipeline needs between
    "similar pairs" (minhash/jaccard/simhash output) and "which rows
    to keep": near-duplicates chain (A~B, B~C => one cluster).

    Spark-first iterative min-label propagation: each round joins the
    edge list with current labels and keeps the per-node minimum —
    converges in graph-diameter rounds (duplicate clusters are
    near-cliques, so typically 2-3).  Each round is one join + one
    groupBy, localCheckpointed to truncate lineage; convergence is
    detected by COUNTING CHANGED LABELS — type-agnostic, so string
    document ids work; a label-sum check would be NULL==NULL-vacuous
    for non-numeric ids and silently stop after one round,
    mislabeling any component of diameter >= 3.  The changed flag is
    FUSED into the round's label aggregate (r11): the union rows are
    tagged by source, so the per-node old label is available inside
    the same groupBy (``min(case when src=0)`` — every node has
    exactly one labels-side row) and the probe is a cheap
    filter-limit scan of the just-checkpointed frame instead of a
    second node-sized join per round.  Labels are elementwise
    non-increasing under min-propagation, so ``new < old`` is exact
    change detection for any ordered id type.  At 100 TB scale the
    edge list is |candidate pairs|-sized — orders of magnitude below
    the corpus — and every round shuffles only that.

    ``literal_max_pairs`` (r11, callers pass ``_literal_cc_cap(df)``
    under their 32 MB input gates): probe the pair frame with ONE
    bounded ``limit(cap+1)`` collect; when the whole graph fits (and
    carries no NULL ids), run union-find ON THE DRIVER — microseconds
    against the loop's per-round join+checkpoint+probe jobs (sf0.1
    semdedup: 52 jobs -> ~a handful) — and re-enter the plan as an
    Arrow LocalRelation.  Union-by-minimum makes the result
    bit-identical to the loop.  Over the cap (or NULL ids, or id
    types pandas can't round-trip) the probe is abandoned and the
    loop runs unchanged — worst case one extra cheap pass over a
    gated-small pair subtree; web-scale graphs never probe because
    their callers' gates never fire.

    Output: (doc_id, cluster_id) for every id present in ``pairs``;
    docs in no pair are implicitly their own singleton cluster.
    """
    if literal_max_pairs and not pairs.isStreaming:
        cap = int(literal_max_pairs)
        head = pairs.select(id_a, id_b).limit(cap + 1).collect()
        if len(head) <= cap and all(
            r[0] is not None and r[1] is not None for r in head
        ):
            try:
                return _literal_cc(
                    pairs.sparkSession, head, pairs.schema[id_a].dataType
                )
            except Exception:
                pass  # exotic id type: the declarative loop handles it
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
        .localCheckpoint()  # reused every round: cut off the pair pipeline
    )
    labels = edges.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("lbl"))
    labels = labels.localCheckpoint()
    for _ in range(max_iter):
        prop = edges.join(labels, "u").select(
            F.col("v").alias("u"), "lbl", F.lit(1).alias("__src")
        )
        base = labels.select("u", "lbl", F.lit(0).alias("__src"))
        old_lbl = F.min(F.when(F.col("__src") == 0, F.col("lbl")))
        new_labels = (
            base.union(prop)
            .groupBy("u")
            .agg(
                F.min("lbl").alias("lbl"),
                (F.min("lbl") < old_lbl).alias("__chg"),
            )
            # EAGER on purpose: the probe below is a limit(1) —
            # CollectLimit computes partitions incrementally and can
            # short-circuit, which would leave a lazy checkpoint
            # PARTIALLY materialized and force the next round to
            # recompute the whole union+agg from lineage (measured:
            # the lazy variant ran slower despite one fewer job)
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("__chg")).limit(1).count()
        labels = new_labels.select("u", "lbl")
        if changed == 0:
            break
    return labels.select(F.col("u").alias("doc_id"), F.col("lbl").alias("cluster_id"))


def dedup_keep_representatives(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every clustered document except its cluster representative
    (the row whose id equals cluster_id); unclustered rows pass
    through.  The terminal step of the near-dedup pipeline."""
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# cross-corpus (incremental) dedup + pair refinement
# ---------------------------------------------------------------------------


def content_fingerprint(text: Column) -> Column:
    """The normalized-content fingerprint shared by ``dedup_exact``
    and ``dedup_against``: md5 of whitespace-collapsed, lower-cased,
    trimmed text.  One definition so batch-vs-batch and
    batch-vs-corpus dedup can never silently diverge."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), "\\s+", " "))


def dedup_against(
    batch: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: drop batch documents whose normalized
    content already exists in a reference corpus (the "dedup the new
    crawl against everything we already have" step every growing
    training corpus needs).  Returns the surviving batch rows,
    original columns intact.

    Scale shape: the reference side is reduced to DISTINCT
    fingerprints before the join (corpus-sized scan, fingerprint-sized
    shuffle), then a LEFT ANTI hash join on the 16-byte fingerprint.
    Catalyst broadcasts the fingerprint set when it is provably small;
    a billion-document reference falls back to a plain shuffled anti
    join, which is exactly the right plan at that size.  The batch is
    scanned once; no pair expansion anywhere."""
    ref_fp = reference.select(
        content_fingerprint(F.col(text_col)).alias("__fp")
    ).distinct()
    return (
        batch.withColumn("__fp", content_fingerprint(F.col(text_col)))
        .join(ref_fp, "__fp", "left_anti")
        .drop("__fp")
    )


def levenshtein_refine(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 20,
    prefix_chars: int = 512,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Verify LSH candidate pairs with an edit-distance check: keep
    pairs whose (prefix-truncated) texts are within ``max_dist``
    Levenshtein edits, adding the distance as ``edit_dist``.  The
    standard precision stage AFTER MinHash/SimHash recall — bucketing
    finds "probably similar", edit distance certifies "actually
    similar".

    Scale shape: the quadratic primitive (Levenshtein is O(len_a *
    len_b) per pair) is bounded two ways — it only ever runs on the
    candidate-pair set (LSH-bucketed, never all-pairs), and both
    sides are truncated to ``prefix_chars`` so one pair costs at most
    prefix² character ops regardless of document length.  Text lookup
    is two hash joins of the pair ids against the docs table, which
    shuffle only (id, prefix) projections; no driver-side loops."""
    texts = docs.select(
        F.col(id_col), F.left(F.col(text_col), F.lit(prefix_chars)).alias("__t")
    )
    a = texts.select(F.col(id_col).alias(id_a), F.col("__t").alias("__ta"))
    b = texts.select(F.col(id_col).alias(id_b), F.col("__t").alias("__tb"))
    # the threshold form early-exits the DP once a row of the edit
    # matrix exceeds max_dist (returns -1), turning the worst case
    # from prefix² into prefix*max_dist per pair
    dist = F.levenshtein(F.col("__ta"), F.col("__tb"), max_dist)
    return (
        pairs.join(a, id_a)
        .join(b, id_b)
        .withColumn("edit_dist", dist)
        .filter(F.col("edit_dist") >= F.lit(0))
        .drop("__ta", "__tb")
    )


def minhash_jaccard_estimate(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 3,
    hash_impl: str = "xxhash64",
    out: str = "jaccard_est",
) -> DataFrame:
    """Estimate the Jaccard similarity of candidate pairs from
    signature agreement: the fraction of equal MinHash slots is an
    unbiased estimator of J(a, b) — the cheap verification step
    between LSH recall and exact certification (``levenshtein_refine``
    / ``ngram_jaccard_pairs`` compute the real thing at higher cost).

    Output: (id_a, id_b, <out>) with the estimate in [0, 1] at
    granularity 1/num_hashes.  Two broadcast-or-shuffle joins of the
    pair list against the signature frame; signatures are computed
    once (row-local, zero exchanges) and shared by both sides via
    materialization."""
    from flox_spark.plans.util import materialize_shared

    sigs = materialize_shared(
        minhash_signatures(df, id_col, text_col, num_hashes, shingle_k, hash_impl)
    )
    a = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh{i}").alias(f"__a{i}") for i in range(num_hashes)],
    )
    b = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh{i}").alias(f"__b{i}") for i in range(num_hashes)],
    )
    eq = None
    for i in range(num_hashes):
        e = (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int")
        eq = e if eq is None else eq + e
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (eq / F.lit(float(num_hashes))).alias(out),
        )
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_col: str,
    right_id: str,
    right_col: str,
    max_dist: int = 2,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 2,
    hash_impl: str = "xxhash64",
    max_bucket: int | None = 1000,
    out: str = "edit_dist",
) -> DataFrame:
    """Fuzzy string join (entity resolution): pairs of (left, right)
    rows whose normalized strings are within ``max_dist`` Levenshtein
    edits.  Output: (left_id, right_id, <out>).

    Spark-first two-tier plan — the relational fuzzy join Spark lacks:

    1. RECALL: char ``shingle_k``-gram MinHash band keys on both
       sides (the same universal-hash machinery as document dedup,
       ``unit="char"``), equi-joined on (band, bucket) — candidates
       are bucket-mates, never a cross join.  Banding recall is
       probabilistic: strings within a few edits share most char
       grams, so any band agreeing pairs them; raise ``bands`` (or
       lower ``shingle_k``) for higher recall on short strings.
    2. PRECISION: exact ``levenshtein`` (JVM builtin, with the
       ``max_dist`` threshold argument for early exit) certifies each
       candidate on the normalized strings.

    ``max_bucket`` caps degenerate buckets (a shared boilerplate
    token) before the pair expansion — note it bounds each SIDE, so a
    bucket can still emit up to ``max_bucket^2`` candidate pairs;
    the default (1000) bounds the worst bucket at 1M cheap
    early-exit levenshtein calls.

    Plan shape: the normalized strings are CARRIED through the
    banding (short entity strings, cheap in the bucket shuffle) so
    certification runs inside the bucket join itself — no pair
    ``distinct`` before two string join-backs.  Certify-then-distinct
    is result-identical to distinct-then-certify (``edit_dist`` is a
    function of the pair) but the distinct now sees only SURVIVING
    pairs, and the early-exit levenshtein on false candidates is far
    cheaper than shuffling them through a distinct + two joins
    (measured 8.4s -> ~2s on the sf0.1 bench row, where word-soup
    2-gram banding makes ~40% of all cross pairs candidates)."""
    lb = band_buckets(
        left.select(
            F.col(left_id).alias("__lid"),
            F.lower(F.trim(F.col(left_col))).alias("__ls"),
        ),
        "__lid", "__ls", num_hashes, bands, shingle_k, hash_impl,
        unit="char", carry=("__ls",),
    )
    rb = band_buckets(
        right.select(
            F.col(right_id).alias("__rid"),
            F.lower(F.trim(F.col(right_col))).alias("__rs"),
        ),
        "__rid", "__rs", num_hashes, bands, shingle_k, hash_impl,
        unit="char", carry=("__rs",),
    )
    # AQE coalesces the cap window's small shuffle to ~1 partition,
    # which would serialize the certify join's levenshtein over every
    # candidate pair (expensive-per-row, cheap-bytes).  The stats-
    # gated fan-out re-spreads SMALL banded frames across the cores
    # and is a no-op once the frame is big enough to keep its
    # post-shuffle parallelism (measured: 3.2M-candidate certify
    # 4.3s -> 0.4s at sf0.1).
    lb = ensure_parallelism(cap_buckets(lb, ["band", "bkey"], max_bucket))
    rb = ensure_parallelism(cap_buckets(rb, ["band", "bkey"], max_bucket))
    dist = F.levenshtein(F.col("__ls"), F.col("__rs"), int(max_dist))
    # the |len| >= max_dist+1 difference bound is free and sound (an
    # insertion per missing char is forced), pruning before the DP
    lens = (
        F.abs(F.length(F.col("__ls")) - F.length(F.col("__rs")))
        <= int(max_dist)
    )
    return (
        lb.join(rb, ["band", "bkey"])
        .filter(lens)
        .withColumn("__d", dist)
        .filter(F.col("__d") >= 0)  # threshold form returns -1 past max_dist
        .select(
            F.col("__lid").alias(left_id),
            F.col("__rid").alias(right_id),
            F.col("__d").cast("long").alias(out),
        )
        .distinct()
    )
