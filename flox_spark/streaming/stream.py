"""Structured Streaming grouped reductions.

The reference has no streaming surface at all (SURVEY §2.5); this is
the Spark-native extension of the same declarative registry onto
unbounded data: the identical aggregate expressions from
``flox_spark.aggregations`` run inside a watermarked event-time
window — Spark's incremental state store plays the role that
flox's chunk/combine tree plays for static chunks.

Works on any streaming DataFrame (``spark.readStream...``).  At
scale: state is partitioned by (window, keys); the watermark bounds
state size; late rows beyond it are dropped — the standard Spark
semantics, surfaced with flox-style func names.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flox_spark.aggregations import REDUCTIONS, AggContext, Aggregation, agg_column
from flox_spark.dtypes import sql_quote


def _build_expr(df: DataFrame, func: str | Aggregation, value: str, fk: dict | None) -> Column:
    if isinstance(func, str):
        if func not in REDUCTIONS:
            raise ValueError(f"unknown reduction {func!r}")
        agg = REDUCTIONS[func]
    else:
        agg = func
    if agg.needs_order or agg.two_stage:
        raise ValueError(
            f"{agg.name} needs a total order or multiple passes — not available "
            "on an unbounded stream; use the batch engine on a sink table"
        )
    ctx = AggContext(sql_quote(value), df.schema[value].dataType, kwargs=dict(fk or {}))
    if agg.name in ("median", "nanmedian", "quantile", "nanquantile"):
        # exact quantile state would buffer EVERY value of every open
        # (window, key) in the state store — unbounded.  Streaming
        # quantiles therefore always use the mergeable
        # percentile_approx sketch (bounded state); warn when the
        # session options ask for exact so the accuracy change is loud.
        from flox_spark.options import OPTIONS, set_options

        if not OPTIONS["approx_quantile"]:
            import warnings

            warnings.warn(
                f"streaming {agg.name} uses percentile_approx (mergeable "
                "sketch state, bounded); exact quantiles need the batch "
                "engine on a sink table",
                stacklevel=3,
            )
        with set_options(approx_quantile=True):
            return agg_column(agg, ctx)
    return agg_column(agg, ctx)


def groupby_reduce_stream(
    df: DataFrame,
    *by: str,
    func: str | Aggregation,
    value: str,
    time_col: str,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
    finalize_kwargs: dict | None = None,
    alias: str | None = None,
) -> DataFrame:
    """Windowed grouped reduction on an event-time stream: the
    streaming analog of ``groupby_reduce`` with a tumbling (or
    sliding) window as an implicit extra grouper.

    Returns a streaming DataFrame with columns
    (window_start, window_end, *by, <alias>); attach your own
    ``writeStream`` sink/trigger/output-mode.
    """
    expr = _build_expr(df, func, value, finalize_kwargs)
    out_name = alias or (func if isinstance(func, str) else func.name)
    win = F.window(F.col(time_col), window, slide) if slide else F.window(F.col(time_col), window)
    keys = [F.col(b) for b in by]
    wdf = df.withWatermark(time_col, watermark)
    res = wdf.groupBy(win.alias("__w"), *keys).agg(expr.alias(out_name))
    return res.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        *by,
        out_name,
    )


def groupby_corr_stream(
    df: DataFrame,
    *by: str,
    x: str,
    y: str,
    time_col: str,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
    out: str = "corr",
) -> DataFrame:
    """Windowed per-group pearson correlation on an event-time stream
    — the streaming twin of ``flox_spark.groupby_corr``.

    Spark-first: the co-moment aggregates (``covar_pop``,
    ``stddev_pop``) are natively MERGEABLE, so windowed streaming
    state is three bounded running moments per (window, group) — no
    custom state code, no value buffering.  The same try_divide form
    as the batch operator keeps zero-variance windows NULL instead of
    an ANSI abort.  Pairwise missing deletion matches batch: rows
    where either side is missing are excluded."""
    from flox_spark.dtypes import sql_arith_input, sql_missing, sql_quote

    xdt, ydt = df.schema[x].dataType, df.schema[y].dataType
    qx, qy = sql_quote(x), sql_quote(y)
    either = f"{sql_missing(qx, xdt)} OR {sql_missing(qy, ydt)}"
    px = F.expr(f"CASE WHEN {either} THEN NULL ELSE {sql_arith_input(qx, xdt)[0]} END")
    py = F.expr(f"CASE WHEN {either} THEN NULL ELSE {sql_arith_input(qy, ydt)[0]} END")
    pearson = F.try_divide(F.covar_pop(px, py), F.stddev_pop(px) * F.stddev_pop(py))
    win = F.window(F.col(time_col), window, slide) if slide else F.window(F.col(time_col), window)
    res = (
        df.withWatermark(time_col, watermark)
        .groupBy(win.alias("__w"), *[F.col(b) for b in by])
        .agg(pearson.alias(out))
    )
    return res.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        *by,
        out,
    )


def stream_dedup_exact(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    time_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the first-seen document per
    normalized-content fingerprint, across micro-batches.

    Spark-first: the fingerprint is the same md5 projection as the
    batch ``dedup_exact`` and the cross-batch memory is Spark's own
    ``dropDuplicates`` state store — no custom state code.  With a
    ``time_col`` the watermark bounds state (fingerprints older than
    the horizon are forgotten — the standard streaming-dedup trade);
    without one, state grows with distinct content (exact forever-
    dedup, bounded by content cardinality).
    """
    from flox_spark.operators.dedup import content_fingerprint

    out = df.withColumn("fp", content_fingerprint(F.col(text_col)))
    if time_col is not None:
        # dropDuplicatesWithinWatermark: state entries expire once
        # older than the watermark horizon (bounded state)
        return out.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(["fp"])
    return out.dropDuplicates(["fp"])


def stream_dedup_against(
    stream: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Streaming twin of ``operators.dedup.dedup_against``: drop
    incoming documents whose normalized content already exists in a
    STATIC reference corpus (dedup the live crawl against everything
    already ingested).

    Spark-first: this is a stream-static LEFT ANTI join on the shared
    ``content_fingerprint`` — the static side's distinct-fingerprint
    table is planned per micro-batch like any batch anti join
    (broadcast when small), and the stream side needs NO state at all:
    cross-batch memory lives in the reference table, not the state
    store.  Compose with ``stream_dedup_exact`` upstream to also
    dedup within the stream itself."""
    from flox_spark.operators.dedup import content_fingerprint

    ref_fp = reference.select(
        content_fingerprint(F.col(text_col)).alias("__fp")
    ).distinct()
    return (
        stream.withColumn("__fp", content_fingerprint(F.col(text_col)))
        .join(ref_fp, "__fp", "left_anti")
        .drop("__fp")
    )


def groupby_session_stream(
    df: DataFrame,
    *by: str,
    func: str | Aggregation,
    value: str,
    time_col: str,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    finalize_kwargs: dict | None = None,
    alias: str | None = None,
) -> DataFrame:
    """Session-window variant: groups rows separated by less than
    ``gap`` into one session per key (F.session_window)."""
    expr = _build_expr(df, func, value, finalize_kwargs)
    out_name = alias or (func if isinstance(func, str) else func.name)
    win = F.session_window(F.col(time_col), gap)
    wdf = df.withWatermark(time_col, watermark)
    res = wdf.groupBy(win.alias("__w"), *[F.col(b) for b in by]).agg(expr.alias(out_name))
    return res.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        *by,
        out_name,
    )


def groupby_reduce_stream_salted(
    df: DataFrame,
    *by: str,
    func: str,
    value: str,
    time_col: str,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    n_salt: int = 32,
    alias: str | None = None,
    salt_on: list[str] | None = None,
) -> DataFrame:
    """Salted streaming reduction — the unbounded twin of
    ``groupby_reduce_salted`` for skewed keys.

    A plain streaming aggregation hashes state by (window, keys): one
    hot key concentrates every update of its window on ONE state-store
    partition, serializing the hot path.  This spreads it exactly like
    the batch salt: stage 1 aggregates partials per
    (window, keys, salt) — n_salt parallel state entries per hot
    (window, key) — and stage 2 merges the partials with the same
    EXACT algebraic combines the batch path uses
    (``flox_spark.salting._specs``), as a chained tumbling-window
    aggregation (Spark >= 3.4 supports re-windowing an aggregated
    stream's window column; both stages run in one query, append
    mode).

    The salt must be DETERMINISTIC per row (retries must re-salt a row
    identically for exactly-once sinks): it hashes ``salt_on``
    (default: the time column + the value column).  Funcs:
    ``flox_spark.salting.SALTABLE``.  Tumbling windows only — a slide
    would need every pane's partials kept separate through the chain.
    """
    from flox_spark.dtypes import drop_missing, is_float_type, sql_missing, sql_quote, sql_skip
    from flox_spark.salting import SALTABLE, _specs

    if func not in SALTABLE:
        raise ValueError(f"salted streaming reduction supports {SALTABLE}, got {func!r}")
    from pyspark.sql.types import BooleanType, NumericType

    vdt = df.schema[value].dataType
    if not isinstance(vdt, (NumericType, BooleanType)):
        raise ValueError(
            f"salted reduction supports numeric/bool values, got {vdt.simpleString()!r}"
        )
    out = alias or func

    work = drop_missing(df, by)
    if is_float_type(vdt):
        v_raw = F.col(value)
        v_skip = F.expr(sql_skip(sql_quote(value), vdt))
    elif isinstance(vdt, BooleanType):
        v_raw = F.col(value).cast("long")
        v_skip = v_raw
    else:
        v_raw = F.col(value)
        v_skip = F.col(value)
    poison = F.expr(sql_missing(sql_quote(value), vdt))

    salt_cols = salt_on or [time_col, value]
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(n_salt))

    p_build, m_build = _specs(is_float_type(vdt), vdt)[func]
    partials = {k: c.alias(f"__p_{k}") for k, c in p_build(v_skip, v_raw, poison).items()}

    win = F.window(F.col(time_col), window)
    stage1 = (
        work.withWatermark(time_col, watermark)
        .withColumn("__salt", salt)
        .groupBy(win.alias("__w"), *[F.col(b) for b in by], F.col("__salt"))
        .agg(*partials.values())
    )
    merged = (
        stage1.groupBy(F.window(F.col("__w"), window).alias("__w2"), *[F.col(b) for b in by])
        .agg(m_build(lambda k: F.col(f"__p_{k}")).alias(out))
    )
    return merged.select(
        F.col("__w2.start").alias("window_start"),
        F.col("__w2.end").alias("window_end"),
        *by,
        out,
    )


def groupby_entropy_stream(
    df: DataFrame,
    *by: str,
    value: str,
    time_col: str,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    base: float = 2.0,
    out: str = "entropy",
) -> DataFrame:
    """Windowed per-group Shannon entropy on an event-time stream —
    the streaming twin of ``flox_spark.groupby_entropy``.

    Entropy needs per-value counts first, so this is a CHAINED
    tumbling-window aggregation (Spark >= 3.4 multi-stateful-operator
    support, same pattern as the salted twin): stage 1 keeps one
    bounded count per (window, group, distinct value) — state is
    distinct-value-sized, never row-sized — and stage 2 re-windows the
    closed counts and folds ``(t*ln t - sum(c*ln c)) / t / ln(base)``,
    the same single-pass algebraic form as batch.  Tumbling windows
    only; append mode."""
    import math as _math

    if base <= 0 or base == 1.0:
        raise ValueError("base must be positive and != 1")
    from flox_spark.dtypes import drop_missing

    work = drop_missing(df, [*by, value])

    win = F.window(F.col(time_col), window)
    stage1 = (
        work.withWatermark(time_col, watermark)
        .groupBy(win.alias("__w"), *[F.col(b) for b in by], F.col(value))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    tot = F.sum("__c")
    ent = (tot * F.log(tot) - F.sum(F.col("__c") * F.log("__c"))) / tot / F.lit(
        float(_math.log(base))
    )
    stage2 = (
        stage1.groupBy(F.window(F.col("__w"), window).alias("__w2"), *[F.col(b) for b in by])
        .agg(ent.alias(out))
    )
    return stage2.select(
        F.col("__w2.start").alias("window_start"),
        F.col("__w2.end").alias("window_end"),
        *by,
        out,
    )


def groupby_describe_stream(
    df: DataFrame,
    *by: str,
    value: str,
    time_col: str,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
    percentiles: tuple = (0.25, 0.5, 0.75),
    ddof: int = 1,
    accuracy: int = 10000,
) -> DataFrame:
    """Windowed per-group ``describe`` on an event-time stream — the
    streaming twin of ``flox_spark.groupby_describe(approx=True)``:
    count / mean / std / min / p<q>... / max per (window, group), the
    natural monitoring surface for a live ingest pipeline ("what does
    quality look like per language, hour by hour?").

    Spark-first: every member is a natively MERGEABLE aggregate —
    count/avg/stddev/min/max are algebraic, and the percentile members
    use the ``percentile_approx`` KLL sketch (merge-able streaming
    state, bounded by ``accuracy``) — so windowed state is a handful
    of moments plus one sketch per (window, group), never value
    buffering.  Exact percentiles are deliberately NOT offered here:
    they would buffer every value in state (the same hazard the batch
    ``approx=`` flag guards), and a drifting stream wants the sketch
    anyway.  NaN values are skipped (nan* policy); labels reuse the
    batch operator's collision-free scheme."""
    from flox_spark.dtypes import drop_missing, is_float_type

    vdt = df.schema[value].dataType
    work = drop_missing(df, by)
    v = F.col(value)
    if is_float_type(vdt):
        v = F.when(~F.isnan(v), v)

    aggs = [
        F.count(v).alias("count"),
        F.avg(v).alias("mean"),
        (F.stddev_samp(v) if ddof == 1 else F.stddev_pop(v)).alias("std"),
        F.min(v).alias("min"),
    ]
    if ddof not in (0, 1):
        raise ValueError("streaming describe supports ddof 0 or 1")
    seen: set = set()
    for q in percentiles:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"percentile {q} outside [0, 1]")
        pct = q * 100
        if float(pct).is_integer():
            label = f"p{int(pct):02d}"
        else:
            label = "p" + f"{pct:.10g}".replace(".", "_")
        if label in seen:
            raise ValueError(f"duplicate percentile label {label!r} (q={q})")
        seen.add(label)
        aggs.append(
            F.percentile_approx(v, F.lit(float(q)), F.lit(accuracy)).alias(label)
        )
    aggs.append(F.max(v).alias("max"))

    win = (
        F.window(F.col(time_col), window, slide)
        if slide
        else F.window(F.col(time_col), window)
    )
    res = (
        work.withWatermark(time_col, watermark)
        .groupBy(win.alias("__w"), *[F.col(b) for b in by])
        .agg(*aggs)
    )
    return res.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        *by,
        *[a for a in res.columns if a not in ("__w", *by)],
    )


def outlier_fences_stream(
    df: DataFrame,
    *by: str,
    value: str,
    time_col: str,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
    method: str = "zscore",
    threshold: float | None = None,
    ddof: int = 0,
    accuracy: int = 10000,
) -> DataFrame:
    """Windowed per-group outlier FENCES on an event-time stream — the
    monitoring twin of ``flox_spark.flag_outliers``: one row per
    closed (window, group) with the acceptance interval [lo, hi]
    (zscore: mean +- t*std; iqr: Tukey fences from the approx
    quartiles).

    Per-ROW streaming flags are deliberately not computed here: they
    would need each row to wait for its own window's statistics (a
    stream-stream join on the unfinished window).  The scalable
    pattern is this fences stream + a stream-static (or next-window)
    join: flag row r against the LAST CLOSED window's fences — the
    standard production monitor, one stateless join, no added state."""
    if method not in ("zscore", "iqr"):
        raise ValueError(f"unknown method {method!r}")
    thr = threshold if threshold is not None else (3.0 if method == "zscore" else 1.5)
    from flox_spark.dtypes import drop_missing, is_float_type

    vdt = df.schema[value].dataType
    work = drop_missing(df, by)
    v = F.col(value)
    if is_float_type(vdt):
        v = F.when(~F.isnan(v), v)

    if method == "zscore":
        mu = F.avg(v)
        sd = F.stddev_samp(v) if ddof == 1 else F.stddev_pop(v)
        lo = (mu - F.lit(float(thr)) * sd).alias("lo")
        hi = (mu + F.lit(float(thr)) * sd).alias("hi")
    else:
        q1 = F.percentile_approx(v, F.lit(0.25), F.lit(accuracy))
        q3 = F.percentile_approx(v, F.lit(0.75), F.lit(accuracy))
        iqr = q3 - q1
        lo = (q1 - F.lit(float(thr)) * iqr).alias("lo")
        hi = (q3 + F.lit(float(thr)) * iqr).alias("hi")

    win = (
        F.window(F.col(time_col), window, slide)
        if slide
        else F.window(F.col(time_col), window)
    )
    res = (
        work.withWatermark(time_col, watermark)
        .groupBy(win.alias("__w"), *[F.col(b) for b in by])
        .agg(lo, hi, F.count(v).alias("n"))
    )
    return res.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        *by,
        "lo",
        "hi",
        "n",
    )


def doc_perplexity_stream(
    df: DataFrame,
    model,
    time_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    smooth_k: float = 1.0,
) -> DataFrame:
    """Score a document STREAM against a static, pre-trained bigram
    LM (``operators.lm.train_bigram_lm`` output) — the live twin of
    ``doc_perplexity`` for "score the crawl as it lands".

    Spark-first shape: bigram explode is stateless, the count lookups
    are STREAM-STATIC joins (stateless — the model side is a static
    frame), and the only stateful operator is the per-(window, doc)
    mean aggregate, closed by the watermark.  Docs without bigrams
    don't appear (a stream can't left-join against its own absent
    rows); batch parity for scored docs is exact."""
    if smooth_k <= 0:
        raise ValueError(f"smooth_k must be > 0, got {smooth_k}")
    bigrams, contexts, vocab = model
    # the batch _doc_bigrams keeps only (id, w1, w2); the stream needs
    # the event time threaded through for the windowed aggregate, so
    # the same construction is inlined with time_col carried along
    toks = df.withWatermark(time_col, watermark).select(
        F.col(id_col), F.col(time_col), F.split(F.lower(F.trim(F.col(text_col))), "\\s+").alias("__t")
    )
    n = F.size(F.col("__t"))
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.struct(
                F.col("__t")[i].alias("w1"), F.col("__t")[i + 1].alias("w2")
            ),
        ),
    ).otherwise(F.array())
    bg = (
        toks.select(F.col(id_col), F.col(time_col), F.explode(pairs).alias("p"))
        .select(id_col, time_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    joined = (
        bg.join(F.broadcast(bigrams), ["w1", "w2"], "left")
        .join(F.broadcast(contexts), ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
    )
    k = F.lit(float(smooth_k))
    logp = F.log(
        (F.coalesce(F.col("c"), F.lit(0)) + k)
        / (F.coalesce(F.col("c1"), F.lit(0)) + k * F.col("V"))
    )
    win = F.window(F.col(time_col), window)
    res = joined.groupBy(win.alias("__w"), F.col(id_col)).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.exp(-F.avg(logp)).alias("ppl"),
    )
    return res.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        id_col,
        "n_bigrams",
        "ppl",
    )


def groupby_skew_stream(
    df: DataFrame,
    *by: str,
    value: str,
    time_col: str,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
    out: str = "skew",
) -> DataFrame:
    """Windowed per-group sample skewness (pandas bias-corrected) on
    an event-time stream — the streaming twin of
    ``flox_spark.groupby_skew``.

    Spark-first: the population moment aggregates (``skewness`` =
    m3/m2^1.5) are natively MERGEABLE streaming state; the pandas
    adjustment ``G1 = g1 * sqrt(n(n-1))/(n-2)`` is a projection on
    the closed window.  NULL for n < 3; zero variance with n >= 3 is
    0.0 (pandas parity, same guard as the batch twin ``groupby_skew``
    — Spark's ``skewness`` alone would yield NULL at m2 = 0, so a
    ``var_pop`` aggregate rides along to detect that case)."""
    from flox_spark.dtypes import drop_missing

    work = drop_missing(df, by)
    v = F.nanvl(F.col(value).cast("double"), F.lit(None))
    win = (
        F.window(F.col(time_col), window, slide)
        if slide
        else F.window(F.col(time_col), window)
    )
    res = (
        work.withWatermark(time_col, watermark)
        .groupBy(win.alias("__w"), *[F.col(b) for b in by])
        .agg(
            F.skewness(v).alias("__g1"),
            F.count(v).alias("__n"),
            F.var_pop(v).alias("__m2"),
        )
    )
    n = F.col("__n").cast("double")
    g1 = F.col("__g1") * F.sqrt(n * (n - 1)) / (n - 2)
    # pandas GroupBy.skew (Cython group_skew) zeroes only at exactly
    # m2 == 0 — no fperr threshold (that is the Series-path guard;
    # see the batch twin groupby_skew — kept identical so the twins
    # never diverge).
    return res.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        *by,
        F.when(
            F.col("__n") >= 3,
            F.when(F.col("__m2") > 0, g1).otherwise(F.lit(0.0)),
        ).alias(out),
    )


def groupby_kurtosis_stream(
    df: DataFrame,
    *by: str,
    value: str,
    time_col: str,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
    out: str = "kurt",
) -> DataFrame:
    """Windowed per-group excess kurtosis (pandas bias-corrected) —
    the streaming twin of ``flox_spark.groupby_kurtosis``.  Spark's
    ``kurtosis`` (population excess g2 = m4/m2^2 - 3) is mergeable
    state; the pandas adjustment
    ``G2 = ((n+1) g2 + 6)(n-1)/((n-2)(n-3))`` closes the window.
    NULL for n < 4; tiny variance with n >= 4 is 0.0 (pandas
    ``nankurt`` fperr guard — denominator
    ``(n-2)(n-3)(sum dev^2)^2 < 1e-14`` absolute — mirrored from the
    batch twin via a ``var_pop`` rider)."""
    from flox_spark.dtypes import drop_missing

    work = drop_missing(df, by)
    v = F.nanvl(F.col(value).cast("double"), F.lit(None))
    win = (
        F.window(F.col(time_col), window, slide)
        if slide
        else F.window(F.col(time_col), window)
    )
    res = (
        work.withWatermark(time_col, watermark)
        .groupBy(win.alias("__w"), *[F.col(b) for b in by])
        .agg(
            F.kurtosis(v).alias("__g2"),
            F.count(v).alias("__n"),
            F.var_pop(v).alias("__m2"),
        )
    )
    n = F.col("__n").cast("double")
    g2 = ((n + 1) * F.col("__g2") + 6) * (n - 1) / ((n - 2) * (n - 3))
    m2s = F.col("__m2") * n
    den = (n - 2) * (n - 3) * m2s * m2s
    return res.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        *by,
        F.when(
            F.col("__n") >= 4,
            F.when(den >= 1e-14, g2).otherwise(F.lit(0.0)),
        ).alias(out),
    )


def groupby_value_counts_stream(
    df: DataFrame,
    *by: str,
    value: str,
    time_col: str,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
    dropna: bool = True,
    out: str = "count",
) -> DataFrame:
    """Windowed per-(group, distinct value) counts on an event-time
    stream — the streaming twin of ``flox_spark.groupby_value_counts``
    and the natural DRIFT MONITOR for a live corpus (category mix per
    language per hour, format mix per source, ...).

    Spark-first: the value joins the grouping key, so this is one
    windowed count aggregate — mergeable state, one row of state per
    (window, group, distinct value).  ``normalize`` is deliberately
    not offered: the within-group proportion needs a second stateful
    aggregate over the first (unsupported chained aggregation); divide
    by the closed window's total downstream — one stateless batch
    projection on this stream's sink.  Missing group labels drop
    (flox rule); ``dropna`` controls missing-VALUE rows, with NaN and
    NULL canonicalized to ONE missing row like the batch twin."""
    from flox_spark.dtypes import drop_missing, sql_missing, sql_quote

    if dropna:
        work = drop_missing(df, [*by, value])
    else:
        work = drop_missing(df, by)
        missing = sql_missing(sql_quote(value), df.schema[value].dataType)
        work = work.withColumn(value, F.expr(f"CASE WHEN NOT {missing} THEN {sql_quote(value)} END"))
    win = (
        F.window(F.col(time_col), window, slide)
        if slide
        else F.window(F.col(time_col), window)
    )
    res = (
        work.withWatermark(time_col, watermark)
        .groupBy(win.alias("__w"), *[F.col(b) for b in by], F.col(value))
        .agg(F.count(F.lit(1)).alias(out))
    )
    return res.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        *by,
        value,
        out,
    )


def winsorize_bounds_stream(
    df: DataFrame,
    *by: str,
    value: str,
    time_col: str,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
    lower: float = 0.05,
    upper: float = 0.95,
    accuracy: int = 10000,
) -> DataFrame:
    """Windowed winsorize CLIP BOUNDS per (window, group) — the
    streaming twin of ``flox_spark.winsorize_group(approx=True)``,
    following the ``outlier_fences_stream`` pattern: per-row clipping
    in-stream would need each row to wait for its own window's
    quantiles (a stream-stream join on the unfinished window), so the
    scalable shape is this bounds stream + a stateless join clipping
    rows against the LAST CLOSED window's [q_lo, q_hi].

    State per (window, group) is one ``percentile_approx`` KLL sketch
    (mergeable, bounded by ``accuracy``) — never value buffering.
    NaN/NULL values are skipped (nan* policy)."""
    if not 0.0 <= lower <= upper <= 1.0:
        raise ValueError(f"need 0 <= lower <= upper <= 1, got {lower}, {upper}")
    from flox_spark.dtypes import drop_missing, is_float_type

    vdt = df.schema[value].dataType
    work = drop_missing(df, by)
    v = F.col(value)
    if is_float_type(vdt):
        v = F.when(~F.isnan(v), v)
    win = (
        F.window(F.col(time_col), window, slide)
        if slide
        else F.window(F.col(time_col), window)
    )
    res = (
        work.withWatermark(time_col, watermark)
        .groupBy(win.alias("__w"), *[F.col(b) for b in by])
        .agg(
            F.percentile_approx(v, F.lit(float(lower)), F.lit(accuracy)).alias("q_lo"),
            F.percentile_approx(v, F.lit(float(upper)), F.lit(accuracy)).alias("q_hi"),
            F.count(v).alias("n"),
        )
    )
    return res.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        *by,
        F.col("q_lo").cast("double").alias("q_lo"),
        F.col("q_hi").cast("double").alias("q_hi"),
        "n",
    )


def stream_decontaminate_spans(
    stream: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    hash_impl: str = "xxhash64",
    ref_text_col: str | None = None,
    out: str = "text_clean",
) -> DataFrame:
    """Streaming twin of ``operators.clean.remove_spans_against``:
    cut every token of an incoming document covered by a k-token
    window whose lower-cased content appears anywhere in a STATIC
    reference corpus (live-crawl decontamination against a benchmark
    suite).  Output matches the batch operator exactly: every input
    row survives with ``out`` holding the surviving original-case
    tokens rejoined by single spaces.

    Spark-first and STATELESS (plain append mode, no state store):
    the reference's distinct gram keys aggregate into a ONE-ROW
    packed array that broadcasts onto the stream — the same
    tiny-static-side contract as ``decontaminate``'s benchmark
    shingle broadcast — and the window marking, span coverage test,
    and reassembly are all row-local array expressions (each doc's
    spans depend only on its own tokens plus the static set, so no
    explode and no re-group is ever needed).  Membership is a linear
    ``array_contains`` per window: right-sized for benchmark-scale
    references (thousands to low millions of grams); decontaminating
    against a full corpus-sized reference belongs to the batch
    operator, whose semi join scales out."""
    if k < 2:
        raise ValueError(f"k must be >= 2 (a 1-token 'span' is a word count), got {k}")
    from flox_spark.operators.clean import _gram_key, _reference_grams
    from flox_spark.operators.dedup import _shingles_from_tokens, _word_tokens

    packed = _reference_grams(
        reference, ref_text_col or text_col, k, hash_impl
    ).agg(F.collect_set("__g").alias("__refg"))
    if out in stream.columns:
        # loud build-time validation, matching batch _cut_spans
        # (r11 ADVICE: the silent rename hid the output column)
        raise ValueError(
            f"output column {out!r} already exists on the input stream; "
            "pass out=<fresh name>"
        )
    joined = stream.crossJoin(F.broadcast(packed))
    # STAGE tokens and shingles in their own columns: inline forms
    # re-evaluate the \s+ split (and the whole shingle transform)
    # once per window position inside the filter lambda — the same
    # measured ~40% trap _word_tokens' docstring warns about
    joined = joined.withColumn("__t", _word_tokens(text_col)).withColumn(
        "__sh", _shingles_from_tokens("__t", k)
    )
    n = F.size(F.col("__t"))
    # 1-based window starts whose gram is in the reference set; docs
    # under k tokens mark nothing (matches _kgram_windows' filter)
    marks = F.when(
        n >= k,
        F.filter(
            F.sequence(F.lit(1), n - k + 1),
            lambda p: F.array_contains(
                F.col("__refg"),
                _gram_key(hash_impl, F.element_at(F.col("__sh"), p)),
            ),
        ),
    ).otherwise(F.array().cast("array<int>"))
    # original-case tokens; 0-based index i covered iff some marked
    # window start p satisfies p <= i+1 <= p+k-1
    orig = F.split(F.trim(F.col(text_col)), r"\s+")
    kept = F.filter(
        orig,
        lambda t, i: ~F.exists(
            F.col("__marks"),
            lambda p: (i + 1 >= p) & (i + 1 <= p + F.lit(k - 1)),
        ),
    )
    return (
        joined.withColumn("__marks", marks)
        .withColumn(out, F.concat_ws(" ", kept))
        .drop("__refg", "__marks", "__t", "__sh")
    )
