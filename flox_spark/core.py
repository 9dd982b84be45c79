"""``groupby_reduce`` — the engine's front door.

Spark-native re-expression of flox's ``groupby_reduce``
(reference: flox/core.py:739-1222).  The plan it assembles:

    filter(valid labels) -> [bin labels] -> groupBy(keys).agg(expr)
      -> [min_count mask] -> [expected-groups broadcast join + fill]
      -> [sort]

Everything is declarative DataFrame API: Catalyst plans a
partial-aggregate -> shuffle-by-keys -> final-aggregate pipeline
(replacing flox's blockwise chunk_reduce + tree combine,
flox/dask.py:325-573), pushes the label filter into the scan, and
prunes columns.  The expected-groups reindex (flox/reindex.py:160-216)
is a LEFT JOIN from the (tiny) expected frame onto the (small,
already-aggregated) result — both sides are |groups|-sized, so the
join is broadcast and never touches the fact table's scale.

At 100 TB the only data-sized operation here is the single
groupBy shuffle, which is unavoidable for a hash aggregation and is
map-side-combined by Spark automatically.
"""

from __future__ import annotations

from types import EllipsisType
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DateType

from flox_spark.aggregations import REDUCTIONS, AggContext, Aggregation, agg_column, sql_lerp, sql_sentinel
from flox_spark.dtypes import (
    NAN,
    drop_missing,
    is_datetime_type,
    is_float_type,
    is_timedelta_type,
    sql_arith_input,
    sql_arith_restore,
    sql_quote,
)
from flox_spark.options import OPTIONS
from flox_spark.plans.util import (
    estimate_size_bytes,
    one_partition_cartesian,
    one_task_if_small,
    pin_keyed_parallelism,
)

__all__ = ["groupby_reduce"]


def _as_tuple(x: Any, n: int, name: str) -> tuple:
    """Normalize a scalar-or-per-by argument to a tuple of length n."""
    if x is None or isinstance(x, (bool, str)) or not isinstance(x, (list, tuple)):
        return (x,) * n
    if len(x) != n:
        raise ValueError(f"{name} must have one entry per `by` column (got {len(x)}, want {n})")
    return tuple(x)


def _is_uniform(breaks: list) -> bool:
    if len(breaks) < 3 or not all(isinstance(b, (int, float)) for b in breaks):
        return False
    steps = [breaks[i + 1] - breaks[i] for i in range(len(breaks) - 1)]
    w = steps[0]
    return w > 0 and all(abs(s - w) <= 1e-12 * abs(w) for s in steps)


def _break_to_num(b: Any, dt) -> float:
    """A datetime bin break -> the int64 view _bin_column compares on
    (microseconds for timestamps, epoch days for dates) — the Spark
    analog of flox digitizing datetime bins through their int64 view
    (flox/factorize.py:64-72, tested reference tests/test_core.py:1256-1271).
    Accepts datetime/date/np.datetime64/pd.Timestamp/ISO strings."""
    import pandas as pd

    ts = pd.Timestamp(b)
    if isinstance(dt, DateType):
        return float((ts - pd.Timestamp(0)).days)
    return float(ts.value // 1000)  # ns -> us


def _bin_column(col: Column, breaks: Sequence, dt=None, closed: str = "right") -> Column:
    """Digitize into intervals over ``breaks`` — numpy ``digitize``
    as used by flox binning (flox/factorize.py:55-82, which passes
    ``right=expect.closed_right``).  ``closed="right"`` (the default,
    matching ``pd.IntervalIndex.from_breaks``) assigns left-open
    right-closed bins (b[i], b[i+1]]; ``closed="left"`` assigns
    [b[i], b[i+1]).  Out-of-range -> NULL (the dropped NaN group).
    Datetime label columns are viewed as int64 and the breaks
    converted to match, so regular datetime bins (hourly/daily/...)
    take the same O(1) width_bucket path as uniform numeric bins.

    Two physical strategies, same semantics:
    - uniform numeric breaks with many intervals: arithmetic
      ``width_bucket`` — natively left-closed, so closed="left" uses
      it directly and closed="right" runs it on the NEGATED axis
      (right-closed (a,b] == left-closed [-b,-a) after negation) —
      O(1) per row regardless of break count;
    - otherwise: a constant CASE chain (fine to ~1e3 breaks, stays in
      codegen; no shuffle, no UDF either way)."""
    if closed not in ("right", "left"):
        raise ValueError(f"closed must be 'right' or 'left', got {closed!r}")
    if dt is not None and is_datetime_type(dt):
        # dtypes.sql_arith_input's int64 view (epoch days / us), in
        # Column form: the public bin_column digitizes a Column, not
        # text -- the bin exception to the single text source
        if isinstance(dt, DateType):
            col = F.datediff(col, F.lit("1970-01-01").cast("date")).cast("long")
        else:
            col = F.unix_micros(col.cast("timestamp"))
        breaks = [_break_to_num(b, dt) for b in breaks]
    breaks = list(breaks)
    n = len(breaks) - 1
    if _is_uniform(breaks) and n > 16:
        lo, hi = float(breaks[0]), float(breaks[-1])
        if closed == "right":
            rev = F.width_bucket(-col, F.lit(-hi), F.lit(-lo), F.lit(n))
            idx = (F.lit(n) - rev).cast("int")
            return F.when((col > lo) & (col <= hi), idx)
        idx = (F.width_bucket(col, F.lit(lo), F.lit(hi), F.lit(n)) - 1).cast("int")
        return F.when((col >= lo) & (col < hi), idx)
    whens = []
    for i in range(n):
        if closed == "right":
            cond = (col > F.lit(breaks[i])) & (col <= F.lit(breaks[i + 1]))
        else:
            cond = (col >= F.lit(breaks[i])) & (col < F.lit(breaks[i + 1]))
        whens.append((cond, F.lit(i)))
    result = F.lit(None).cast("int")
    for cond, val in reversed(whens):
        result = F.when(cond, val).otherwise(result)
    return result


def _break_lit(b: Any, dt=None) -> Column:
    """A bin break as a literal column for interval-label output:
    datetime breaks become timestamp literals, numeric breaks doubles
    (matching the float edges of flox's ``pd.IntervalIndex`` labels,
    flox/factorize.py:55-82)."""
    if dt is not None and is_datetime_type(dt):
        import pandas as pd

        return F.lit(pd.Timestamp(b).to_pydatetime())
    return F.lit(float(b))


def _fold_negzero(b: str, bdt) -> Column:
    """Fold ``-0.0`` grouping keys into ``0.0`` BEFORE the aggregate.
    Spark's JVM hash aggregate normalizes float grouping keys
    (Catalyst's NormalizeFloatingNumbers) and emits ``0.0``, but the
    GROUPED_AGG python aggregate (the "arrow" quantile kernel) emits
    the group's first-encountered RAW bits — so an un-normalized
    ``-0.0`` key makes the emitted key order- and strategy-dependent.
    One codegen'd projection; NaN labels are already filtered by the
    missing-label drop above every call site."""
    q = sql_quote(b)
    return F.expr(f"CASE WHEN {q} = 0 THEN CAST(0.0D AS {bdt.simpleString()}) ELSE {q} END")


def _prep_labels(
    df: DataFrame, by: Sequence[str], isbin_t: Sequence[bool], expected_t: Sequence,
    closed_t: Sequence[str], snapshots: dict[str, str],
) -> tuple[DataFrame, list[str], list, dict[str, str], int | None, bool]:
    """Label prep shared by ``groupby_reduce`` and
    ``groupby_reduce_multi``: per key, drop rows whose label is NULL or
    NaN (flox/factorize.py:201-212), digitize binned keys into
    ``{by}_bin`` (out-of-range rows dropped), and fold ``-0.0`` float
    keys.  The fold is a GROUPING-KEY normalization only: a float key
    that is also a value column is first copied to its
    ``snapshots[key]`` name, so sign-sensitive reductions (first/min/sum
    of all -0.0) see the raw bits.  Returns (work, key_cols, by_dts,
    raw, size, one_task) with ``raw``: value column -> the snapshot
    actually taken, and ``size``/``one_task`` from the one plan-stats
    estimate of the prepped frame (``plans.util.one_task_if_small``:
    a small ``work`` comes back coalesced to one partition, so every
    plan built over it runs as one stage with no exchange)."""
    schema = df.schema
    work = drop_missing(df, by)
    key_cols: list[str] = []
    by_dts: list = []
    raw: dict[str, str] = {}
    for i, b in enumerate(by):
        bdt = schema[b].dataType
        by_dts.append(bdt)
        if isbin_t[i]:
            kc = f"{b}_bin"
            work = work.withColumn(kc, _bin_column(F.col(b), expected_t[i], bdt, closed_t[i]))
            work = work.filter(F.col(kc).isNotNull())  # out-of-range
        else:
            kc = b
            if is_float_type(bdt):
                if b in snapshots:
                    raw[b] = snapshots[b]
                    work = work.withColumn(raw[b], F.col(b))
                work = work.withColumn(b, _fold_negzero(b, bdt))
        key_cols.append(kc)
    work, size, one_task = one_task_if_small(work)
    return work, key_cols, by_dts, raw, size, one_task


def _order_sql(schema, order_by: str | None) -> str | None:
    """The total-order column as numericized SQL text: arg* tie-breaks
    negate it, and the int64-us view of a datetime order column orders
    identically."""
    if order_by is None:
        return None
    return sql_arith_input(sql_quote(order_by), schema[order_by].dataType)[0]


def _with_bin_labels(
    result: DataFrame, by: Sequence[str], isbin_t: Sequence[bool],
    expected_t: Sequence, dts: Sequence,
) -> DataFrame:
    """Attach ``{by}_bin_left`` / ``{by}_bin_right`` interval-edge
    columns next to each integer bin index — the tabular form of
    flox's ``pd.IntervalIndex`` bin labels (flox/factorize.py:55-82,
    reference tests/test_core.py:950-995).  The bin is left-open
    right-closed: ``bin_left < x <= bin_right``.  A pure element_at
    projection over the (tiny, literal) breaks array — no join."""
    for i, b in enumerate(by):
        if not isbin_t[i]:
            continue
        kc = f"{b}_bin"
        arr = F.array(*[_break_lit(x, dts[i]) for x in expected_t[i]])
        cols = []
        for c in result.columns:
            cols.append(F.col(c))
            if c == kc:
                cols.append(F.element_at(arr, F.col(kc) + 1).alias(f"{b}_bin_left"))
                cols.append(F.element_at(arr, F.col(kc) + 2).alias(f"{b}_bin_right"))
        result = result.select(*cols)
    return result


_NUMPY_TO_SPARK = {
    "float64": "double", "float32": "float", "float16": "float",
    "int64": "bigint", "int32": "int", "int16": "smallint", "int8": "tinyint",
    "uint64": "bigint", "uint32": "bigint", "uint16": "int", "uint8": "smallint",
    "bool": "boolean", "object": "string", "str": "string",
}


_SPARK_TYPE_NAMES = {
    "double", "float", "bigint", "long", "int", "integer", "smallint",
    "tinyint", "boolean", "string", "decimal", "date", "timestamp",
    "timestamp_ntz", "binary",
}


def _spark_type(dtype: Any):
    """Normalize a user dtype (Spark DataType, Spark type string, or
    numpy dtype/str) to something ``Column.cast`` accepts.  Spark type
    names win over numpy aliases: "int" must mean Spark's 32-bit int,
    not numpy's platform int64."""
    from pyspark.sql.types import DataType as _DT

    if isinstance(dtype, _DT):
        return dtype
    if isinstance(dtype, str) and dtype.lower() in _SPARK_TYPE_NAMES:
        return dtype
    try:
        import numpy as _np

        name = str(_np.dtype(dtype))
    except Exception:
        name = str(dtype)
    if name.startswith("complex") or name in ("csingle", "cdouble", "clongdouble"):
        # the reference reduces complex arrays (its hypothesis
        # strategies include complex dtypes, reference
        # tests/strategies.py:83-99); Spark has NO complex type, and
        # without this check a complex request would die obscurely in
        # a cast/Arrow error.  Fail loudly with the workaround.
        raise TypeError(
            "complex dtypes are not supported: Spark has no complex number "
            "type. Split the values into real/imag double columns and "
            "reduce each (sum/mean are componentwise), then recombine."
        )
    return _NUMPY_TO_SPARK.get(name, name)


def _normalize_expected(
    expected_groups, isbin_t: tuple, nby: int
) -> tuple[tuple, tuple, tuple]:
    """Resolve expected_groups into per-by lists, auto-detecting
    ``pd.IntervalIndex`` entries as bin breaks (flox accepts an
    IntervalIndex directly with no isbin flag, flox/core.py:604-636;
    contiguity required because digitization works on the break
    vector).  The index's ``closed`` side is honored exactly as the
    reference does (flox/factorize.py:57-76 passes
    ``right=expect.closed_right`` to np.digitize, raising
    NotImplementedError for closed='both'; closed='neither' digitizes
    left-closed there, mirrored here for parity).  Returns the
    possibly-updated (isbin_t, expected_t, closed_t)."""
    import pandas as pd

    if expected_groups is None:
        expected_t: tuple = (None,) * nby
    elif nby == 1 and not _is_nested_expected(expected_groups):
        expected_t = (expected_groups,)
    else:
        expected_t = _as_tuple(list(expected_groups), nby, "expected_groups")
    new_isbin = list(isbin_t)
    new_expected = []
    closed = ["right"] * nby
    for i, e in enumerate(expected_t):
        if isinstance(e, pd.IntervalIndex):
            if e.closed == "both":
                raise NotImplementedError(
                    "closed='both' IntervalIndex bins are not supported "
                    "(reference parity: flox/factorize.py:58-59 raises too)"
                )
            if len(e) and not (e.left[1:] == e.right[:-1]).all():
                raise ValueError("IntervalIndex bins must be contiguous")
            new_isbin[i] = True
            closed[i] = "right" if e.closed_right else "left"
            new_expected.append([e.left[0], *e.right])
        elif e is not None:
            new_expected.append(list(e))
        else:
            new_expected.append(None)
    return tuple(new_isbin), tuple(new_expected), tuple(closed)


def _is_nested_expected(expected_groups) -> bool:
    """True when expected_groups is a per-by sequence of sequences
    (multi-by form) rather than one flat label/breaks collection."""
    try:
        first = expected_groups[0]
    except (TypeError, KeyError, IndexError):
        return False
    import pandas as pd

    return isinstance(first, (list, tuple, pd.IntervalIndex))


def bin_column(col: Column, breaks: Sequence, dt=None, closed: str = "right") -> Column:
    """Public flox-style digitizer: interval index for ``col`` over
    ``breaks`` (out-of-range -> NULL), exactly the expression
    ``groupby_reduce(isbin=True)`` uses internally — exposed so any
    pipeline (including Structured Streaming, where it is a pure
    projection) can bin a column first and group on the index:
    ``df.withColumn("x_bin", bin_column(F.col("x"), breaks))``.
    Pass ``dt`` (the column's DataType) for datetime breaks and
    ``closed="left"`` for [b[i], b[i+1]) bins (default right-closed,
    matching ``pd.IntervalIndex.from_breaks``)."""
    return _bin_column(col, breaks, dt, closed)


def _fill_literal(fill: Any) -> Column:
    if fill is None:
        return F.lit(None)
    if isinstance(fill, float) and fill != fill:  # NaN
        return F.lit(NAN)
    if isinstance(fill, list):  # per-q fill for vector-quantile results
        return F.array(*[_fill_literal(x) for x in fill])
    return F.lit(fill)


def groupby_reduce(
    df: DataFrame,
    *by: str,
    func: str | Aggregation,
    value: str,
    expected_groups: Sequence | None = None,
    sort: bool = True,
    isbin: bool | Sequence[bool] = False,
    bin_labels: bool = False,
    fill_value: Any = None,
    min_count: int | None = None,
    dtype: Any = None,
    finalize_kwargs: dict | None = None,
    order_by: str | None = None,
    alias: str | None = None,
    engine: str | None = None,
    method: str | None = None,
    reindex: object = None,
    explode_q: bool = True,
) -> DataFrame:
    """Grouped reduction with flox semantics on a Spark DataFrame.

    ``engine``, ``method`` and ``reindex`` are accepted for flox
    call-site compatibility and ignored: kernel engines collapse into
    Tungsten codegen and distribution methods into Catalyst/AQE
    (SURVEY §4 O1-O13; flox/core.py:712-736, flox/dask.py:325-573) —
    a flox user's ``groupby_reduce(..., engine="flox",
    method="cohorts")`` runs unchanged here.

    Parameters mirror flox's ``groupby_reduce`` (flox/core.py:739-855)
    re-expressed for tables:

    - ``df``: any DataFrame (filters/projections compose upstream).
    - ``*by``: one or more grouping column names.  Rows whose label is
      NULL or NaN are dropped (flox/factorize.py:201-212).
    - ``func``: a name from ``REDUCTIONS`` or a custom ``Aggregation``.
    - ``value``: the value column to reduce.
    - ``expected_groups``: per-by list of expected labels (or bin
      breaks where ``isbin``).  The result is reindexed to the full
      cartesian grid of expected groups, filling absences with
      ``fill_value`` (flox/core.py:1195-1202).
    - ``isbin``: per-by flag; that by's expected_groups are interval
      breaks, labels are digitized into left-open right-closed bins
      and the output column is the integer bin index ``{by}_bin``.
    - ``bin_labels``: also emit ``{by}_bin_left``/``{by}_bin_right``
      interval-edge columns for each binned by — the tabular analog
      of flox's ``pd.IntervalIndex`` bin labels
      (flox/factorize.py:55-82, reference tests/test_core.py:950-995).
    - ``min_count``: mask results of groups with fewer than this many
      non-missing values to ``fill_value`` (flox/core.py:437-459).
      Defaults to 1 when both fill_value and expected_groups are given
      (flox/core.py:1026-1038).
    - ``dtype``: explicit output type override (flox's ``dtype=``
      argument, flox/core.py:848; resolution
      flox/xrdtypes.py:153-172): a Spark type string ("double",
      "float", "long", ...), Spark DataType, or numpy dtype/str —
      the result column is cast to it after the registry's own
      promotion rules run.
    - ``order_by``: total-order column required by positional funcs
      (first/last/nanfirst/nanlast/arg*): flox's implicit array order
      made explicit.
    - ``sort=False``: groups come back in flox's sort=False order —
      first-occurrence order (pd.factorize(sort=False),
      flox/factorize.py:96) when ``order_by`` is given, or the
      declared lists' given order when every ``expected_groups`` is
      declared (flox/factorize.py:85-93).  With neither, tables have
      no row order and the output order is unspecified.
    - ``alias``: output column name for the result (default: func name).
    - ``explode_q``: for vector-q quantiles, True (default) explodes
      the result to (keys..., q, value) rows — the tabular analog of
      flox's added q dimension; False keeps ONE array<double> column
      ordered like the q list (callers that re-pivot fences to columns
      skip an exchange).
    """
    if not by:
        raise ValueError("need at least one `by` column")
    nby = len(by)
    isbin_t = _as_tuple(isbin, nby, "isbin")
    isbin_t, expected_t, closed_t = _normalize_expected(expected_groups, isbin_t, nby)
    for i, (b, e) in enumerate(zip(isbin_t, expected_t)):
        if b and e is None:
            raise ValueError(f"isbin=True for {by[i]!r} requires bin breaks in expected_groups")

    if isinstance(func, str):
        if func not in REDUCTIONS:
            raise ValueError(f"unknown reduction {func!r}; valid: {sorted(REDUCTIONS)}")
        agg = REDUCTIONS[func]
    else:
        agg = func
    if agg.needs_order and order_by is None:
        raise ValueError(f"func {agg.name!r} requires order_by= (positional semantics)")
    out_name = alias or agg.name

    # ---- label prep: drop invalid labels, digitize bins -------------
    work, key_cols, by_dts, raw, size, one_task = _prep_labels(
        df, by, isbin_t, expected_t, closed_t, {value: "__fs_value_raw"}
    )
    schema = df.schema
    vdt = schema[value].dataType
    value = raw.get(value, value)
    if dtype is not None:
        # flox's dtype= governs the ACCUMULATOR (the kernel runs in
        # the requested dtype, flox/aggregations.py:925-1030): cast
        # the value column up front so e.g. float32 data summed with
        # dtype=float64 keeps double precision instead of being
        # restored to float32 and re-widened
        work = work.withColumn(value, F.col(value).cast(_spark_type(dtype)))
        schema = work.schema
        vdt = schema[value].dataType
    ctx = AggContext(sql_quote(value), vdt, _order_sql(schema, order_by), dict(finalize_kwargs or {}))

    # ---- vector-q quantile: q=[...] adds a per-q output row ---------
    # (reference quantile_new_dims_func adds a q dimension,
    # flox/aggregations.py:688-710; the long-table analog is exploding
    # the array result to (keys..., q, value) rows)
    qlist: list[float] | None = None
    if agg.name in ("quantile", "nanquantile"):
        _q = ctx.kwargs.get("q")
        if isinstance(_q, (list, tuple)):
            qlist = [float(x) for x in _q]

    # ---- min_count defaulting (flox/core.py:1026-1038) --------------
    if min_count is None and fill_value is not None and any(e is not None for e in expected_t):
        min_count = 1
    if min_count is not None and min_count > 0 and agg.name in ("nansum", "nanprod") and fill_value is None:
        # their identity fill (0/1) gives way to NaN once min_count is
        # set, for masked AND absent groups (flox/core.py:1036-1038)
        fill_value = NAN

    # ---- aggregate --------------------------------------------------
    qfam = agg.name in ("median", "nanmedian", "quantile", "nanquantile")
    quantile_impl = (
        _choose_quantile_impl(work, size)
        if qfam and not OPTIONS["approx_quantile"]
        else "agg"
    )
    # sort=False occurrence-order parity (flox factorize.py:96:
    # pd.factorize(sort=False) returns groups in FIRST-OCCURRENCE
    # order; with declared expected_groups flox instead keeps the
    # expected list's GIVEN order, factorize.py:85-93).  Tables are
    # unordered, so "occurrence" needs the explicit order_by column;
    # with neither order_by nor a fully-declared grid, sort=False
    # leaves the output order unspecified (documented).
    all_declared = all(e is not None for e in expected_t)
    occ_needed = (not sort) and order_by is not None and not all_declared
    if agg.two_stage == "mode":
        result = _mode_two_stage(work, key_cols, ctx, skipna=agg.name.startswith("nan"), out_name=out_name)
    elif qfam and quantile_impl == "sort":
        result = _quantile_sort(work, key_cols, ctx, agg, out_name, min_count, fill_value)
    elif qfam and quantile_impl == "driver":
        result = _quantile_driver(work, key_cols, ctx, agg, out_name, min_count, fill_value, size)
        if result is None:  # streaming / high-card / Arrow-hostile keys
            result = _quantile_arrow(work, key_cols, ctx, agg, out_name, min_count, fill_value, size)
    elif qfam and quantile_impl == "arrow":
        result = _quantile_arrow(work, key_cols, ctx, agg, out_name, min_count, fill_value, size)
    elif qfam and quantile_impl == "refine":
        result = _quantile_refine(work, key_cols, ctx, agg, out_name, min_count, fill_value)
    else:
        expr = _finalize(
            agg_column(agg, ctx), f"count({ctx.skip_sql})", agg, min_count, fill_value,
            m=len(qlist) if qlist is not None else None,
        )
        aggs_list = [expr.alias(out_name)]
        if occ_needed:
            # fused into the one aggregation pass — no extra scan
            aggs_list.append(F.expr(f"min({ctx.order_sql})").alias("__occ"))
            occ_needed = False
        agg_in = work
        if qfam and not OPTIONS["approx_quantile"]:
            # (approx mode keeps the plain groupBy: its sketch partials
            # DO reduce map-side, so the pinned raw-row exchange would
            # trade sketch-sized shuffle bytes for data-sized ones)
            # the buffering exact-quantile kernel (collect_list +
            # array_sort) has NO map-side reduction to lose — shipping
            # raw rows through a pinned keyed exchange costs the same
            # bytes as shipping partial buffers, and keeps the final
            # sort+merge stage multi-task instead of AQE's one-task
            # coalesce (see pin_keyed_parallelism)
            agg_in = pin_keyed_parallelism(work, key_cols, size=size)
        result = agg_in.groupBy(*key_cols).agg(*aggs_list)
    if occ_needed:
        # multi-stage strategies (mode/quantile): attach the
        # first-occurrence position with a separate group-sized
        # aggregate + join (only when the caller asked for sort=False
        # WITH an order column — never on the default path)
        occ = work.groupBy(*key_cols).agg(F.expr(f"min({ctx.order_sql})").alias("__occ"))
        result = result.join(occ, key_cols, "left")

    # ---- expected-groups reindex (flox/reindex.py:160-216) ----------
    if any(e is not None for e in expected_t):
        fill = fill_value if fill_value is not None else agg.default_fill
        if qlist is not None:
            fill = [fill if fill is not None else NAN] * len(qlist)
        result = _reindex_expected(
            result, key_cols, isbin_t, expected_t, {out_name: fill}, df.sparkSession,
            with_pos=(not sort) and all_declared, one_task=one_task,
        )

    if bin_labels and any(isbin_t):
        result = _with_bin_labels(result, by, isbin_t, expected_t, by_dts)

    if qlist is not None and not explode_q:
        # explode_q=False: leave the vector-q result as ONE
        # array<double> column ordered like the q list — for callers
        # that immediately re-pivot the exploded rows back to columns
        # (winsorize's two fences), the explode + re-aggregate pass is
        # a pure extra exchange; element_at on the array is free
        qlist = None
    if qlist is not None:
        # output column is named "q" (not "quantile": that is the
        # default result alias and would collide)
        pairs = F.array(
            *[
                F.struct(F.lit(q).alias("q"), F.element_at(F.col(out_name), i + 1).alias("v"))
                for i, q in enumerate(qlist)
            ]
        )
        label_cols = [
            c for c in result.columns
            if c.endswith("_bin_left") or c.endswith("_bin_right")
        ]
        occ_cols = ["__occ"] if "__occ" in result.columns else []
        result = result.withColumn("__qp", F.explode(pairs)).select(
            *key_cols, *label_cols, *occ_cols,
            F.col("__qp.q").alias("q"), F.col("__qp.v").alias(out_name),
        )

    if dtype is not None:
        # explicit output-type override, applied after the registry's
        # own promotion (flox core.py:848 semantics)
        result = result.withColumn(out_name, F.col(out_name).cast(_spark_type(dtype)))

    if sort:
        declared_card = _declared_cardinality(isbin_t, expected_t)
        if declared_card is not None and qlist is not None:
            declared_card *= len(qlist)
        result = _sorted_output(
            result,
            [*key_cols, *(["q"] if qlist is not None else [])],
            declared_card,
            # only the agg strategy's final stage (the percentile
            # buffer merge) is worth materializing before the range
            # sort; for sort/refine the checkpoint cost measured equal
            # to the sampling re-run it saves
            heavy=(qfam and quantile_impl in ("agg", "arrow")),
            in_size=size,
            one_task=one_task,
        )
    elif "__occ" in result.columns:
        # flox sort=False order: first occurrence (or the declared
        # expected order).  Group-cardinality-sized sort; groups with
        # no occurrence (fill-only grid rows under a partial declare)
        # go last.
        oc = [F.col("__occ").asc_nulls_last(), *(["q"] if qlist is not None else [])]
        declared_card = _declared_cardinality(isbin_t, expected_t)
        if one_task or (
            declared_card is not None and declared_card <= OPTIONS["single_partition_sort_max"]
        ):
            result = _tiny_sorted(result, *oc, in_size=size, one_task=one_task).drop("__occ")
        else:
            result = result.orderBy(*oc).drop("__occ")
    return result


def _declared_cardinality(isbin_t: tuple, expected_t: tuple) -> int | None:
    """Exact output cardinality when every expected group list is
    declared (the reindex grid size); None when any by's groups are
    observed (unknown until runtime)."""
    card = 1
    for i, e in enumerate(expected_t):
        if e is None:
            return None
        card *= (len(e) - 1) if isbin_t[i] else len(e)
    return card


def _tiny_sorted(
    result: DataFrame,
    *sort_cols,
    in_size: int | None,
    one_task: bool = False,
) -> DataFrame:
    """Single-task sort for provably tiny (group-cardinality-sized)
    outputs.  ``coalesce(1)`` rides the upstream aggregate's existing
    shuffle read — the final aggregate and the sort share ONE task in
    ONE stage, no new exchange, one fewer AQE job than the
    ``repartition(1)`` form (measured 3 -> 2 jobs on every plain
    groupby row at sf0.1).  Two guards decide when that is safe:

    - the coalesce collapses everything back to the LAST shuffle
      boundary, so it must only fire when the FINAL AGGREGATE's
      single-task merge is provably cheap: the merge volume is
      (map tasks x group cardinality) partial rows, bounded only
      when the INPUT is small.  Gate on the input's plan stats
      ``in_size`` at ``single_partition_sort_input_max_bytes`` — at
      100 TB the stats blow the bound and the distributed final
      aggregate + explicit single-partition exchange (the old shape)
      stays;
    - a plan with no shuffle upstream at all (a bucketed-read
      aggregate, where the scan itself satisfies the group
      distribution) would serialize its data-sized SCAN stage —
      those always keep the explicit exchange.

    ``one_task``: the input was coalesced to one partition
    (``plans.util.one_task_if_small``), so the plan is already one
    stage with no shuffle: the sort is a bare ``sortWithinPartitions``
    with no plan probe.  The ``coalesce(1)`` ahead of it is a no-op
    there; it keeps the order global should a multi-partition side
    have joined in (a declared grid too large to coalesce)."""
    if one_task:
        return result.coalesce(1).sortWithinPartitions(*sort_cols)
    small_input = (
        in_size is not None
        and in_size <= OPTIONS["single_partition_sort_input_max_bytes"]
    )
    if small_input and _plan_has_shuffle(result):
        return result.coalesce(1).sortWithinPartitions(*sort_cols)
    return result.repartition(1).sortWithinPartitions(*sort_cols)


def _plan_has_shuffle(result: DataFrame) -> bool:
    """True when the physical plan contains a SHUFFLE exchange the
    ``coalesce(1)`` in ``_tiny_sorted`` can ride.

    Probes ``executedPlan`` (not ``sparkPlan``: that is
    pre-EnsureRequirements and carries no exchanges yet) — on an
    unexecuted adaptive plan this prints the initial physical plan,
    exchanges included, running nothing beyond one extra physical
    planning pass (the measured 3->2-job win absorbs it).  The match
    is textual over the plan string — the partitioning spellings
    ('Exchange hashpartitioning/rangepartitioning/SinglePartition/
    RoundRobinPartitioning') are Spark's stable plan-node format but
    ARE a cross-version surface, so ``tests/test_reduce.py::
    test_plan_has_shuffle_probe`` pins both polarities against real
    plans: a Spark upgrade that reformats the string trips the pin
    instead of silently flipping every sorted groupby to the
    two-exchange shape.  BroadcastExchange is deliberately not a
    match — it is not a coalesce-able boundary.  One-task plans never
    reach the probe (they have no exchange to ride)."""
    import re

    try:
        plan = result._jdf.queryExecution().executedPlan().toString()
        return re.search(
            r"(?<!Broadcast)Exchange (hash|range|Single|RoundRobin)", plan
        ) is not None
    except Exception:  # pragma: no cover - py4j hiccups
        return False


def _sorted_output(
    result: DataFrame,
    sort_cols: list[str],
    declared_card: int | None,
    heavy: bool,
    in_size: int | None,
    one_task: bool,
) -> DataFrame:
    """The final ``sort=True`` ordering, costed by output shape;
    ``in_size``/``one_task`` come from the input's one plan-stats
    estimate (``_prep_labels``).

    A plain ``orderBy`` compiles to a range exchange whose partitioner
    SAMPLES the child — re-executing the final aggregate stage once
    before the real sort.  For cheap codegen aggregates that re-run is
    noise, but for buffering aggregates (exact ``percentile``) it
    doubles the most expensive stage.  Strategy:

    - declared grid larger than ``single_partition_sort_max``: the
      range sort IS the right distributed plan; warn (SCALE.md) that
      sorting that many groups adds a whole-result exchange the caller
      can skip with ``sort=False``.
    - one-task input: the plan is already a single partition —
      ``_tiny_sorted`` adds a bare in-partition sort.
    - declared grid <= ``single_partition_sort_max``, or unknown
      cardinality over an input whose plan-stats size is at most
      ``single_partition_sort_input_max_bytes`` (the output has <= one
      row per input row): the output is provably tiny —
      ``_tiny_sorted`` sorts it in one post-shuffle task with NO
      sampling pass and no extra exchange (the upstream aggregate
      keeps full parallelism, only the group-cardinality-sized result
      funnels to one task).  At 100 TB the stats exceed the bound.
    - unknown cardinality over a big/stats-less input: keep the
      classic range sort, but when the final aggregate is the
      buffering kind (``heavy``), materialize the group-sized result
      first so the sampling pass reads the materialization instead of
      re-running the aggregate."""
    if declared_card is not None and declared_card > OPTIONS["single_partition_sort_max"]:
        import warnings

        warnings.warn(
            f"sorting {declared_card} declared groups adds a range exchange "
            "of the whole result; pass sort=False if output order does not "
            "matter (see SCALE.md)",
            stacklevel=3,
        )
        return result.orderBy(*sort_cols)
    if one_task or declared_card is not None or (
        in_size is not None and in_size <= OPTIONS["single_partition_sort_input_max_bytes"]
    ):
        return _tiny_sorted(result, *sort_cols, in_size=in_size, one_task=one_task)
    if heavy:
        from flox_spark.plans.util import materialize_shared

        return materialize_shared(result).orderBy(*sort_cols)
    return result.orderBy(*sort_cols)


def groupby_reduce_multi(
    df: DataFrame,
    *by: str,
    aggs: dict[str, tuple[str, str] | dict],
    expected_groups: Sequence | None = None,
    sort: bool = True,
    isbin: bool | Sequence[bool] = False,
    bin_labels: bool = False,
    fill_value: Any = None,
    order_by: str | None = None,
) -> DataFrame:
    """Several reductions in ONE aggregation pass — the named-column
    API sugar playing the role of flox's ``xarray_reduce`` over a
    Dataset (reference: flox/xarray.py:73-516, which reduces many
    variables against shared groupers).  One groupBy shuffle total;
    Catalyst dedups shared sub-aggregates (e.g. one count feeding
    several expressions — the analog of flox's duplicate-intermediate
    elimination, flox/core.py:347-353).

    ``aggs``: {output_name: (func, value_col)} or
    {output_name: {"func":..., "value":..., "finalize_kwargs": {...}}}.
    """
    if not by:
        raise ValueError("need at least one `by` column")
    nby = len(by)
    isbin_t = _as_tuple(isbin, nby, "isbin")
    isbin_t, expected_t, closed_t = _normalize_expected(expected_groups, isbin_t, nby)

    agg_value_cols = {
        (spec["value"] if isinstance(spec, dict) else spec[1])
        for spec in aggs.values()
    }
    work, key_cols, by_dts, raw_map, size, one_task = _prep_labels(
        df, by, isbin_t, expected_t, closed_t, {v: f"__fs_raw__{v}" for v in agg_value_cols}
    )
    schema = df.schema
    order_sql = _order_sql(schema, order_by)

    exprs = []
    fills: dict[str, Any] = {}
    for out_name, spec in aggs.items():
        if isinstance(spec, dict):
            func, value = spec["func"], spec["value"]
            fk = spec.get("finalize_kwargs") or {}
        else:
            func, value = spec
            fk = {}
        spec_value, value = value, raw_map.get(value, value)
        if isinstance(func, str):
            if func not in REDUCTIONS:
                raise ValueError(f"unknown reduction {func!r}")
            agg = REDUCTIONS[func]
        else:
            agg = func
        if agg.two_stage:
            raise ValueError(f"{agg.name} is two-stage; use groupby_reduce for it")
        if agg.needs_order and order_by is None:
            raise ValueError(f"func {agg.name!r} requires order_by=")
        if (
            agg.name in ("median", "nanmedian", "quantile", "nanquantile")
            and OPTIONS["quantile_impl"] not in ("auto", "agg")
            and not OPTIONS["approx_quantile"]
        ):
            # every strategy but "agg" needs its own plan (a driver
            # collect, a python kernel or extra scans) and cannot fuse
            # into the single agg pass: fall back loudly rather than
            # silently ignore the user's explicit option ("auto" fuses
            # silently — agg IS the best strategy available inside one
            # aggregation pass)
            import warnings

            warnings.warn(
                f"groupby_reduce_multi cannot honor quantile_impl="
                f"{OPTIONS['quantile_impl']!r} for {agg.name!r}; using the "
                "percentile aggregate (per-group memory). Call "
                "groupby_reduce for the multi-stage exact paths.",
                stacklevel=2,
            )
        ctx = AggContext(sql_quote(value), schema[spec_value].dataType, order_sql, dict(fk))
        exprs.append(agg_column(agg, ctx).alias(out_name))
        fills[out_name] = fill_value if fill_value is not None else agg.default_fill

    all_declared = all(e is not None for e in expected_t)
    if (not sort) and order_by is not None and not all_declared:
        # sort=False occurrence order (see groupby_reduce) — fused
        exprs.append(F.expr(f"min({order_sql})").alias("__occ"))
    result = work.groupBy(*key_cols).agg(*exprs)

    if any(e is not None for e in expected_t):
        result = _reindex_expected(
            result, key_cols, isbin_t, expected_t, fills, df.sparkSession,
            with_pos=(not sort) and all_declared, one_task=one_task,
        )
    if bin_labels and any(isbin_t):
        result = _with_bin_labels(result, by, isbin_t, expected_t, by_dts)
    if sort:
        result = _sorted_output(
            result, key_cols, _declared_cardinality(isbin_t, expected_t),
            heavy=False, in_size=size, one_task=one_task,
        )
    elif "__occ" in result.columns:
        oc = F.col("__occ").asc_nulls_last()
        declared_card = _declared_cardinality(isbin_t, expected_t)
        if one_task or (
            declared_card is not None and declared_card <= OPTIONS["single_partition_sort_max"]
        ):
            result = _tiny_sorted(result, oc, in_size=size, one_task=one_task).drop("__occ")
        else:
            result = result.orderBy(oc).drop("__occ")
    return result


def _finalize(
    val: str | Column,
    n: str,
    agg: Aggregation,
    min_count: int | None,
    fill_value: Any,
    m: int | None = None,
    dt: DataType | None = None,
    poison: str | None = None,
) -> Column:
    """The one finalize tail of a group result: every exact-quantile
    strategy and the registry path's ``min_count`` mask call it, so
    the rules cannot drift apart.  In order:

    - ``dt``: datetime/timedelta values come back from the arithmetic
      (int64 us, as double) view (None: ``val`` is already typed);
    - ``poison``: plain (non-``nan*``) funcs return the missing
      sentinel of the output type where it holds;
    - ``min_count``: groups with fewer than ``min_count`` countable
      values (``n``) take ``fill_value`` (default: the func's fill).

    ``val`` is SQL text (a Column only when ``dt`` is None); ``n`` and
    ``poison`` are SQL text, parsed only when their rule applies (each
    parse is a py4j round trip).  ``m`` is the vector-q width when
    ``val`` is an array of m values."""
    dtish = dt is not None and (is_datetime_type(dt) or is_timedelta_type(dt))
    if dtish:
        val = f"transform({val}, x -> {sql_arith_restore('x', dt)})" if m else sql_arith_restore(val, dt)
    if isinstance(val, str):
        val = F.expr(val)
    if poison is not None and not agg.name.startswith("nan"):
        sentinel = F.expr(sql_sentinel(dt if dtish else "double"))
        val = F.when(F.expr(poison), F.array_repeat(sentinel, m) if m else sentinel).otherwise(val)
    if min_count is not None and min_count > 0:
        fill = fill_value if fill_value is not None else agg.default_fill
        val = F.when(F.expr(f"{n} >= {int(min_count)}"), val).otherwise(_fill_literal([fill] * m if m else fill))
    return val


def _q_params(ctx: AggContext, agg: Aggregation) -> tuple[bool, bool, list[float]]:
    """The quantile family's shared parameter normalization: NaN
    policy from the func name, q defaulting (median == q 0.5), and
    the scalar-vs-vector-q shape — one place for all multi-stage
    strategies (sort / refine / arrow)."""
    skipna = agg.name.startswith("nan")
    qv_arg = ctx.kwargs.get("q")
    if agg.name in ("median", "nanmedian") or qv_arg is None:
        qv_arg = 0.5
    is_vec = isinstance(qv_arg, (list, tuple))
    return skipna, is_vec, [float(x) for x in (qv_arg if is_vec else [qv_arg])]


def _quantile_sort(
    work: DataFrame,
    key_cols: list[str],
    ctx: AggContext,
    agg: Aggregation,
    out_name: str,
    min_count: int | None,
    fill_value: Any,
) -> DataFrame:
    """Exact quantile via sort + rank filter — the giant-group-safe
    plan (``set_options(quantile_impl='sort')``).

    Spark's ``percentile`` aggregate buffers every group's values in
    an ObjectHashAggregate map: exact, but memory grows with the
    largest group — the one reduction in the registry that can OOM at
    100 TB.  This path computes the identical numpy-linear result
    with bounded memory: a spillable sort under a streaming
    ``row_number`` (no whole-partition buffering: group sizes come
    from a separate tiny aggregate, not an unbounded window frame),
    then keeps only the floor/ceil rank rows per (group, q) and
    interpolates.  Data-sized work: one sort shuffle + one join that
    reuses the sort's hash partitioning; everything else is
    group-cardinality-sized.

    Returns the same shape as the aggregate path (scalar double or
    per-q array), so reindex/explode/sort downstream are shared."""
    skipna, is_vec, qlist = _q_params(ctx, agg)

    av, _ = ctx.arith()
    work2 = work.withColumn("__qv", av).withColumn("__miss", ctx.missing)
    gaggs = [F.count("__qv").alias("__n")]
    if not skipna:
        gaggs.append(F.bool_or("__miss").alias("__poison"))
    groups = work2.groupBy(*key_cols).agg(*gaggs)

    wq = Window.partitionBy(*key_cols).orderBy("__qv")
    ranked = (
        work2.filter(F.col("__qv").isNotNull())
        .select(*key_cols, "__qv")
        .withColumn("__r", F.row_number().over(wq) - 1)
    )

    qpairs = F.explode(
        F.array(*[F.struct(F.lit(i).alias("__qi"), F.lit(q).alias("__q")) for i, q in enumerate(qlist)])
    ).alias("__qp")
    extra = [] if skipna else ["__poison"]
    bounds = (
        groups.select(*key_cols, "__n", *extra, qpairs)
        .select(*key_cols, "__n", *extra, F.col("__qp.__qi").alias("__qi"), F.col("__qp.__q").alias("__q"))
        .withColumn("__t", (F.col("__n") - 1) * F.col("__q"))
        .withColumn("__tf", F.floor("__t").cast("long"))
        .withColumn("__tc", F.ceil("__t").cast("long"))
    )
    picked = (
        ranked.join(bounds.select(*key_cols, "__qi", "__tf", "__tc"), key_cols)
        .filter((F.col("__r") == F.col("__tf")) | (F.col("__r") == F.col("__tc")))
        .groupBy(*key_cols, "__qi")
        .agg(
            F.min(F.when(F.col("__r") == F.col("__tf"), F.col("__qv"))).alias("__vlo"),
            F.min(F.when(F.col("__r") == F.col("__tc"), F.col("__qv"))).alias("__vhi"),
        )
    )
    per_q = bounds.join(picked, [*key_cols, "__qi"], "left")
    val = _finalize(
        sql_lerp("__vlo", "__vhi", "(__t - __tf)"), "__n", agg,
        min_count, fill_value, dt=ctx.dt, poison="__poison",
    )

    if is_vec:
        return (
            per_q.withColumn("__o", val)
            .groupBy(*key_cols)
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("__qi"), F.col("__o").alias("v")))),
                    lambda s: s["v"],
                ).alias(out_name)
            )
        )
    return per_q.select(*key_cols, val.alias(out_name))


def _quantile_arrow(
    work: DataFrame,
    key_cols: list[str],
    ctx: AggContext,
    agg: Aggregation,
    out_name: str,
    min_count: int | None,
    fill_value: Any,
    size: int | None,
) -> DataFrame:
    """Exact quantile via one Arrow-batched ``np.quantile`` per group —
    the stats-chosen kernel for the small-input zone (input provably
    under ``quantile_agg_max_bytes``, where the whole-group buffering
    is safe by construction).

    The "agg" strategy's JVM kernel (aggregations._quantile:
    ``array_sort(collect_list)`` + lerp — itself already measured
    ~2x Spark's ``percentile`` aggregate) still pays per-row
    ArrayBuffer appends and a full comparison sort per group.  numpy
    IS the reference semantics (flox computes np.quantile, reference
    aggregations.py:688-710), so one GROUPED_AGG kernel per group —
    vectorized introselect + the same linear interpolation — beats
    it 2.4-2.7x at the zone top (bench_scale --qarrow: 5M rows,
    agg 6.9 s vs arrow 2.6 s) and ties at floor-dominated sizes;
    the Arrow transfer ships each value once (the same raw-row
    volume the collect_list buffers shuffle, through the same pinned
    keyed exchange — grouped-agg UDFs have no map-side reduction to
    lose either).

    One UDF call returns ``[q_0..q_{m-1}, n, n_miss]`` packed in a
    single array (grouped-agg pandas UDFs cannot mix with built-in
    aggregates in one pass): ``n`` is the non-NULL-non-NaN count the
    whole quantile family uses for ``min_count``, ``n_miss`` counts
    missing of EITHER kind (NULL or NaN — ``v_skip`` conflates them
    before the transfer) and drives the non-skipna poison rule,
    exactly like the sort path's ``bool_or(missing)``.  Returns the
    same shape as the aggregate path (scalar double or per-q array),
    so reindex/explode/sort downstream are shared.

    NaN-vs-NULL at the Arrow boundary: pyarrow serializes a NaN
    INSIDE the returned array as null, so the SQL side reconstructs
    explicitly from ``n`` — a non-empty group's null slot was a real
    numpy NaN (e.g. a quantile interpolated across mixed infinities)
    and coalesces back to NaN; an empty group (n = 0) is NULL, the
    same as ``percentile`` of no rows.  Nothing load-bearing rides
    the serializer's nan-as-null choice.

    Precision (r11 ADVICE, the shared-cast assumption made explicit):
    the arith view is cast to double BEFORE the transfer, so int64 /
    timestamp-microsecond values beyond 2^53 round pre-kernel — the
    same double-lerp precision the agg/sort strategies share, but
    here it also reaches EXACT (integral-rank) order statistics,
    whose raw values the other strategies would return unrounded.
    Acceptable by policy: 2^53 us is ~year 2255, and flox's own
    kernel is np.quantile over float64 (reference
    aggregations.py:688-710), i.e. identical rounding.  ``size``: the
    caller's plan-stats estimate of ``work``."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    skipna, is_vec, qlist = _q_params(ctx, agg)
    qs = tuple(qlist)
    m = len(qs)

    av, _ = ctx.arith()
    # v_skip already nulled policy-NaNs, so after the Arrow transfer
    # every pandas NaN means "missing of either kind" and one isnan
    # mask is the whole cleaning pass — n_miss is then just
    # len(v) - kept, no second column shipped
    work2 = work.withColumn("__qv", av.cast("double"))

    # explicit GROUPED_AGG: the hint-based form cannot infer the
    # Series -> array agg shape.  The functionType spelling is the
    # only one that can express it, so silence exactly its
    # prefer-type-hints advisory (emitted once per plan build)
    import warnings as _warnings

    with _warnings.catch_warnings():
        _warnings.filterwarnings("ignore", message=".*type hints.*")

        @pandas_udf("array<double>", PandasUDFType.GROUPED_AGG)
        def _qnk(v):
            import numpy as np

            raw = v.to_numpy(dtype="float64")
            a = raw[~np.isnan(raw)]
            out = (
                np.quantile(a, qs).tolist() if a.size else [float("nan")] * m
            )
            out.append(float(a.size))
            out.append(float(raw.size - a.size))
            return out

    res = (
        pin_keyed_parallelism(work2, key_cols, size=size)
        .groupBy(*key_cols)
        .agg(_qnk("__qv").alias("__qa"))
    )
    return _finalize_qarrays(res, key_cols, ctx, agg, out_name, min_count, fill_value)


def _finalize_qarrays(
    res: DataFrame,
    key_cols: list[str],
    ctx: AggContext,
    agg: Aggregation,
    out_name: str,
    min_count: int | None,
    fill_value: Any,
) -> DataFrame:
    """Shared SQL tail for the two np.quantile kernels (distributed
    GROUPED_AGG and driver): ``res`` holds (keys..., __qa) where
    ``__qa`` packs ``[q_0..q_{m-1}, n, n_miss]`` — NaN inside the
    array may arrive as NULL (pyarrow's serialization, or the driver
    kernel's deliberate None re-entry) and is reconstructed from
    ``n`` here; the rest is ``_finalize``."""
    _, is_vec, qlist = _q_params(ctx, agg)
    m = len(qlist)
    n = f"element_at(__qa, {m + 1})"
    vals = f"slice(__qa, 1, {m})" if is_vec else "element_at(__qa, 1)"
    if not (is_datetime_type(ctx.dt) or is_timedelta_type(ctx.dt)):
        # see _quantile_arrow's Arrow-boundary note: a non-empty
        # group's null slot = serialized NaN; empty group (n = 0) = NULL
        nan = "coalesce({}, CAST('NaN' AS DOUBLE))"
        vals = f"transform({vals}, x -> {nan.format('x')})" if is_vec else nan.format(vals)
    val = _finalize(
        f"CASE WHEN {n} > 0 THEN {vals} END", n, agg, min_count, fill_value,
        m=m if is_vec else None, dt=ctx.dt, poison=f"element_at(__qa, {m + 2}) > 0",
    )
    return res.select(*key_cols, val.alias(out_name))


# past this many observed groups the driver kernel's per-group loop
# and LocalRelation re-entry stop paying for themselves vs the
# distributed hash aggregate — the kernel declines
_QUANTILE_DRIVER_MAX_GROUPS = 65_536

# forced-mode guard: quantile_impl="driver" declines (-> "arrow")
# when plan stats exceed this multiple of quantile_driver_max_bytes,
# so a forced strategy can't collect an arbitrarily large input into
# the driver before the group-count fallback gets a chance to fire
_QUANTILE_DRIVER_HARD_FACTOR = 32


def _driver_group_quantiles(
    sel: DataFrame, key_cols: list[str], qs: list[float], max_groups: int | None = None
) -> list[tuple] | None:
    """The one driver-side ``np.quantile`` kernel, shared by the
    "driver" strategy and winsorize's fence branch: ONE no-shuffle
    Arrow collect of ``sel`` (keys..., ``__qv`` double), keys
    dictionary-coded into one combined group code, a stable argsort,
    then ``np.quantile`` per group over the non-NaN values — the same
    numpy function over the same post-cast float64 bytes as the
    distributed Arrow kernel, so both are bit-identical by
    construction.

    NULL keys form their own group (Spark groupBy semantics: null
    dictionary indices take code 0, real values shift by +1).  Float
    keys get Spark's groupBy normalization mirrored before the
    bitwise dictionary encode (NormalizeFloatingNumbers: ``-0.0``
    folds into ``0.0``, every NaN payload into one canonical NaN).

    Returns ``[(keys, quantiles, n, n_missing)]`` per group, with
    ``[None] * len(qs)`` quantiles for a group with no non-NaN value;
    None when ineligible (Arrow-hostile types, combined-code
    overflow, more than ``max_groups`` groups)."""
    import numpy as np

    try:
        import pyarrow as pa
        import pyarrow.compute as pc

        tbl = sel.toArrow().combine_chunks()

        def chunk(name):
            col = tbl.column(name)
            return col.chunk(0) if col.num_chunks else pa.array([], type=col.type)

        combined = np.zeros(tbl.num_rows, dtype="int64")
        dims: list[list] = []
        maxcode = 1
        for k in key_cols:
            ch = chunk(k)
            if pa.types.is_floating(ch.type):
                # pc.equal/is_nan return NULL on NULL slots and if_else
                # propagates it, so NULL keys keep their own group
                zero = pa.scalar(0.0, ch.type)
                ch = pc.if_else(pc.equal(ch, zero), zero, ch)
                ch = pc.if_else(pc.is_nan(ch), pa.scalar(float("nan"), ch.type), ch)
            enc = pc.dictionary_encode(ch)
            codes = enc.indices.to_numpy(zero_copy_only=False)
            codes = np.where(np.isnan(codes.astype("float64")), -1.0, codes).astype("int64") + 1
            dic = enc.dictionary.to_pylist()
            dims.append(dic)
            maxcode *= len(dic) + 1
            if maxcode > (1 << 62):
                return None
            combined = combined * (len(dic) + 1) + codes
        v = chunk("__qv").to_numpy(zero_copy_only=False).astype("float64", copy=False)
    except Exception:
        return None
    order = np.argsort(combined, kind="stable")
    sc, sv = combined[order], v[order]
    starts = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]]) if len(sc) else []
    if max_groups is not None and len(starts) > max_groups:
        return None
    groups = []
    for start, stop in zip(starts, [*starts[1:], len(sc)]):
        raw = sv[start:stop]
        a = raw[~np.isnan(raw)]
        code, keys = int(sc[start]), []
        for dic in reversed(dims):
            code, idx = divmod(code, len(dic) + 1)
            keys.append(None if idx == 0 else dic[idx - 1])
        out = np.quantile(a, qs).tolist() if a.size else [None] * len(qs)
        groups.append((tuple(reversed(keys)), out, a.size, raw.size - a.size))
    return groups


def _quantile_driver(
    work: DataFrame,
    key_cols: list[str],
    ctx: AggContext,
    agg: Aggregation,
    out_name: str,
    min_count: int | None,
    fill_value: Any,
    size: int | None | EllipsisType = ...,
) -> DataFrame | None:
    """Exact quantile for the TINY zone (input plan-stats under
    ``quantile_driver_max_bytes``): ``_driver_group_quantiles`` over
    the pruned ``(keys, value-as-double)`` projection, re-entered as
    a LocalRelation with the same ``(keys, __qa)`` shape the
    distributed Arrow kernel aggregates to — ``_finalize_qarrays`` is
    shared, so the two kernels are bit-identical by construction
    (pinned by the strategy matrix in tests/test_quantile_arrow.py).
    numpy IS the reference semantics (flox computes np.quantile
    directly, flox/aggregations.py:688-710), so this kernel is the
    closest physical analog of the reference's own execution — just
    over a gated, bounded slice of the data.

    What it saves vs "arrow" at this size: the keyed exchange of
    every row, the GROUPED_AGG python-worker round trip, and one AQE
    stage job — measured 2 jobs -> 1 data job + 1 LocalRelation-side
    job and ~0.3 s at the sf0.1 bench shape.  NaN inside the packed
    array re-enters as None ON PURPOSE (the list-path LocalRelation
    would keep NaN, but the pandas path would flip it silently —
    None is the one representation both the GROUPED_AGG transfer and
    the local re-entry agree on, and the shared tail reconstructs
    from ``n`` either way).  A frame whose keys contain NaN re-enters
    through the classic list path instead of pandas: pandas/Arrow
    would coerce a NaN KEY to NULL, silently merging a NaN-key group
    into a genuine NULL-key group.

    Returns None when ineligible (streaming input, a declined kernel,
    or — forced-mode guard — plan stats over
    ``_QUANTILE_DRIVER_HARD_FACTOR`` x the auto gate) — the caller
    falls back to the "arrow" kernel.  ``size``: the caller's
    plan-stats estimate of ``work``."""
    _, _, qlist = _q_params(ctx, agg)
    if work.isStreaming:
        return None
    # forced-mode memory guard: `auto` only routes here under the
    # 12 MB stats gate, but set_options(quantile_impl="driver") lands
    # here unconditionally — decline before the full collect when the
    # plan is KNOWN to be far past the tiny zone.  Unknown stats fall
    # through (the user explicitly forced the strategy; auto never
    # reaches here stats-less — it picks "sort").
    if size is ...:
        size = estimate_size_bytes(work)
    if size is not None and size > _QUANTILE_DRIVER_HARD_FACTOR * OPTIONS["quantile_driver_max_bytes"]:
        return None
    av, _ = ctx.arith()
    groups = _driver_group_quantiles(
        work.select(*key_cols, av.cast("double").alias("__qv")), key_cols, qlist,
        max_groups=_QUANTILE_DRIVER_MAX_GROUPS,
    )
    if groups is None:
        return None
    rows = [
        (*keys, [None if x != x else x for x in out] + [float(n), float(n_miss)])
        for keys, out, n, n_miss in groups
    ]
    try:
        import pandas as pd
        from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

        schema = StructType(
            [work.schema[k] for k in key_cols]
            + [StructField("__qa", ArrayType(DoubleType()))]
        )
        spark = work.sparkSession
        if any(isinstance(x, float) and x != x for r in rows for x in r[:-1]):
            # NaN GROUPING key (rare: needs a float key column holding
            # NaN): the list path keeps NaN as a double value
            res = spark.createDataFrame(rows, schema=schema)
        elif rows:
            pdf = pd.DataFrame({
                f.name: pd.Series([r[j] for r in rows], dtype=object)
                for j, f in enumerate(schema.fields)
            })
            res = spark.createDataFrame(pdf, schema=schema)
        else:
            res = spark.createDataFrame([], schema=schema)
    except Exception:
        return None  # Arrow-hostile types etc. — distributed kernel instead
    # one partition, like the one-task plan it may join: the re-entered
    # frame is group-sized, and its slices would otherwise cost the
    # reindex join an exchange
    res = res.coalesce(1)
    return _finalize_qarrays(res, key_cols, ctx, agg, out_name, min_count, fill_value)


def _choose_quantile_impl(work: DataFrame, size: int | None | EllipsisType = ...) -> str:
    """Stats-driven exact-quantile strategy selection (the Spark
    analog of flox's ``_choose_engine``, flox/core.py:712-736 — pick
    the physical kernel from the data's shape, never from a fixed
    default).  ``set_options(quantile_impl=...)`` forces a strategy;
    the default ``"auto"`` walks a four-strategy ladder on the
    optimized plan's size statistics (parquet footers / LocalRelation
    actual bytes — free at plan time).  Every strategy interpolates
    with the one ``sql_lerp``/``np.quantile`` rule and ends in the one
    ``_finalize`` tail, so the pick changes cost, never the result:

    - tiny input (<= ``quantile_driver_max_bytes``, non-streaming):
      ``"driver"`` — one no-shuffle Arrow collect + in-driver
      ``np.quantile`` (``_quantile_driver``); NB this strategy runs
      its collect at PLAN-BUILD time, bounded by the gate;
    - small input (<= ``quantile_agg_max_bytes``): ``"arrow"`` — one
      ``np.quantile`` grouped-agg kernel per group
      (``_quantile_arrow``).  The 64 MB bound also caps the worst
      case of ONE group's values crossing Arrow into a single python
      worker;
    - medium input (<= ``quantile_refine_max_bytes``, default 1 TB):
      ``"refine"`` — exact two-scan approx-bracket + candidate collect
      (``_quantile_refine``); the sketch accuracy adapts to the input
      size (~sqrt(rows), ``_refine_accuracy``), so worst-case
      per-group memory grows as O(sqrt(n)*log n) even if ONE group
      holds the entire input;
    - larger or unknown input: ``"sort"`` — spillable sort + streaming
      rank (``_quantile_sort``); the always-safe plan whose cost is a
      full shuffle of the values.

    ``"agg"`` (the registry's array_sort(collect_list) kernel) is only
    reachable explicitly and inside ``groupby_reduce_multi``'s fused
    pass.  Measured zones (``tools/bench_scale.py --qarrow``: 8 groups
    unless noted, 2 pinned CPUs, whole call = build + noop sink,
    median of 4-5 alternating runs; *starred* = the auto pick):

    | input stats         | driver   | arrow    | refine   | sort    |
    |---------------------|----------|----------|----------|---------|
    | 0.7 MB              | *0.51 s* | 1.35 s   | 1.63 s   |         |
    | 6.9 MB              | *0.64 s* | 1.31 s   | 1.74 s   |         |
    | 16 MB               |          | *2.06 s* | 3.29 s   |         |
    | 40 MB               |          | *3.31 s* | 4.45 s   |         |
    | 40 MB (5000 groups) |          | *8.10 s* | 7.77 s   |         |
    | 60 MB               |          | *4.21 s* | 5.09 s   |         |
    | 80 MB               |          |          | *7.29 s* | 15.43 s |

    The 5000-group row is a tie (within run-to-run spread).  No zone
    past 1 TB has been measured; sort is the plan that stays safe
    there.  ``size``: the caller's plan-stats estimate of ``work``."""
    impl = OPTIONS["quantile_impl"]
    if impl != "auto":
        return impl
    if size is ...:
        size = estimate_size_bytes(work)
    if size is None:
        return "sort"
    if size <= OPTIONS["quantile_driver_max_bytes"] and not work.isStreaming:
        # the kernel itself falls back to "arrow" on high group
        # cardinality or Arrow-hostile key types
        return "driver"
    if size <= OPTIONS["quantile_agg_max_bytes"]:
        return "arrow"
    if size <= OPTIONS["quantile_refine_max_bytes"]:
        return "refine"
    return "sort"


_REFINE_ACC_MAX = 262_144


def _refine_accuracy(work: DataFrame) -> int:
    """Size-adaptive sketch accuracy for the refine strategy.

    Refine's worst-case per-group memory has two opposing terms in
    the accuracy ``a``: the pass-1 GK sketch holds O(a*log(n/a))
    samples while the pass-2 candidate collect holds ~6n/a values
    (one group owning all n input rows is the worst case).  A fixed
    accuracy therefore caps the safe input size: at the 1e4 default,
    n = 7e10 rows means 4e7 collected candidates (~0.3 GB) per task.
    Balancing the two terms puts the optimum near sqrt(6n) — total
    per-group memory grows as O(sqrt(n) * log n) instead of O(n),
    which is what extends the refine zone into the terabyte range:
    at the 262144 cap and n = 7e10 (a ~1 TB single group), the
    candidates are ~1.6e6 values (~13 MB) and the sketch ~5e6
    samples (~80 MB) — bounded either way.  Small inputs drop to a
    1024 floor: exactness never depends on the bracket accuracy
    (the sketch only brackets the candidate window), so the user's
    approx_quantile_accuracy option deliberately does not apply here.
    Rows are estimated from plan-stats bytes at 16 B/row — only the
    order of magnitude matters."""
    return _refine_accuracy_for_bytes(estimate_size_bytes(work))


def _refine_accuracy_for_bytes(size: int | None, floor: int = 10_000) -> int:
    # NB the user's approx_quantile_accuracy option deliberately does
    # NOT floor this: refine is EXACT at any bracket accuracy (the
    # sketch only brackets the candidate window), so the balanced
    # sqrt(6n) value applies all the way down to its own 1024 floor —
    # measured ~20% faster than a 1e4 floor at 600k rows, identical
    # results.  Unknown plan stats keep the conservative default.
    if size is None:
        return floor
    est_rows = max(1, size // 16)
    return max(1024, min(int((6 * est_rows) ** 0.5), _REFINE_ACC_MAX))


_REFINE_CUTOFF_FLOOR = 1024


def _quantile_refine(
    work: DataFrame,
    key_cols: list[str],
    ctx: AggContext,
    agg: Aggregation,
    out_name: str,
    min_count: int | None,
    fill_value: Any,
) -> DataFrame:
    """Exact quantile via approx-bracket + candidate collection — the
    medium-scale path of ``_choose_quantile_impl``: two scans, zero
    data-sized shuffles, bounded memory at any group size.

    Pass 1 (one hash aggregate): per group, the non-missing count
    ``n`` and a deterministic-error rank bracket from
    ``percentile_approx`` at q -/+ 3/accuracy (the GK summary's
    compression error is <= n/accuracy ranks and its query rank
    convention adds up to ~2 more, so the bracket provably contains
    the floor/ceil target ranks once n > accuracy — see the cutoff
    note below; smaller groups skip the bracket and collect
    everything — bounded by the cutoff).  Pass 2 (broadcast-join the tiny per-group bracket back,
    one more hash aggregate): count values below the bracket, collect
    ONLY the ~6n/accuracy candidate values strictly inside it, and
    read the floor/ceil rank values straight out of the sorted
    candidate array — then numpy-linear interpolation, identical
    semantics to the ``percentile`` aggregate (and DuckDB
    quantile_cont).

    Scale shape: both aggregates are map-side-combined hash aggs on
    the group keys; the join is a broadcast of a |groups|-row frame;
    the input is scanned twice (no materialization — at 100 TB a
    second columnar scan is far cheaper than caching).  The sketch
    accuracy adapts to the input size (``_refine_accuracy``:
    ~sqrt(rows), capped), which bounds worst-case per-group memory at
    O(sqrt(n)*log n) across the whole refine zone.  Returns the same
    shape as the aggregate path (scalar double or per-q array).
    """
    skipna, is_vec, qlist = _q_params(ctx, agg)

    acc = _refine_accuracy(work)
    slack = 3.0 / acc
    # below this size a group's values are collected outright (exact,
    # bounded).  The bracket is trusted only above n = acc, NOT acc/2:
    # the sketch's real deviation is its compression error (n/acc
    # ranks) PLUS up to ~2 ranks of rank-convention slop — GK query
    # targets ceil(q*n) while the exact target is floor/ceil((n-1)*q)
    # — so the 3n/acc-rank slack margin only dominates once
    # 3n/acc >= n/acc + 2, i.e. n >= acc.  (Found by hypothesis:
    # percentile_approx returned the group MINIMUM for a rank-1.66
    # target at n=17, acc=32 — inside the old (acc/2, acc) trust
    # window — silently mis-bracketing the quantile.)
    cutoff = max(_REFINE_CUTOFF_FLOOR, acc)

    av, _ = ctx.arith()
    work2 = work.withColumn("__qv", av).withColumn("__miss", ctx.missing)

    probs: list[float] = []
    for q in qlist:
        probs += [max(0.0, q - slack), min(1.0, q + slack)]
    gaggs = [
        F.count("__qv").alias("__n"),
        F.percentile_approx(
            F.col("__qv"), F.array(*[F.lit(p) for p in probs]), F.lit(acc)
        ).alias("__pa"),
    ]
    if not skipna:
        gaggs.append(F.bool_or("__miss").alias("__poison"))
    # per-q brackets as group-level columns: read once per group, not
    # once per row of the collect pass
    bounds = work2.groupBy(*key_cols).agg(*gaggs).select(
        "*", *[F.element_at("__pa", b + 1).alias(f"__b{b}") for b in range(2 * len(qlist))]
    )

    j = work2.select(*key_cols, "__qv").join(F.broadcast(bounds), key_cols)
    small = F.col("__n") <= F.lit(cutoff)
    exprs = [F.first("__n").alias("__n")]
    if not skipna:
        exprs.append(F.first("__poison").alias("__poison"))
    for i in range(len(qlist)):
        vlo = F.col(f"__b{2 * i}")
        vhi = F.col(f"__b{2 * i + 1}")
        use_all = small | vlo.isNull()
        in_mid = F.when(use_all, F.col("__qv").isNotNull()).otherwise(
            (F.col("__qv") > vlo) & (F.col("__qv") < vhi)
        )
        exprs += [
            F.sum(
                F.when(~use_all & (F.col("__qv") < vlo), 1).otherwise(0)
            ).alias(f"__clt_{i}"),
            F.sum(
                F.when(~use_all & (F.col("__qv") == vlo), 1).otherwise(0)
            ).alias(f"__ceq_{i}"),
            F.array_sort(F.collect_list(F.when(in_mid, F.col("__qv")))).alias(f"__mid_{i}"),
            F.first(vlo).alias(f"__vlo_{i}"),
            F.first(vhi).alias(f"__vhi_{i}"),
        ]
    g2 = j.groupBy(*key_cols).agg(*exprs)

    def q_val(i: int, q: float) -> Column:
        t = f"((__n - 1) * {float(q)!r}D)"
        lo = f"(__clt_{i} + __ceq_{i})"  # rank of the first candidate

        def at(r: str) -> str:
            return (
                f"CAST(CASE WHEN {r} < {lo} THEN __vlo_{i} "
                f"WHEN {r} < {lo} + size(__mid_{i}) "
                f"THEN element_at(__mid_{i}, CAST({r} - {lo} + 1 AS INT)) "
                f"ELSE __vhi_{i} END AS DOUBLE)"
            )

        tf = f"CAST(floor({t}) AS BIGINT)"
        lerp = sql_lerp(at(tf), at(f"CAST(ceil({t}) AS BIGINT)"), f"({t} - {tf})")
        return _finalize(
            f"CASE WHEN __n > 0 THEN {lerp} END", "__n", agg,
            min_count, fill_value, dt=ctx.dt, poison="__poison",
        )

    if is_vec:
        return g2.select(
            *key_cols, F.array(*[q_val(i, q) for i, q in enumerate(qlist)]).alias(out_name)
        )
    return g2.select(*key_cols, q_val(0, qlist[0]).alias(out_name))


def _mode_two_stage(work: DataFrame, key_cols: list[str], ctx: AggContext, skipna: bool, out_name: str) -> DataFrame:
    """mode/nanmode: most frequent value, smallest-value tie-break
    (scipy.stats.mode parity, flox/aggregate_npg.py:185-215).  Two
    hash aggregations — groupBy(keys, v).count then groupBy(keys) —
    both shuffle on (subsets of) the same keys; AQE coalesces.
    Plain mode propagates missing (nan_policy='propagate')."""
    vals = F.col("__v")
    stage1 = (
        work.withColumn("__v", ctx.value)
        .withColumn("__miss", ctx.missing)
        .groupBy(*key_cols, "__v", "__miss")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    pair = F.when(~F.col("__miss"), F.struct((-F.col("__cnt")).alias("nc"), vals.alias("v")))
    best = F.min(pair)["v"]
    if skipna:
        expr = best
    else:
        sentinel = F.lit(NAN) if is_float_type(ctx.dt) else F.lit(None)
        expr = F.when(F.bool_or(F.col("__miss")), sentinel.cast(ctx.dt)).otherwise(best)
    return stage1.groupBy(*key_cols).agg(expr.alias(out_name))


def _should_broadcast_reindex(grid_card: float) -> bool:
    """Force-broadcast the aggregated side of the reindex join only
    when the DECLARED grid is modest; past ~1e7 expected groups the
    aggregate may be grid-sized and a forced broadcast would blow the
    driver — drop the hint and let Catalyst pick by size estimate
    (it still broadcasts a genuinely small side on its own)."""
    return OPTIONS["broadcast_reindex"] and grid_card <= 1e7


def _reindex_expected(
    result: DataFrame,
    key_cols: list[str],
    isbin_t: tuple,
    expected_t: tuple,
    fills: dict[str, Any],
    spark,
    with_pos: bool = False,
    one_task: bool = False,
) -> DataFrame:
    """Left-join the aggregated result onto the cartesian grid of
    expected groups and fill absences — flox's reindex_ + fill
    (flox/reindex.py:160-216, flox/core.py:1195-1202).  Both sides
    are group-cardinality-sized; broadcast the aggregated side so the
    join never shuffles.  On a ``one_task`` plan with every group
    declared, both sides are one partition already (the grid
    coalesced, its parts crossed as a one-partition cartesian, the
    result from the coalesced input), so a shuffle-hash join needs no
    exchange at all and the broadcasts' jobs of their own go too.  (A
    materialized result reports no partitioning, so the
    partially-declared grid keeps the broadcast.)  ``fills``:
    out_column -> fill value (None -> NaN for float results, flox's
    promotion rule collapsed to NULL/NaN).
    ``with_pos`` attaches a ``__occ`` row-major grid position (the
    declared lists' GIVEN order — flox's sort=False expected-order
    contract, flox/factorize.py:85-93); requires every by declared.
    """
    partial = any(e is None for e in expected_t)
    if partial:
        # partially-declared expected groups: the observed-key grid
        # branches off `result`, which would otherwise re-execute the
        # whole aggregate subtree as a second plan branch (diamond)
        from flox_spark.plans.util import materialize_shared

        result = materialize_shared(result)
    grid: DataFrame | None = None
    grid_card: float = 1.0  # exact when all expected are declared
    part_sizes: list[int] = []
    # CartesianProductExec schedules nLeft x nRight tasks: tiny
    # declared parts arrive from createDataFrame/range sliced across
    # defaultParallelism, so an unclamped 2-key grid ran 32x32 = 1024
    # near-empty tasks (observed at sf0.01).  Declared parts are
    # group-cardinality-sized — collapse each to ONE partition while
    # the ACCUMULATED grid stays below this bound; past it (a
    # deliberately huge declared grid — e.g. two 64k-value keys would
    # otherwise build 4B rows in one task) keep the slices so the
    # cartesian build stays parallel.
    _GRID_COALESCE_MAX_CARD = 1 << 20
    for i, kc in enumerate(key_cols):
        exp = expected_t[i]
        if exp is None:
            # observed cardinality unknown at plan time: contributes no
            # factor — the heuristic only trips on DECLARED huge grids.
            # Left unclamped: a high-cardinality observed grouper needs
            # its post-shuffle parallelism in the grid build.
            part = result.select(kc).distinct()
            n_part = None
        elif isbin_t[i]:
            nbins = len(exp) - 1
            part = spark.range(nbins).select(F.col("id").cast("int").alias(kc))
            if with_pos:
                part = part.withColumn(f"__pos{i}", F.col(kc).cast("long"))
                part_sizes.append(nbins)
            grid_card *= nbins
            n_part = nbins
        else:
            kdt = result.schema[kc].dataType
            # local_frame, not a plain-list createDataFrame: the list
            # path is a python-RDD whose 32 slices re-enter the python
            # worker PER SCAN — an 8-row declared grid measured ~9 s
            # per execution at sf0.1; the Arrow LocalRelation scans
            # free (plans/util.py:local_frame)
            from flox_spark.plans.util import local_frame

            if with_pos:
                part = local_frame(
                    spark,
                    [(v, j) for j, v in enumerate(exp)],
                    schema=f"`{kc}` {kdt.simpleString()}, `__pos{i}` bigint",
                )
                part_sizes.append(len(exp))
            else:
                part = local_frame(
                    spark, [(v,) for v in exp], schema=f"`{kc}` {kdt.simpleString()}"
                )
            grid_card *= len(exp)
            n_part = len(exp)
        if n_part is not None and grid_card <= _GRID_COALESCE_MAX_CARD:
            part = part.coalesce(1)
        if grid is None:
            grid = part
        elif one_task and not partial and grid_card <= _GRID_COALESCE_MAX_CARD:
            # both sides are one partition: cross them inside the one
            # task instead of broadcasting a part as a job of its own
            grid = one_partition_cartesian(grid, part)
        else:
            grid = grid.crossJoin(part)
    if with_pos:
        pos: Column = F.lit(0)
        for i, n in enumerate(part_sizes):
            pos = pos * F.lit(n) + F.col(f"__pos{i}")
        grid = grid.withColumn("__occ", pos.cast("long")).drop(
            *[f"__pos{i}" for i in range(len(part_sizes))]
        )

    # mark presence explicitly: a present group whose aggregate is
    # legitimately NULL must NOT be replaced by fill_value — fill is
    # only for expected-but-absent groups (flox/core.py:461-470)
    marked = result.withColumn("__present", F.lit(True))
    if one_task and not partial and grid_card <= _GRID_COALESCE_MAX_CARD:
        marked = marked.hint("shuffle_hash")
    elif _should_broadcast_reindex(grid_card):
        marked = F.broadcast(marked)
    joined = grid.join(marked, on=key_cols, how="left")
    for out_name, fill in fills.items():
        res_dt = result.schema[out_name].dataType
        if fill is None and is_float_type(res_dt):
            fill = NAN  # flox fills float results with NaN, not NULL
        joined = joined.withColumn(
            out_name,
            F.when(F.col("__present").isNull(), _fill_literal(fill).cast(res_dt)).otherwise(
                F.col(out_name)
            ),
        )
    return joined.drop("__present")
