"""The reduction registry: func name -> Spark aggregate expression.

Ports the semantics of flox's ``REDUCTIONS`` registry
(reference: flox/aggregations.py:161-913) onto Spark built-in
aggregates.  flox's chunk/combine/finalize three-stage spec collapses:
Spark's HashAggregateExec already executes partial -> shuffle -> final
merge (the exact role of flox's map-reduce tree, flox/dask.py:325-573),
so each flox reduction becomes ONE declarative aggregate expression and
Catalyst plans the distribution.

Each built-in reduction is defined once, as SQL text: ``agg_column``
parses it with one ``F.expr`` call, one py4j round trip, where the
same expression assembled from ``F.*`` calls costs one round trip per
call.  Builders that must return a Column are the named exceptions:
``prod``/``nanprod`` (``product`` has no SQL spelling), the Arrow UDF
of ``pandas_aggregation``, and user ``Aggregation(build=...)`` callables
written against the Column views of ``AggContext``.

NaN policy (see dtypes.py): ``nan*`` funcs aggregate the
missing->NULL view (Spark aggregates skip NULL natively); plain funcs
wrap the same expression in ``CASE WHEN bool_or(missing) THEN
<NaN|NULL>`` which reproduces numpy's NaN propagation exactly —
including for min/max, where Spark's native NaN-sorts-high rule would
otherwise diverge from numpy (flox/aggregate_npg.py:58-88 vs Spark
semantics).

Every builder returns a single expression whose leaves are aggregate
expressions, so any combination stays inside one
whole-stage-codegen'd aggregate (no extra passes over the data).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, FloatType

from flox_spark.dtypes import (
    is_bool_type,
    is_datetime_type,
    is_float_type,
    is_timedelta_type,
    sql_arith_input,
    sql_arith_restore,
    sql_missing,
    sql_prop,
    sql_skip,
)
from flox_spark.options import OPTIONS


@dataclass
class AggContext:
    """Everything a builder needs to emit its expression: the value and
    order columns as SQL text, plus Column views derived from that text
    for builders that return a Column."""

    value_sql: str  # quoted value column
    dt: DataType  # its Spark type
    order_sql: str | None = None  # numericized total order (first/last/arg*)
    kwargs: dict[str, Any] = field(default_factory=dict)  # ddof, q, ...

    # -- text views ----------------------------------------------------
    @property
    def skip_sql(self) -> str:
        """Missing -> NULL view (Spark aggs then skip them)."""
        return sql_skip(self.value_sql, self.dt)

    @property
    def missing_sql(self) -> str:
        return sql_missing(self.value_sql, self.dt)

    def arith_sql(self) -> tuple[str, DataType]:
        """NaN-skipping view pre-cast for arithmetic (bool->int,
        datetime->int64 us)."""
        return sql_arith_input(self.skip_sql, self.dt)

    # -- Column views --------------------------------------------------
    @property
    def value(self) -> Column:
        return F.expr(self.value_sql)

    @property
    def v_skip(self) -> Column:
        return F.expr(self.skip_sql)

    @property
    def missing(self) -> Column:
        return F.expr(self.missing_sql)

    @property
    def idx(self) -> Column | None:
        return None if self.order_sql is None else F.expr(self.order_sql)

    def arith(self) -> tuple[Column, DataType]:
        v, vdt = self.arith_sql()
        return F.expr(v), vdt


def _sql_double(x: Any) -> str:
    """A DOUBLE literal: ``F.lit(float)``'s type, exact (repr round-trips)."""
    return f"{float(x)!r}D"


def sql_sentinel(result_dt: DataType | str) -> str:
    """What numpy's NaN-propagation produces in the output type:
    NaN for float results, NULL otherwise (NULL is Spark's only
    missing representation for non-float types; flox would have
    promoted the dtype, xrdtypes.py:35-65)."""
    name = result_dt if isinstance(result_dt, str) else result_dt.simpleString()
    if name.lower() in ("double", "float"):
        return f"CAST('NaN' AS {name})"
    return f"CAST(NULL AS {name})"


def _propagate(c: AggContext, skip_expr: str, result_dt: DataType | str) -> str:
    """Wrap a NaN-skipping aggregate so missing values poison the
    group result (numpy plain-func semantics, flox §1.2)."""
    return f"CASE WHEN bool_or({c.missing_sql}) THEN {sql_sentinel(result_dt)} ELSE {skip_expr} END"


def _restore_float32(expr: str, in_dt: DataType) -> str:
    """numpy keeps float32 results float32 (flox/xrdtypes.py:153-172);
    Spark's sum/avg widen to double — cast back."""
    if isinstance(in_dt, FloatType):
        return f"CAST({expr} AS FLOAT)"
    return expr


def _result_type(dt: DataType, int_name: str) -> str:
    """Result type of an arithmetic reduction: float32 stays float32,
    other floats are double, everything else ``int_name``."""
    if isinstance(dt, FloatType):
        return "float"
    return "double" if is_float_type(dt) else int_name


def _zero(dt: DataType) -> str:
    return "CAST(0 AS DOUBLE)" if is_float_type(dt) else "CAST(0 AS BIGINT)"


# ---------------------------------------------------------------------------
# builders — one per flox reduction (flox/aggregations.py:304-712)
# ---------------------------------------------------------------------------


def _count(c: AggContext) -> str:
    # flox count == nanlen: number of non-missing (aggregations.py:304-313)
    return f"count({c.skip_sql})"


def _sum(c: AggContext, skipna: bool) -> str:
    v, vdt = c.arith_sql()
    expr = f"coalesce(sum({v}), {_zero(vdt)})"
    if is_timedelta_type(c.dt):
        # numpy sums timedelta64 to timedelta64 (flox int64 view +
        # dtype restore, flox/core.py:985-1001, 1209-1217)
        expr = sql_arith_restore(expr, c.dt)
        return expr if skipna else _propagate(c, expr, c.dt)
    expr = _restore_float32(expr, c.dt)
    return expr if skipna else _propagate(c, expr, _result_type(c.dt, "bigint"))


def _sum_of_squares(c: AggContext, skipna: bool) -> str:
    v, _ = c.arith_sql()
    expr = f"coalesce(sum(({v} * {v})), {_zero(c.dt)})"
    return expr if skipna else _propagate(c, expr, "double" if is_float_type(c.dt) else "bigint")


def _prod(ctx: AggContext, skipna: bool) -> Column:
    """Column-only: ``product`` is not a SQL routine, the aggregate is
    reachable only through ``F.product``."""
    v, _ = ctx.arith()
    expr = F.coalesce(F.product(v), F.lit(1).cast("double"))  # product() returns double
    if not is_float_type(ctx.dt):
        expr = expr.cast("long")  # numpy int prod stays int (xrdtypes.py:175-185)
    elif isinstance(ctx.dt, FloatType):
        expr = expr.cast("float")
    if skipna:
        return expr
    sentinel = F.expr(sql_sentinel(_result_type(ctx.dt, "bigint")))
    return F.when(F.bool_or(ctx.missing), sentinel).otherwise(expr)


def _mean(c: AggContext, skipna: bool) -> str:
    v, _ = c.arith_sql()
    expr = f"avg({v})"
    if is_datetime_type(c.dt) or is_timedelta_type(c.dt):
        expr = sql_arith_restore(expr, c.dt)
        return expr if skipna else _propagate(c, expr, c.dt)
    expr = _restore_float32(expr, c.dt)
    return expr if skipna else _propagate(c, expr, _result_type(c.dt, "double"))


def _var(c: AggContext, skipna: bool, std: bool) -> str:
    # flox var/std take ddof (default 0, numpy rule); Spark var_pop is
    # ddof=0 and var_samp ddof=1; generic ddof scales the sum of
    # squared deviations M2 = var_pop * n  (flox/aggregations.py:460-472)
    ddof = int(c.kwargs.get("ddof", 0))
    v, _ = c.arith_sql()
    if ddof == 0:
        expr = f"var_pop({v})"
    elif ddof == 1:
        expr = f"var_samp({v})"
    else:
        expr = (
            f"CASE WHEN count({v}) > {ddof} THEN "
            f"((var_pop({v}) * count({v})) / (count({v}) - {ddof})) "
            "ELSE CAST('NaN' AS DOUBLE) END"
        )
    if std:
        expr = f"sqrt({expr})"
    expr = _restore_float32(expr, c.dt)
    rdt = _result_type(c.dt, "double")
    # numpy: var of n<=ddof group -> NaN (flox fills NaN); Spark
    # var_samp of 1 row -> NULL. Normalize NULL->NaN for float parity.
    expr = f"coalesce({expr}, {sql_sentinel(rdt)})"
    return expr if skipna else _propagate(c, expr, rdt)


def _minmax(c: AggContext, skipna: bool, is_max: bool) -> str:
    # NULL-skipping; preserves type natively
    expr = f"{'max' if is_max else 'min'}({c.skip_sql})"
    if skipna:
        return expr
    # numpy min/max propagate NaN; Spark sorts NaN high (wrong for
    # min) — the bool_or wrapper fixes both directions (SURVEY §2.2).
    return _propagate(c, expr, c.dt)


def _first_last(c: AggContext, skipna: bool, is_last: bool) -> str:
    # Positional semantics need the explicit order column: Spark
    # first()/last() without a deterministic order are nondeterministic
    # (flox first/last are array-order, aggregations.py:634-649).
    assert c.order_sql is not None
    # plain first/last surface a missing element as NaN (numpy view:
    # NULL has no representation in float arrays), nan* skip it
    v = c.value_sql if skipna else sql_prop(c.value_sql, c.dt)
    pair = f"struct({c.order_sql} AS i, {v} AS v)"
    if skipna:
        pair = f"CASE WHEN NOT {c.missing_sql} THEN {pair} END"
    return f"{'max' if is_last else 'min'}({pair}).v"


def _arg(c: AggContext, skipna: bool, is_max: bool) -> str:
    """argmin/argmax with numpy parity: ties -> first occurrence
    (flox/core.py:334-336); plain variant returns the FIRST missing
    position when any value is missing (numpy comparison semantics).
    Result is the value of the order column (the positional index in
    flox's flattened axis, core.py:520-521)."""
    assert c.order_sql is not None
    idx, miss = c.order_sql, c.missing_sql
    if is_max:
        # max value, then min idx among ties: negate idx inside struct
        pair = f"CASE WHEN NOT {miss} THEN struct({c.value_sql} AS v, -({idx}) AS ni) END"
        best = f"-(max({pair}).ni)"
    else:
        pair = f"CASE WHEN NOT {miss} THEN struct({c.value_sql} AS v, {idx} AS i) END"
        best = f"min({pair}).i"
    if skipna:
        return best
    first_missing = f"min(CASE WHEN {miss} THEN {idx} END)"
    return f"CASE WHEN bool_or({miss}) THEN {first_missing} ELSE {best} END"


def sql_lerp(lo: str, hi: str, frac: str) -> str:
    """The one interpolation rule of every exact-quantile strategy:
    numpy's two-sided linear interpolation (numpy ``_lerp``),
    ``lo + frac*(hi-lo)`` for frac < 0.5, else ``hi - (1-frac)*(hi-lo)``,
    between the floor- and ceil-rank neighbours.  No ``lo = hi``
    shortcut: an integral rank over infinite neighbours is NaN, as in
    numpy (inf - inf).  The two-sided switch is not cosmetic — at
    frac -> 1 the one-sided form cancels catastrophically (q = 1 - ulp
    over [-16385, 0]: one-sided -3.64e-12, numpy and this form
    -1.82e-12)."""
    d = f"({hi} - {lo})"
    return (
        f"CASE WHEN ({frac} >= 0.5D) THEN ({hi} - ((1.0D - {frac}) * {d})) "
        f"ELSE ({lo} + ({frac} * {d})) END"
    )


def _array_lerp(a: str, x: float) -> str:
    """``sql_lerp`` at quantile ``x`` over the sorted array ``a`` (rank
    ``x * (size - 1)``, numpy's linear method)."""
    pos = f"({_sql_double(x)} * CAST((size({a}) - 1) AS DOUBLE))"
    lo = f"CAST(floor({pos}) AS INT)"

    def at(i: str) -> str:
        return f"CAST(element_at({a}, ({i} + 1)) AS DOUBLE)"

    return sql_lerp(at(lo), at(f"CAST(ceil({pos}) AS INT)"), f"({pos} - CAST({lo} AS DOUBLE))")


def _quantile(c: AggContext, skipna: bool, q: Any = None) -> str:
    qv = c.kwargs.get("q", q)
    if qv is None:
        qv = 0.5
    is_vec = isinstance(qv, (list, tuple))
    qlist = list(qv) if is_vec else [qv]
    v, _ = c.arith_sql()
    if OPTIONS["approx_quantile"]:
        pct = f"array({', '.join(map(_sql_double, qlist))})" if is_vec else _sql_double(qv)
        expr = f"percentile_approx({v}, {pct}, {int(OPTIONS['approx_quantile_accuracy'])})"
    else:
        # exact, linear interpolation — matches numpy's default method
        # (flox/aggregate_flox.py:50-130) and DuckDB quantile_cont.
        # Kernel: array_sort(collect_list) + ``sql_lerp``, the rule
        # every exact strategy shares.  The partial state is a flat
        # array append/concat (measured 1.40s -> 0.65s against
        # percentile's per-value OpenHashMap on the sf0.1 lineitem
        # two-fence agg), but it buffers the whole group: "auto" never
        # picks it for a lone quantile (core._choose_quantile_impl).
        # It runs where quantiles fuse into one aggregation pass
        # (groupby_reduce_multi) and under quantile_impl="agg".
        #
        # The sorted array is bound ONCE as a transform() lambda
        # variable: every element_at/size reference reads the bound
        # value for free.  Naively referencing
        # array_sort(collect_list(v)) from each lerp term re-evaluates
        # the SORT per reference — neither CollapseProject nor codegen
        # subexpression elimination rescued it (measured ~2.5 sorts'
        # worth of extra wall at sf0.1; the media_features staging
        # discipline, multimodal.py).  Catalyst still plans the ONE
        # collect_list buffer however many q's read it.  An empty group
        # (all-missing values) gives NULL, matching the percentile
        # aggregate.
        lerps = ", ".join(_array_lerp("a", x) for x in qlist)
        qarr = (
            f"element_at(transform(array(array_sort(collect_list({v}))), "
            f"a -> CASE WHEN (size(a) > 0) THEN array({lerps}) END), 1)"
        )
        expr = qarr if is_vec else f"element_at({qarr}, 1)"
    if is_datetime_type(c.dt) or is_timedelta_type(c.dt):
        expr = sql_arith_restore(expr, c.dt)
        return expr if skipna else _propagate(c, expr, c.dt)
    if skipna:
        return expr
    if is_vec:
        # array result: propagate by replacing whole array
        nans = ", ".join(sql_sentinel("double") for _ in qlist)
        return f"CASE WHEN bool_or({c.missing_sql}) THEN array({nans}) ELSE {expr} END"
    return _propagate(c, expr, "double")


def _any_all(c: AggContext, is_all: bool) -> str:
    # numpy truthiness: nonzero is True, NaN is True (flox
    # aggregations.py:651-668). bool input passes through.
    v = c.value_sql
    if is_bool_type(c.dt):
        b = v
    elif is_float_type(c.dt):
        b = f"CASE WHEN {v} IS NOT NULL THEN (isnan({v}) OR ({v} != 0.0D)) END"
    else:
        # numericize first: datetime/timedelta cannot compare to int 0
        nv, _ = sql_arith_input(v, c.dt)
        b = f"CASE WHEN {v} IS NOT NULL THEN ({nv} != 0) END"
    expr = f"bool_and({b})" if is_all else f"bool_or({b})"
    # empty/all-null group -> False (flox final fill, aggregations.py:651-668)
    return f"coalesce({expr}, false)"


def _nunique(c: AggContext, skipna: bool) -> str:
    distinct = f"count(DISTINCT {c.skip_sql})"
    if skipna:
        return distinct
    return f"{distinct} + max(CASE WHEN {c.missing_sql} THEN 1 ELSE 0 END)"


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


@dataclass
class Aggregation:
    """Declarative reduction spec — the Spark analog of flox's
    ``Aggregation`` (flox/aggregations.py:161-301).  ``build`` emits
    the final aggregate expression as SQL text or as a Column; Spark's
    partial/merge replaces chunk/combine.

    Users may register custom reductions by constructing one with
    their own ``build`` callable (mirrors flox's custom-Aggregation
    support, flox/README.md:51-74) and passing it as ``func=``.
    """

    name: str
    build: Callable[[AggContext], str | Column]
    default_fill: Any = None
    needs_order: bool = False
    two_stage: str | None = None  # "mode" -> needs a pre-aggregation
    preserves_dtype: bool = False  # min/max/first/last keep input type


def agg_column(agg: Aggregation, ctx: AggContext) -> Column:
    """The reduction's expression as a Column: SQL text parses in one
    round trip, a Column-returning build passes through."""
    built = agg.build(ctx)
    return F.expr(built) if isinstance(built, str) else built


REDUCTIONS: dict[str, Aggregation] = {}


def _reg(name: str, build: Callable[[AggContext], str | Column], **kw: Any) -> None:
    REDUCTIONS[name] = Aggregation(name=name, build=build, **kw)


_reg("count", _count, default_fill=0)
# backend-named intermediates exposed as public funcs (flox
# aggregate_flox.py:225-248, aggregate_npg.py:16-109): nanlen == count,
# len counts ALL rows (NaN included), sum_of_squares variants
_reg("nanlen", _count, default_fill=0)
_reg("len", lambda c: "count(1)", default_fill=0)
_reg("nansum_of_squares", lambda c: _sum_of_squares(c, skipna=True), default_fill=0)
_reg("sum_of_squares", lambda c: _sum_of_squares(c, skipna=False), default_fill=0)
_reg("sum", lambda c: _sum(c, skipna=False), default_fill=0)
_reg("nansum", lambda c: _sum(c, skipna=True), default_fill=0)
_reg("prod", lambda c: _prod(c, skipna=False), default_fill=1)
_reg("nanprod", lambda c: _prod(c, skipna=True), default_fill=1)
_reg("mean", lambda c: _mean(c, skipna=False))
_reg("nanmean", lambda c: _mean(c, skipna=True))
_reg("var", lambda c: _var(c, skipna=False, std=False))
_reg("nanvar", lambda c: _var(c, skipna=True, std=False))
_reg("std", lambda c: _var(c, skipna=False, std=True))
_reg("nanstd", lambda c: _var(c, skipna=True, std=True))
_reg("min", lambda c: _minmax(c, skipna=False, is_max=False), preserves_dtype=True)
_reg("nanmin", lambda c: _minmax(c, skipna=True, is_max=False), preserves_dtype=True)
_reg("max", lambda c: _minmax(c, skipna=False, is_max=True), preserves_dtype=True)
_reg("nanmax", lambda c: _minmax(c, skipna=True, is_max=True), preserves_dtype=True)
_reg("first", lambda c: _first_last(c, skipna=False, is_last=False), needs_order=True, preserves_dtype=True)
_reg("last", lambda c: _first_last(c, skipna=False, is_last=True), needs_order=True, preserves_dtype=True)
_reg("nanfirst", lambda c: _first_last(c, skipna=True, is_last=False), needs_order=True, preserves_dtype=True)
_reg("nanlast", lambda c: _first_last(c, skipna=True, is_last=True), needs_order=True, preserves_dtype=True)
_reg("argmin", lambda c: _arg(c, skipna=False, is_max=False), needs_order=True)
_reg("argmax", lambda c: _arg(c, skipna=False, is_max=True), needs_order=True)
_reg("nanargmin", lambda c: _arg(c, skipna=True, is_max=False), needs_order=True)
_reg("nanargmax", lambda c: _arg(c, skipna=True, is_max=True), needs_order=True)
_reg("median", lambda c: _quantile(c, skipna=False, q=0.5))
_reg("nanmedian", lambda c: _quantile(c, skipna=True, q=0.5))
_reg("quantile", lambda c: _quantile(c, skipna=False))
_reg("nanquantile", lambda c: _quantile(c, skipna=True))
_reg("all", lambda c: _any_all(c, is_all=True), default_fill=False)
_reg("any", lambda c: _any_all(c, is_all=False), default_fill=False)
_reg("mode", None, two_stage="mode", preserves_dtype=True)  # built in core.py
_reg("nanmode", None, two_stage="mode", preserves_dtype=True)
# EXTENSION beyond the flox registry: exact distinct-value count
# (pandas GroupBy.nunique parity).  nannunique skips missing;
# nunique counts the missing class as ONE value (pandas
# nunique(dropna=False)).  Exact = two-stage partial distinct in
# Spark; for 100 TB cardinality estimates use a custom Aggregation
# over approx_count_distinct (HLL, mergeable, bounded memory) —
# not registered here because its result is estimate-dependent.
_reg("nannunique", lambda c: _nunique(c, skipna=True), default_fill=0)
# the 100 TB path for distinct counts: HyperLogLog++ sketch —
# mergeable, bounded memory, ONE regular aggregation (exact
# count_distinct costs an extra Expand + second shuffle stage).
# rsd via finalize_kwargs={"rsd": 0.01}; deterministic for given data
# (HLL merge is commutative) but engine-specific, so pytest-accuracy
# checked rather than oracle-hashed.
_reg(
    "approx_nunique",
    lambda c: f"approx_count_distinct({c.skip_sql}, {_sql_double(c.kwargs.get('rsd', 0.05))})",
    default_fill=0,
)
_reg("nunique", lambda c: _nunique(c, skipna=False), default_fill=0)


def pandas_aggregation(
    name: str,
    fn: Callable,
    return_type: str | DataType,
    default_fill: Any = None,
    skipna: bool = True,
) -> Aggregation:
    """Custom reduction from a ``pandas.Series -> scalar`` function,
    executed as an Arrow-batched grouped-agg pandas UDF — the escape
    hatch mirroring flox's custom-callable Aggregation support
    (flox/aggregations.py:161-301, flox/core.py:363-366; exercised in
    reference tests/test_core.py:1510-1551).

    Prefer expression-based custom ``Aggregation(build=...)`` — it
    stays in codegen; this path ships Arrow batches to Python (still
    ~10-100x faster than row-at-a-time UDFs).  Note: Spark cannot mix
    pandas UDAFs with some built-in aggregates in one agg call, so
    ``min_count`` is not supported with this kind of reduction.
    """
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: users pass plain callables/lambdas without
    # the type hints pyspark would need to infer the UDF kind
    udf = pandas_udf(fn, return_type, PandasUDFType.GROUPED_AGG)

    def build(ctx: AggContext) -> Column:
        return udf(ctx.v_skip if skipna else F.expr(sql_prop(ctx.value_sql, ctx.dt)))

    return Aggregation(name=name, build=build, default_fill=default_fill)


# ---------------------------------------------------------------------------
# scans (flox/aggregations.py:915-920) — window expressions, built in scan.py
# ---------------------------------------------------------------------------

SCANS: tuple[str, ...] = (
    "cumsum",
    "nancumsum",
    "ffill",
    "bfill",
    "cumcount",
    "cumprod",
    "nancumprod",
    "cummax",
    "cummin",
    "shift",
    "diff",
    "pct_change",
)


@dataclass
class ScanContext:
    """Everything a custom scan's ``build`` gets — the window-spec
    analog of ``AggContext``.  ``window`` is the running frame
    (unboundedPreceding..currentRow, ordered by the scan's order
    column within the group); ``window_fwd`` the mirrored forward
    frame (bfill-style).  ``v_skip`` is the value with every missing
    representation as NULL; ``missing`` the is-missing boolean."""

    value: Column
    v_skip: Column
    missing: Column
    dt: DataType
    window: Any  # pyspark WindowSpec
    window_fwd: Any
    kwargs: dict


@dataclass
class Scan:
    """User-defined scan spec — the escape hatch mirroring flox's
    public ``Scan`` dataclass (flox/aggregations.py:715-737, which
    lets users register custom scans next to the built-ins).  ``build``
    receives a ``ScanContext`` and returns the window Column, e.g. a
    running cummedian:

        cummedian = Scan("cummedian", lambda c: F.percentile(
            c.v_skip, F.lit(0.5)).over(c.window))
        groupby_scan(df, "k", func=cummedian, value="v", order_by="t")
    """

    name: str
    build: Callable[[ScanContext], Column]
