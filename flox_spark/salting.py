"""Declared-salt grouped reduction for deliberate hot keys.

Spark's map-side partial aggregation already absorbs most key skew
for algebraic reductions: each task pre-collapses its rows to one
partial per key, so the reducer for a hot key receives at most one
row per map task.  Two situations defeat it, and this module is for
those:

- **partial-defeating aggregates**: buffering aggregates
  (``percentile``/``collect_*``-style ObjectHashAggregate paths) ship
  the hot key's entire value multiset to one reducer;
- **pre-shuffled inputs**: when the rows of a hot key are already
  concentrated in few upstream tasks (e.g. right after a
  key-partitioned read or join), the "one partial per map task"
  bound IS the skew.

``groupby_reduce_salted`` splits each group into ``n_salt``
deterministic pseudo-random subgroups, reduces each (keys, salt)
subgroup, then merges the partials with the func's exact combine —
two small shuffles, every reduce task bounded by ~|group|/n_salt
rows.  Exact (bit-identical semantics to ``groupby_reduce``) for the
decomposable funcs listed in ``SALTABLE``; funcs whose combine needs
the full multiset (median/quantile/mode/nunique) are rejected — use
``quantile_impl="sort"`` / the blocked scans for those (SCALE.md).

The salt is ``pmod(xxhash64(monotonically_increasing_id()), n)`` —
deterministic within a job, uniform, and value-independent; the
final result never depends on which subgroup a row landed in.

Reference anchor: flox's tree combine plays the same role for dask
(flox/dask.py:433-518) — partial per block, exact merge; here the
"blocks" are declared salt subgroups sized to tame the reducer.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flox_spark.dtypes import NAN, drop_missing, sql_missing, sql_quote, sql_skip

__all__ = ["diagnose_skew", "groupby_reduce_salted", "SALTABLE"]


# func -> (partial aggs: dict[name, Column-builder], merge expr builder)
# partial builders take (v_skip, v_raw, poison); merge builders take
# the partial frame's columns by name (prefixed) and return the final
# expression.  All merges are EXACT (algebraic combine), with the same
# output typing as groupby_reduce: integral sum/count/min/max keep
# exact long arithmetic (never routed through double — 2^53
# precision); prod/nanprod merge via F.product, whose accumulator IS
# double, so integer products past 2^53 are inexact despite the final
# cast('long') — the same limitation groupby_reduce's prod has
# (parity holds, exactness doesn't).  float32
# results restore to float, and the plain-func poison sentinel is NaN
# for float results / typed NULL otherwise (mirrors
# aggregations.sql_sentinel / _propagate).
def _specs(is_float: bool, in_dt) -> dict[str, tuple[Callable, Callable]]:
    from pyspark.sql.types import FloatType

    is_f32 = isinstance(in_dt, FloatType)
    num_t = "double" if is_float else "long"
    out_num_t = "float" if is_f32 else num_t  # float32 restores (xrdtypes parity)
    mean_t = "float" if is_f32 else "double"

    def zero() -> Column:
        return F.lit(0).cast(num_t)

    def sentinel(t) -> Column:
        if isinstance(t, str):
            return F.lit(NAN).cast(t) if t in ("double", "float") else F.lit(None).cast(t)
        from flox_spark.dtypes import is_float_type as _ift

        return F.lit(NAN).cast(t) if _ift(t) else F.lit(None).cast(t)

    def poisoned(p, expr: Column, t) -> Column:
        return F.when(F.bool_or(p("pz")), sentinel(t)).otherwise(expr)

    def restore32(expr: Column) -> Column:
        return expr.cast("float") if is_f32 else expr

    def prod_merge(p) -> Column:
        expr = F.coalesce(F.product(p("s")), F.lit(1.0))
        return restore32(expr) if is_float else expr.cast("long")

    def truthy(vs: Column, vr: Column) -> Column:
        if is_float:
            return F.when(vr.isNotNull(), F.isnan(vr) | (vr != 0.0))
        return F.when(vr.isNotNull(), vr != 0)

    return {
        "count": (
            lambda vs, vr, pz: {"c": F.count(vs)},
            lambda p: F.sum(p("c")),
        ),
        "sum": (
            lambda vs, vr, pz: {"s": F.sum(vs), "pz": F.bool_or(pz)},
            lambda p: poisoned(
                p, restore32(F.coalesce(F.sum(p("s")), zero())), out_num_t
            ),
        ),
        "nansum": (
            lambda vs, vr, pz: {"s": F.sum(vs)},
            lambda p: restore32(F.coalesce(F.sum(p("s")), zero())),
        ),
        "prod": (
            lambda vs, vr, pz: {"s": F.product(vs), "pz": F.bool_or(pz)},
            lambda p: poisoned(p, prod_merge(p), out_num_t),
        ),
        "nanprod": (
            lambda vs, vr, pz: {"s": F.product(vs)},
            prod_merge,
        ),
        "mean": (
            lambda vs, vr, pz: {"s": F.sum(vs), "c": F.count(vs), "pz": F.bool_or(pz)},
            lambda p: poisoned(
                p, restore32(F.sum(p("s")) / F.sum(p("c"))), mean_t
            ),
        ),
        "nanmean": (  # all-missing group -> NaN (flox empty-reduce fill)
            lambda vs, vr, pz: {"s": F.sum(vs), "c": F.count(vs)},
            lambda p: F.when(
                F.sum(p("c")) > 0, restore32(F.sum(p("s")) / F.sum(p("c")))
            ).otherwise(F.lit(NAN).cast(mean_t)),
        ),
        "min": (
            lambda vs, vr, pz: {"m": F.min(vs), "pz": F.bool_or(pz)},
            lambda p: poisoned(p, F.min(p("m")), in_dt),
        ),
        "max": (
            lambda vs, vr, pz: {"m": F.max(vs), "pz": F.bool_or(pz)},
            lambda p: poisoned(p, F.max(p("m")), in_dt),
        ),
        "nanmin": (
            lambda vs, vr, pz: {"m": F.min(vs)},
            lambda p: F.min(p("m")),
        ),
        "nanmax": (
            lambda vs, vr, pz: {"m": F.max(vs)},
            lambda p: F.max(p("m")),
        ),
        "any": (
            lambda vs, vr, pz: {"b": F.bool_or(truthy(vs, vr))},
            lambda p: F.coalesce(F.bool_or(p("b")), F.lit(False)),
        ),
        "all": (
            lambda vs, vr, pz: {"b": F.bool_and(truthy(vs, vr))},
            lambda p: F.coalesce(F.bool_and(p("b")), F.lit(False)),
        ),
    }


SALTABLE = (
    "all", "any", "count", "max", "mean", "min", "nanmax", "nanmean",
    "nanmin", "nanprod", "nansum", "prod", "sum",
)


def groupby_reduce_salted(
    df: DataFrame,
    *by: str,
    func: str,
    value: str,
    n_salt: int = 32,
    alias: str | None = None,
    sort: bool = True,
) -> DataFrame:
    """Two-phase salted grouped reduction — semantics identical to
    ``groupby_reduce`` for the funcs in ``SALTABLE`` (equality-tested
    in tests/test_salting.py), reducer load bounded by
    ~|hot group| / n_salt."""
    if func not in SALTABLE:
        raise ValueError(
            f"salted reduction supports {SALTABLE}, got {func!r}; "
            "non-decomposable funcs (median/quantile/mode/nunique) need the "
            "full multiset — use quantile_impl='sort' or the blocked scans"
        )
    out = alias or func
    vdt = df.schema[value].dataType
    from pyspark.sql.types import BooleanType, NumericType

    if not isinstance(vdt, (NumericType, BooleanType)):
        raise ValueError(
            f"salted reduction supports numeric/bool values, got {vdt.simpleString()!r} "
            "for column " + repr(value) + "; use groupby_reduce for datetime/interval "
            "round-trips"
        )

    work = drop_missing(df, by)

    from flox_spark.dtypes import is_float_type

    if is_float_type(vdt):
        # NaN policy via the skip view; no double cast — Spark's sum
        # accumulates float in double anyway and min/max must preserve
        # the input float type like groupby_reduce does
        v_raw = F.col(value)
        v_skip = F.expr(sql_skip(sql_quote(value), vdt))
    elif isinstance(vdt, BooleanType):
        v_raw = F.col(value).cast("long")
        v_skip = v_raw
    else:
        # integral stays integral: casting to double would silently
        # lose precision past 2^53 (sum of 64-bit counters); Spark's
        # long sum is exact and matches groupby_reduce's promotion
        v_raw = F.col(value)
        v_skip = F.col(value)
    poison = F.expr(sql_missing(sql_quote(value), vdt))
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salt))

    p_build, m_build = _specs(is_float_type(vdt), vdt)[func]
    partial_aggs = p_build(v_skip, v_raw, poison)
    partial = (
        work.withColumn("__salt", salt)
        .groupBy(*by, "__salt")
        .agg(*[c.alias(f"__p_{n}") for n, c in partial_aggs.items()])
    )
    final = partial.groupBy(*by).agg(
        m_build(lambda n: F.col(f"__p_{n}")).alias(out)
    )
    return final.orderBy(*by) if sort else final


def diagnose_skew(
    df: DataFrame,
    *by: str,
    top: int = 10,
    target_rows_per_task: int | None = None,
) -> DataFrame:
    """Pre-flight skew report for a planned groupBy/join on ``by``:
    the ``top`` heaviest keys with their row counts, share of the
    table, and the ``n_salt`` that would bound a reducer at roughly
    ``target_rows_per_task`` rows (default: total/defaultParallelism —
    an even share).  Feed the worst keys' ``suggested_n_salt`` to
    ``groupby_reduce_salted``, or confirm AQE's skew-join handling is
    enough and do nothing.

    Cost: ONE map-side-combined count aggregate plus a distributed
    top-N (TakeOrderedAndProject) — safe to run on the full 100 TB
    input; nothing driver-sized except the ``top`` result rows."""
    spark = df.sparkSession
    counts = df.groupBy(*by).agg(F.count(F.lit(1)).alias("n_rows"))
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    if target_rows_per_task is None:
        par = spark.sparkContext.defaultParallelism
        target_expr = F.greatest(
            (F.col("__total") / F.lit(max(par, 1))).cast("long"), F.lit(1)
        )
    else:
        target_expr = F.lit(int(target_rows_per_task))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            *by,
            "n_rows",
            F.round(F.col("n_rows") / F.col("__total"), 6).alias("share"),
            F.greatest(
                F.ceil(F.col("n_rows") / target_expr).cast("int"), F.lit(1)
            ).alias("suggested_n_salt"),
        )
        .orderBy(F.col("n_rows").desc(), *by)
        .limit(top)
    )
