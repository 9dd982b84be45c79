"""NaN/null policy and dtype round-trips.

This is the semantic heart of flox parity (reference:
flox/xrdtypes.py:35-185, flox/core.py:916-1001).  flox works on numpy
arrays where "missing" is NaN; Spark tables have BOTH NaN (in
float/double) and NULL.  The engine's policy:

- ``nan*`` funcs (nansum, nanmean, ...) SKIP missing values.  We
  normalize the value column so every missing representation becomes
  NULL (``v_skip``), and Spark aggregates skip NULLs natively.
- plain funcs (sum, mean, ...) PROPAGATE missing values (numpy
  semantics: any NaN in the group poisons the result).  We normalize
  so every missing representation becomes NaN (``v_prop``) and let IEEE
  arithmetic propagate it — except min/max/argmin/argmax where Spark
  orders NaN *above* all values (numpy propagates instead), fixed with
  an explicit ``bool_or(isnan)`` wrapper in aggregations.py.

Dtype promotion parity (flox/xrdtypes.py:153-185):
- sum/prod over ints promote to platform int -> Spark LongType.
- mean/var/std always promote to floating -> Spark DoubleType.
- bool values are promoted to int for arithmetic reductions and cast
  back for min/max/first/last (flox/core.py:916-917, 1205-1206).
- datetime/timedelta values are viewed as int64 (microseconds) before
  arithmetic reductions and cast back after (flox/core.py:985-1001).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DateType,
    DayTimeIntervalType,
    DoubleType,
    FloatType,
    TimestampNTZType,
    TimestampType,
)

NAN = float("nan")


def is_float_type(dt: DataType) -> bool:
    return isinstance(dt, (DoubleType, FloatType))


def is_bool_type(dt: DataType) -> bool:
    return isinstance(dt, BooleanType)


def is_datetime_type(dt: DataType) -> bool:
    return isinstance(dt, (TimestampType, TimestampNTZType, DateType))


def is_timedelta_type(dt: DataType) -> bool:
    """numpy timedelta64 maps to Spark's day-time interval
    (pandas timedelta64[ns] -> DayTimeIntervalType in Arrow transfer)."""
    return isinstance(dt, DayTimeIntervalType)


def ts_micros(col: Column) -> Column:
    """``unix_micros`` that also accepts TIMESTAMP_NTZ: parquet written
    with isAdjustedToUTC=false (pandas/arrow default) arrives as NTZ in
    Spark 4, and ``unix_micros`` rejects it.  The cast interprets the
    wall time in the session zone — the engine pins UTC everywhere
    (session.py, sources/io.py), matching DuckDB's naive-timestamp
    reading of the same files.  No-op for TimestampType input."""
    return F.unix_micros(col.cast(TimestampType()))


def to_skip(col: Column, dt: DataType) -> Column:
    """Missing -> NULL (the NaN-skipping view). flox: the ``nan*``
    kernels of flox/aggregate_npg.py:58-88."""
    if is_float_type(dt):
        # nanvl(col, NULL): NaN becomes NULL; NULL stays NULL.
        return F.nanvl(col, F.lit(None).cast(dt))
    return col


def is_missing(col: Column, dt: DataType) -> Column:
    """Boolean: row's value is missing (NULL or NaN)."""
    if is_float_type(dt):
        return col.isNull() | F.isnan(col)
    return col.isNull()


def arith_input(col: Column, dt: DataType) -> tuple[Column, DataType]:
    """Pre-cast for arithmetic reductions: bool -> int, datetime and
    timedelta -> int64 microseconds (flox/core.py:916-917, 985-1001;
    the reference views both 'M' and 'm' numpy kinds as int64)."""
    if is_bool_type(dt):
        from pyspark.sql.types import LongType

        return col.cast("long"), LongType()
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        from pyspark.sql.types import LongType

        return ts_micros(col), LongType()
    if isinstance(dt, DateType):
        from pyspark.sql.types import LongType

        return F.datediff(col, F.lit("1970-01-01").cast("date")).cast("long"), LongType()
    if isinstance(dt, DayTimeIntervalType):
        from pyspark.sql.types import LongType

        # CAST(interval AS BIGINT) truncates to whole end-field units
        # (seconds); epoch + interval -> unix_micros is exact to us
        return F.unix_micros(F.timestamp_micros(F.lit(0)) + col), LongType()
    return col, dt


def arith_restore(col: Column, original: DataType) -> Column:
    """Cast an arithmetic result back to the original logical type
    (the tail of flox/core.py:1205-1217)."""
    if isinstance(original, (TimestampType, TimestampNTZType)):
        # .cast(original): NTZ inputs round-trip back to NTZ (UTC session)
        return F.timestamp_micros(col.cast("long")).cast(original)
    if isinstance(original, DateType):
        return F.date_add(F.lit("1970-01-01").cast("date"), col.cast("int"))
    if isinstance(original, DayTimeIntervalType):
        # int64 us -> interval, exact (timestamp difference), then cast
        # to the declared start/end fields
        return (F.timestamp_micros(col.cast("long")) - F.timestamp_micros(F.lit(0))).cast(original)
    if isinstance(original, BooleanType):
        return col.cast("boolean")
    return col


# ---------------------------------------------------------------------------
# SQL-text forms of the same policy.  The reduction registry builds its
# expressions as SQL text (one py4j round trip per F.expr parse instead
# of one per F.* call); each helper below spells the rule above it in
# text that analyzes to the same expression tree.  ``v`` is column or
# expression text, already quoted (``sql_quote``).
# ---------------------------------------------------------------------------


def sql_quote(name: str) -> str:
    """Backtick-quote a column name for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def sql_missing(v: str, dt: DataType) -> str:
    """Text form of ``is_missing``."""
    if is_float_type(dt):
        return f"({v} IS NULL OR isnan({v}))"
    return f"({v} IS NULL)"


def sql_skip(v: str, dt: DataType) -> str:
    """Text form of ``to_skip``: missing -> NULL."""
    if is_float_type(dt):
        return f"nanvl({v}, CAST(NULL AS {dt.simpleString()}))"
    return v


def sql_prop(v: str, dt: DataType) -> str:
    """Missing -> NaN (the NaN-propagating view).  Only float types
    can hold NaN; other types have no missing representation in numpy,
    so they pass through."""
    if is_float_type(dt):
        return f"coalesce({v}, CAST('NaN' AS {dt.simpleString()}))"
    return v


def sql_arith_input(v: str, dt: DataType) -> tuple[str, DataType]:
    """Text form of ``arith_input``: bool -> int, datetime and
    timedelta -> int64 microseconds."""
    from pyspark.sql.types import LongType

    if is_bool_type(dt):
        return f"CAST({v} AS BIGINT)", LongType()
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return f"unix_micros(CAST({v} AS TIMESTAMP))", LongType()
    if isinstance(dt, DateType):
        return f"CAST(datediff({v}, CAST('1970-01-01' AS DATE)) AS BIGINT)", LongType()
    if isinstance(dt, DayTimeIntervalType):
        return f"unix_micros((timestamp_micros(0) + {v}))", LongType()
    return v, dt


def sql_arith_restore(v: str, original: DataType) -> str:
    """Text form of ``arith_restore``."""
    if isinstance(original, (TimestampType, TimestampNTZType)):
        return f"CAST(timestamp_micros(CAST({v} AS BIGINT)) AS {original.simpleString()})"
    if isinstance(original, DateType):
        return f"date_add(CAST('1970-01-01' AS DATE), CAST({v} AS INT))"
    if isinstance(original, DayTimeIntervalType):
        return (
            f"CAST((timestamp_micros(CAST({v} AS BIGINT)) - timestamp_micros(0)) "
            f"AS {original.simpleString()})"
        )
    if isinstance(original, BooleanType):
        return f"CAST({v} AS BOOLEAN)"
    return v
