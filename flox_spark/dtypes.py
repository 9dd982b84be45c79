"""NaN/null policy and dtype round-trips, spelled once as SQL text.

This is the semantic heart of flox parity (reference:
flox/xrdtypes.py:35-185, flox/core.py:916-1001, flox/factorize.py:201-212).
flox works on numpy arrays where "missing" is NaN; Spark tables have
BOTH NaN (in float/double) and NULL.  Every rule below is a function
from column text to SQL text (``v`` is already quoted, ``sql_quote``);
callers compose the text and parse it with ONE ``F.expr`` (each
``F.*`` call is a py4j round trip, a parse is one):

- ``sql_missing``: the row's value is missing (NULL, or NaN in a
  float column).  ``drop_missing`` drops the rows where any of a set
  of columns is missing -- flox's drop of NaN labels, and the value
  drops of the operators that skip missing values.
- ``nan*`` funcs (nansum, nanmean, ...) SKIP missing values:
  ``sql_skip`` turns every missing representation into NULL, and
  Spark aggregates skip NULLs natively.
- plain funcs (sum, mean, ...) PROPAGATE missing values (numpy
  semantics: any NaN in the group poisons the result): ``sql_prop``
  turns every missing representation into NaN and IEEE arithmetic
  propagates it -- except min/max/argmin/argmax, where Spark orders
  NaN *above* all values (numpy propagates instead), fixed with an
  explicit ``bool_or(missing)`` wrapper in aggregations.py.

Dtype promotion parity (flox/xrdtypes.py:153-185):
- sum/prod over ints promote to platform int -> Spark LongType.
- mean/var/std always promote to floating -> Spark DoubleType.
- bool values are promoted to int for arithmetic reductions and cast
  back for min/max/first/last (flox/core.py:916-917, 1205-1206).
- datetime/timedelta values are viewed as int64 (microseconds) before
  arithmetic reductions (``sql_arith_input``, ``sql_ts_micros``) and
  cast back after (``sql_arith_restore``; flox/core.py:985-1001).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DateType,
    DayTimeIntervalType,
    DoubleType,
    FloatType,
    LongType,
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


def sql_quote(name: str) -> str:
    """Backtick-quote a column name for SQL text."""
    return "`" + name.replace("`", "``") + "`"


def sql_missing(v: str, dt: DataType) -> str:
    """Boolean: the value is missing (NULL, or NaN in a float column)."""
    if is_float_type(dt):
        return f"({v} IS NULL OR isnan({v}))"
    return f"({v} IS NULL)"


def drop_missing(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Drop the rows where any of ``cols`` is missing: one filter over
    one schema read.  Over the group labels this is flox's drop of NaN
    labels (flox/factorize.py:201-212)."""
    if not cols:
        return df
    schema = df.schema
    return df.filter(F.expr(" AND ".join(
        f"NOT {sql_missing(sql_quote(c), schema[c].dataType)}" for c in cols
    )))


def sql_skip(v: str, dt: DataType) -> str:
    """Missing -> NULL (the NaN-skipping view).  flox: the ``nan*``
    kernels of flox/aggregate_npg.py:58-88."""
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


def sql_ts_micros(v: str) -> str:
    """Any datetime (DATE included) as int64 microseconds since the
    epoch.  The cast lets ``unix_micros`` accept TIMESTAMP_NTZ: parquet
    written with isAdjustedToUTC=false (pandas/arrow default) arrives
    as NTZ in Spark 4, and ``unix_micros`` rejects it.  The cast reads
    the wall time in the session zone; the engine pins UTC everywhere
    (session.py, sources/io.py), matching DuckDB's naive-timestamp
    reading of the same files."""
    return f"unix_micros(CAST({v} AS TIMESTAMP))"


def sql_arith_input(v: str, dt: DataType) -> tuple[str, DataType]:
    """Pre-cast for arithmetic reductions: bool -> int, datetime and
    timedelta -> int64 microseconds (flox/core.py:916-917, 985-1001;
    the reference views both 'M' and 'm' numpy kinds as int64)."""
    if is_bool_type(dt):
        return f"CAST({v} AS BIGINT)", LongType()
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return sql_ts_micros(v), LongType()
    if isinstance(dt, DateType):
        return f"CAST(datediff({v}, CAST('1970-01-01' AS DATE)) AS BIGINT)", LongType()
    if isinstance(dt, DayTimeIntervalType):
        # CAST(interval AS BIGINT) truncates to whole end-field units
        # (seconds); epoch + interval -> unix_micros is exact to us
        return f"unix_micros((timestamp_micros(0) + {v}))", LongType()
    return v, dt


def sql_arith_restore(v: str, original: DataType) -> str:
    """Cast an arithmetic result back to the original logical type
    (the tail of flox/core.py:1205-1217)."""
    if isinstance(original, (TimestampType, TimestampNTZType)):
        # NTZ inputs round-trip back to NTZ (UTC session)
        return f"CAST(timestamp_micros(CAST({v} AS BIGINT)) AS {original.simpleString()})"
    if isinstance(original, DateType):
        return f"date_add(CAST('1970-01-01' AS DATE), CAST({v} AS INT))"
    if isinstance(original, DayTimeIntervalType):
        # int64 us -> interval, exact (timestamp difference), then cast
        # to the declared start/end fields
        return (
            f"CAST((timestamp_micros(CAST({v} AS BIGINT)) - timestamp_micros(0)) "
            f"AS {original.simpleString()})"
        )
    if isinstance(original, BooleanType):
        return f"CAST({v} AS BOOLEAN)"
    return v
