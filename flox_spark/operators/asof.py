"""Distributed as-of join (nearest-timestamp match).

Beyond the reference's surface (SURVEY §2.5); pipeline-operator suite
per the engine's north star (BASELINE.json).  Matches each left row
to the latest right row at-or-before its timestamp (``backward``, the
default) or the earliest at-or-after (``forward``), per entity.

Spark-first physical design — the **union + ordered window** plan,
not a range join:

    union(left tagged, right tagged)
      -> one hash shuffle on the entity keys
      -> one sorted streaming WindowExec pass
         (last non-null right STRUCT, IGNORE NULLS == ffill)
      -> filter back to left rows

A naive inequality join is O(|L| x |R|) per entity (BroadcastNestedLoop
or a cartesian per key); this plan is O((|L|+|R|) log) via the sort,
spills per partition, and needs exactly ONE exchange.  Equal
timestamps match (the ``<=`` / ``>=`` convention of DuckDB ASOF JOIN
and pandas.merge_asof); the side-order column makes the tie between a
left and a right row deterministic.

The matched right row travels as ONE struct so its timestamp and
payload always come from the SAME row — per-column picks would stitch
values from different right rows whenever payload columns hold NULLs.
Right rows with a NULL timestamp can never match and are dropped up
front.  When several right rows share a timestamp, pass ``tiebreak``
(a right column) to make the winner deterministic; without it the
winner follows partition order (the same caveat DuckDB ASOF has).

``tolerance_seconds`` drops matches farther than the bound
(pandas.merge_asof(tolerance=...) behavior): the matched right
timestamp is carried through the same window pass, so the filter is a
post-projection — no second pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flox_spark.dtypes import sql_ts_micros
from pyspark.sql.types import StructField, StructType

__all__ = ["asof_join"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *by: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Left as-of join: every left row, plus the matched right row's
    ``right_cols`` (NULL when no right row qualifies).

    ``by`` are the entity keys present on both sides.  ``right_cols``
    must not collide with left column names (rename upstream).
    ``tiebreak`` names a right column ordering equal-timestamp right
    rows (ascending; the match takes the one the direction reaches
    first)."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (*by, right_ts)]
    clash = set(right_cols) & set(left.columns)
    if clash:
        raise ValueError(f"right_cols collide with left columns: {sorted(clash)}")

    r_type = StructType(
        [StructField("rts", right.schema[right_ts].dataType)]
        + [StructField(f"r_{c}", right.schema[c].dataType) for c in right_cols]
    )
    l_type = StructType([StructField(c, left.schema[c].dataType) for c in left.columns])

    # Tag sides so the union sorts the right row on the matching side
    # of an equal-timestamp left row: backward looks back -> right
    # first; forward looks ahead -> right last.
    right_side = 0 if direction == "backward" else 1
    has_tb = tiebreak is not None
    rstruct = F.struct(
        F.col(right_ts).alias("rts"),
        *[F.col(c).alias(f"r_{c}") for c in right_cols],
    )
    l = left.select(
        *by,
        F.col(left_ts).alias("__ts"),
        F.lit(1 - right_side).alias("__side"),
        *([F.lit(None).cast(right.schema[tiebreak].dataType).alias("__tb")] if has_tb else []),
        F.lit(None).cast(r_type).alias("__r"),
        F.struct(*left.columns).cast(l_type).alias("__l"),
    )
    r = right.filter(F.col(right_ts).isNotNull()).select(
        *by,
        F.col(right_ts).alias("__ts"),
        F.lit(right_side).alias("__side"),
        *([F.col(tiebreak).alias("__tb")] if has_tb else []),
        rstruct.alias("__r"),
        F.lit(None).cast(l_type).alias("__l"),
    )
    u = l.unionByName(r)

    order = [F.col("__ts"), F.col("__side")] + ([F.col("__tb")] if has_tb else [])
    if direction == "backward":
        w = (
            Window.partitionBy(*by)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        picked = F.last("__r", ignorenulls=True).over(w)
    else:
        w = (
            Window.partitionBy(*by)
            .orderBy(*order)
            .rowsBetween(0, Window.unboundedFollowing)
        )
        picked = F.first("__r", ignorenulls=True).over(w)

    matched = (
        u.select("__side", "__l", F.col("__ts"), picked.alias("__m"))
        .filter(F.col("__side") == (1 - right_side))
        .select(
            "__l",
            "__ts",
            F.col("__m.rts").alias("__mts"),
            *[F.col(f"__m.r_{c}").alias(f"__m_{c}") for c in right_cols],
        )
    )

    if tolerance_seconds is not None:
        tol_us = int(round(tolerance_seconds * 1_000_000))
        later, earlier = ("__ts", "__mts") if direction == "backward" else ("__mts", "__ts")
        gap = F.expr(f"{sql_ts_micros(later)} - {sql_ts_micros(earlier)}")
        ok = F.col("__mts").isNotNull() & (gap <= F.lit(tol_us))
        matched = matched.select(
            "__l",
            "__ts",
            F.when(ok, F.col("__mts")).alias("__mts"),
            *[F.when(ok, F.col(f"__m_{c}")).alias(f"__m_{c}") for c in right_cols],
        )

    return matched.select(
        *[F.col(f"__l.{c}").alias(c) for c in left.columns],
        F.col("__mts").alias(f"asof_{right_ts}"),
        *[F.col(f"__m_{c}").alias(c) for c in right_cols],
    )
