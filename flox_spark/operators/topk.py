"""Per-group top-k rows.

Beyond the reference's surface (SURVEY §2.5): the reference has no
top-k reduction; this is the standard "best k examples per bucket"
pipeline selection (highest-quality docs per domain, most-recent
events per user, ...).

Scale design: a ``row_number() <= k`` filter, which Spark rewrites to
``WindowGroupLimit`` — each map task pre-keeps its local top-k per
group BEFORE the exchange, so the shuffle carries at most k*P rows
per group instead of the whole group (the same two-stage top-k the
similarity operators rely on; asserted in ``tests/test_topk.py``).  A
small input runs as one task with no exchange at all
(``plans.util.one_task_if_small``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flox_spark.dtypes import drop_missing
from flox_spark.plans.util import one_task_if_small

__all__ = ["grouped_topk"]


def grouped_topk(
    df: DataFrame,
    *by: str,
    value: str,
    k: int,
    ascending: bool = False,
    tiebreak: str | None = None,
    skipna: bool = True,
) -> DataFrame:
    """Keep the k rows with the largest (``ascending=False``, default)
    or smallest ``value`` per group.

    ``skipna`` drops missing values first (Spark would otherwise sort
    NaN above every number and "win" the top slots).  ``tiebreak``
    makes the cut deterministic when values tie."""
    if skipna:
        df = drop_missing(df, [value])
    df, _, _ = one_task_if_small(df)
    order = [F.col(value).asc() if ascending else F.col(value).desc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(*by).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.lit(k))
        .drop("__rn")
    )
