"""Blocked EWM: the skew path for giant groups.

``groupby_ewm`` streams whole groups through one pandas kernel per
group — correct, pandas-exact, but a group's EWM serializes on one
worker (its docstring's declared caveat).  For ``func="mean"`` the
caveat is avoidable, with a different carry per adjust mode.

``adjust=True`` (the pandas default): the mean is a RATIO of two
linear recurrences,

    num_t = D_t * num_{t-1} + x_t        (valid rows)
    den_t = D_t * den_{t-1} + 1          (valid rows)
    mean_t = num_t / den_t

with a scalar decay ``D = (1-alpha)`` applied per row
(``ignore_na=False``) or per valid row (``True``) — and linear
recurrences compose across order-range blocks exactly like
``scan_blocked``'s cumsums: a block summarizes to ``(A, c)`` with
``state_out = A * state_in + c``.  Verified empirically against
pandas before building: ``ewm.mean == ewm.sum(x) /
ewm.sum(valid-indicator)`` at every position for both ``ignore_na``
modes, and the carry decay is ``(1-a)^(t+1)`` / ``(1-a)^cumvalid``.

``adjust=False`` (r14): pandas is NOT a global weighted sum here —
its cython kernel RENORMALIZES after every observation (``old_wt``
resets to 1), so with ``ignore_na=False`` the post-gap weights are
``(b^g, a)`` per event, ``b = 1-a``, ``g`` = rows since the previous
observation.  The save: the per-event update ``avg' = (w*avg + a*x)
/ (w + a)`` is AFFINE in the previous avg with data-independent
coefficients once the first event's ``w`` is fixed — so each block
summarizes to ``avg_out = lam * seed + mu`` where ``seed`` is the
avg right after the block's FIRST event and ``(lam, mu)`` come from
TWO block-local pandas ``ewm(adjust=False)`` runs (first-observation
value set to 0 and to 1: ``mu = run0``, ``lam = run1 - run0``).
The cross-block fold carries ``(avg, gap_rows, seen)``: the first
event's weight is ``w1 = b^(gap_in + h1 + 1)`` (``h1`` = the block's
leading non-observation rows; for ``ignore_na=True`` simply
``w1 = b``), its seed is ``(w1*avg_in + a*x1)/(w1 + a)`` with a
zero-prior variant ``seed = x1`` when no prior block saw an
observation (pandas' first-observation weight-1 rule).  Verified
against a step-by-step emulation of the pandas kernel before
building (both ignore_na modes, multi-gap series).

Both run through ``blocked_route.blocked_scan`` (see its docstring
for the stages): the local pass is the per-(key, block) pandas ewm
kernels (parallelism = groups x blocks), the carry is the block's
last-row state in processing order, the fold is the linear / affine
composition above, and the combine applies the inbound state per row.

Scope: ``func="mean"`` in BOTH ``adjust`` modes, and ``var``/``std``
with ``adjust=True`` (see ``groupby_ewm_blocked``), each with both
``ignore_na`` modes; adjust=False var/std stay on ``groupby_ewm``'s
per-group kernel.  Results match ``groupby_ewm`` to float
tolerance (the blocked form composes decay by powers where pandas
multiplies iteratively — last-ulp drift, pinned at rtol 1e-9 in
tests/test_ewm_blocked.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flox_spark.blocked_route import BlockedSpec, blocked_scan
from flox_spark.dtypes import sql_arith_input, sql_quote
from flox_spark.transform import _apply_batched

__all__ = ["groupby_ewm_blocked"]


def _resolve_alpha(alpha, halflife, span) -> float:
    """pandas' exact parameter mapping (pandas.core.window.common)."""
    if sum(x is not None for x in (alpha, halflife, span)) != 1:
        raise ValueError("pass exactly one of alpha=, halflife=, span=")
    if alpha is not None:
        a = float(alpha)
        if not 0 < a <= 1:
            raise ValueError("alpha must be in (0, 1]")
        return a
    if span is not None:
        if span < 1:
            raise ValueError("span must be >= 1")
        return 2.0 / (float(span) + 1.0)
    if halflife <= 0:
        raise ValueError("halflife must be > 0")
    return 1.0 - math.exp(math.log(0.5) / float(halflife))


def _pandas_kw(alpha, halflife, span) -> dict:
    """The one decay spelling given, as pandas ``ewm`` keywords."""
    if alpha is not None:
        return {"alpha": alpha}
    return {"halflife": halflife} if halflife is not None else {"span": span}


def groupby_ewm_blocked(
    df: DataFrame,
    *by: str,
    value: str,
    order_by: str,
    alpha: float | None = None,
    halflife: float | None = None,
    span: float | None = None,
    func: str = "mean",
    adjust: bool = True,
    ignore_na: bool = False,
    out: str | None = None,
    num_blocks: int = 32,
) -> DataFrame:
    """``groupby_ewm`` through the blocked plan: same parameters and
    output shape, plus ``num_blocks`` — the
    order-range split width, i.e. the EWM's parallelism floor
    regardless of how few groups there are.  ``order_by`` must be
    non-null (same contract as ``groupby_scan_blocked``); it may be
    TIED — ties land in one block and the carry is selected by
    processing position, so downstream blocks see the full tie run
    (per-row values among tied rows are tie-order-dependent, exactly
    like the one-kernel ``groupby_ewm``).

    ``func``: ``mean`` (both adjust modes) or ``var``/``std`` (r14,
    adjust=True — pandas' bias=False debiased weighted variance): the
    variance is FOUR linear recurrences (Swx, Sw, Swx2 — decay A —
    and Sw2 — decay A^2, i.e. an ewm over the valid indicator at
    alpha' = 1-(1-a)^2), combined as
    ``var = (Sw*Swx2 - Swx^2)/(Sw^2 - Sw2)`` — verified against
    pandas at 1e-15 for both ignore_na modes before building.  The
    value column is shifted by a per-group anchor (its group mean,
    one cheap aggregate joined back; a broadcast, or in the one-task
    plan a join inside the task) before squaring: variance
    is shift-invariant and the centered moments avoid the raw-moment
    cancellation.  adjust=False var/std stay on ``groupby_ewm``'s
    per-group kernel (the renormalized second moment has no clean
    affine form)."""
    if func not in ("mean", "var", "std"):
        raise ValueError(f"func must be mean|var|std, got {func!r}")
    if func != "mean" and not adjust:
        raise ValueError(
            "groupby_ewm_blocked var/std support adjust=True only; "
            "use groupby_ewm for adjust=False variance"
        )
    a = _resolve_alpha(alpha, halflife, span)
    base = 1.0 - a
    out = out or f"ewm_{func}"
    kw = _pandas_kw(alpha, halflife, span)

    in_fields = [f for f in df.schema.fields if f.name in (*by, order_by, value)]
    in_names = [f.name for f in in_fields]

    args = (by, value, order_by, out, in_fields, a, base, kw, ignore_na)
    spec = _adjust_true(*args, func) if adjust else _adjust_false(*args)
    onum, _ = sql_arith_input(sql_quote(order_by), df.schema[order_by].dataType)
    return blocked_scan(df.select(*in_names), by, F.expr(onum), spec, num_blocks)


def _adjust_true(by, value, order_by, out, in_fields, a, base, kw, ign, func):
    """The (num, den) linear-recurrence-ratio spec (module docstring
    part 1); var/std add the (Swx2, Sw2) second-moment recurrences."""
    second = func != "mean"
    schema_parts = [f"`{f.name}` {f.dataType.simpleString()}" for f in in_fields]
    extra = ["`__blk` int", "`__num` double", "`__den` double"]
    if second:
        extra += ["`__sx2` double", "`__s2` double"]
    extra += ["`__A` double", "`__pos` bigint"]
    schema = ", ".join(schema_parts + extra)
    keys = [*by, "__blk"]
    nkeys = len(keys)
    a2 = 1.0 - base * base

    def fn(pdf):
        import numpy as np
        import pandas as pd  # noqa: F401

        # ONE cython ewm pass per column across all groups.  NB a
        # windowed groupby op (.ewm) does NOT return rows in frame
        # order for MULTI-key groupby(sort=False): pandas orders the
        # output groups by per-level first-appearance codes, so a
        # later group reusing an earlier-seen key value comes back out
        # of position (found as silently-wrong EWM values for ~1/6 of
        # keys at the sf0.1 shape).  Realign through the result's
        # original-index level instead of trusting positions; the
        # index is reset first because the harness's carry concat can
        # produce duplicate labels.
        pdf = pdf.reset_index(drop=True)

        def aligned_ewm_sum(frame, col, ewm_kw=None):
            res = frame.groupby(keys, sort=False, dropna=False)[col].ewm(
                adjust=True, ignore_na=ign, **(ewm_kw or kw)
            ).sum()
            return res.droplevel(list(range(nkeys))).sort_index().to_numpy()

        g = pdf.groupby(keys, sort=False, dropna=False)
        x = pdf[value]
        valid = x.notna()
        keep = pdf.copy()
        drop_cols = ["__ind"]
        if second:
            xc = x.astype("float64") - pdf["__anch"]
            keep["__xc"] = xc
            keep["__xc2"] = xc * xc
            keep["__num"] = aligned_ewm_sum(keep, "__xc")
            keep["__sx2"] = aligned_ewm_sum(keep, "__xc2")
            drop_cols += ["__xc", "__xc2", "__anch"]
        else:
            keep["__num"] = aligned_ewm_sum(pdf, value)
        keep["__ind"] = valid.astype("float64").where(valid, np.nan).to_numpy()
        keep["__den"] = aligned_ewm_sum(keep, "__ind")
        if second:
            # Sw2 = the same indicator ewm at alpha' = 1-(1-a)^2:
            # squared weights decay by (1-a)^2 per step
            keep["__s2"] = aligned_ewm_sum(keep, "__ind", {"alpha": a2})
        # cumcount/cumsum are transform-like: index-aligned, no fixup
        if ign:
            k = keep.assign(__v=valid.astype("int64")).groupby(
                keys, sort=False, dropna=False
            )["__v"].cumsum()
        else:
            k = g.cumcount() + 1
        keep["__A"] = np.power(base, k.to_numpy(dtype="float64"))
        # per-row PROCESSING position within (key, block): the carry
        # selector.  order_by may be tied (second-granularity
        # timestamps), and among tied rows cA = base^k is LARGER for
        # the earlier row — a max-struct keyed on order_by would pick
        # a non-final state and silently drop the later tied rows'
        # contributions from every downstream block's mean.
        keep["__pos"] = g.cumcount().to_numpy(dtype="int64")
        return keep.drop(columns=drop_cols)

    def local(work, keys, one_task):
        if second:
            # per-group anchor (variance is shift-invariant): centered
            # moments avoid raw-moment cancellation for tight data.
            # One-task: both join sides are one partition, so a
            # shuffle-hash join needs no exchange and no broadcast job
            anchors = work.groupBy(*by).agg(
                F.coalesce(F.avg(F.col(value)), F.lit(0.0)).alias("__anch")
            )
            anchors = anchors.hint("shuffle_hash") if one_task else F.broadcast(anchors)
            work = work.join(anchors, list(by), "left")
        return _apply_batched(work, keys, fn, schema, order_by, shuffle=not one_task)

    # carries = the LAST row's states in PROCESSING order (__pos —
    # unique within the block, so the max struct is deterministic even
    # under tied order_by values); an all-invalid block carries
    # (A, 0...) — the fold's identity shape
    moments = {"n": _z("__num"), "d": _z("__den")}
    if second:
        moments.update(x2=_z("__sx2"), s2=_z("__s2"))
    last = F.max(F.struct(
        F.col("__pos").alias("p"), F.col("__A").alias("A"),
        *[c.alias(m) for m, c in moments.items()],
    ))

    def fold(s, b):
        # state_out = A * state_in + c per block; the squared-weight
        # sum Sw2 folds with A^2 (its weights decay by (1-a)^2 per step)
        A = b["__cA"]
        return F.struct(*[
            ((A * A if m == "s2" else A) * s[m] + b[f"__c{m}"]).alias(m) for m in moments
        ])

    def combine(st, _):
        # a pandas-NaN local sum means "no valid obs in this block yet"
        # — it contributes 0 on top of the decayed inbound state
        A = F.col("__A")
        numg = _z("__num") + A * st["n"]
        deng = _z("__den") + A * st["d"]
        if not second:
            # den == 0 (no valid obs yet) -> NULL, matching the
            # per-group kernel: its pandas NaN crosses Arrow as null
            return F.when(deng > 0, numg / deng)
        sx2g = _z("__sx2") + A * st["x2"]
        s2g = _z("__s2") + A * A * st["s2"]
        # pandas bias=False: var = (Sw*Swx2 - Swx^2)/(Sw^2 - Sw2); one
        # observation makes the divisor exactly 0 -> NULL
        dvz = deng * deng - s2g
        var = F.when(dvz > 0, (deng * sx2g - numg * numg) / dvz)
        # weighted variance is mathematically >= 0; centered-moment
        # rounding can produce tiny negatives — clamp like pandas
        var = F.when(var < 0, F.lit(0.0)).otherwise(var)
        return F.sqrt(var) if func == "std" else var

    return BlockedSpec(
        out=out,
        local=local,
        carry={f"__c{m}": last[m] for m in ["A", *moments]},
        identity=F.struct(*[F.lit(0.0).alias(m) for m in moments]),
        fold=fold,
        combine=combine,
        carry_on_local=True,
    )


def _z(col):
    return F.coalesce(F.nanvl(F.col(col), F.lit(0.0)), F.lit(0.0))


def _adjust_false(by, value, order_by, out, in_fields, a, base, kw, ign):
    """The (lam, mu, seed) affine spec (module docstring part 2):
    pandas' renormalize-per-observation kernel makes the block
    response affine in the avg right after the block's first event,
    with data-independent coefficients extracted from two block-local
    pandas runs."""
    schema_parts = [f"`{f.name}` {f.dataType.simpleString()}" for f in in_fields]
    schema = ", ".join(
        schema_parts
        + [
            "`__blk` int",
            "`__lam` double",   # coefficient of the first-event seed
            "`__mu` double",    # zero-seed response
            "`__pre` boolean",  # row precedes the block's first event
            "`__x1` double",    # block's first observation value
            "`__h1` bigint",    # leading non-observation rows (-1: none)
            "`__trail` bigint", # rows after the block's last observation
            "`__n` bigint",     # block row count
            "`__pos` bigint",   # processing position (carry selector)
        ]
    )
    keys = [*by, "__blk"]
    nkeys = len(keys)

    def fn(pdf):
        import numpy as np
        import pandas as pd  # noqa: F401

        # same realignment discipline as the adjust=True kernel (.ewm
        # is a windowed op; transform/cumsum/cumcount are index-
        # aligned and need none)
        pdf = pdf.reset_index(drop=True)

        def aligned_mean(frame, col):
            res = frame.groupby(keys, sort=False, dropna=False)[col].ewm(
                adjust=False, ignore_na=ign, **kw
            ).mean()
            return res.droplevel(list(range(nkeys))).sort_index().to_numpy()

        x = pdf[value].astype("float64")
        valid = x.notna()
        keep = pdf.copy()
        keep["__vi"] = valid.astype("int64")
        gk = keep.groupby(keys, sort=False, dropna=False)
        cumv = gk["__vi"].cumsum()
        isfirst = valid & (cumv == 1)
        # two block-local runs differing only in the first-event
        # value: mu = response with seed 0, lam = (seed 1) - (seed 0)
        keep["__s0"] = x.mask(isfirst, 0.0)
        keep["__s1"] = x.mask(isfirst, 1.0)
        mu = aligned_mean(keep, "__s0")
        lam = aligned_mean(keep, "__s1") - mu
        keep["__lam"], keep["__mu"] = lam, mu
        keep["__pre"] = (cumv == 0).to_numpy()
        pos = gk.cumcount()
        keep["__posv"] = pos.astype("float64").where(valid)
        keep["__xv"] = x.where(valid)
        gk2 = keep.groupby(keys, sort=False, dropna=False)
        first_pos = gk2["__posv"].transform("first")  # first skips NaN
        last_pos = gk2["__posv"].transform("last")
        nrows = gk2["__vi"].transform("size")
        keep["__x1"] = gk2["__xv"].transform("first").to_numpy()
        keep["__h1"] = first_pos.fillna(-1.0).to_numpy(dtype="int64")
        keep["__trail"] = (
            (nrows - 1 - last_pos).fillna(0.0).to_numpy(dtype="int64")
        )
        keep["__n"] = nrows.to_numpy(dtype="int64")
        keep["__pos"] = pos.to_numpy(dtype="int64")
        return keep.drop(columns=["__vi", "__s0", "__s1", "__posv", "__xv"])

    # carry = last row's (lam, mu) in processing order (lam/mu are
    # constant after the block's last event, so the last ROW carries
    # the block-end response) + the block constants
    last = F.max(
        F.struct(
            F.col("__pos").alias("p"),
            F.col("__lam").alias("lam"),
            F.col("__mu").alias("mu"),
        )
    )

    def w1(gap, h1):
        if ign:
            return F.lit(base)
        return F.pow(F.lit(base), gap + h1.cast("double") + F.lit(1.0))

    def seed(st, h1, x1):
        # (w1*avg + a*x1)/(w1 + a) with w1 = b^(gap + h1 + 1)
        # (ignore_na=False counts every row; ignore_na=True: w1 = b),
        # or x1 when nothing was seen yet (pandas' first-observation
        # weight-1 rule)
        w = w1(st["gap"], h1)
        return F.when(st["seen"], (w * st["avg"] + F.lit(a) * x1) / (w + F.lit(a))).otherwise(x1)

    def fold(s, b):
        # fold (avg, gap_rows, seen): a block with events ends at
        # avg = lam*seed + mu with gap = its trailing rows; an
        # event-less block only extends the gap
        return F.struct(
            F.when(b["__chas"], b["__clam"] * seed(s, b["__ch1"], b["__cx1"]) + b["__cmu"])
            .otherwise(s["avg"]).alias("avg"),
            F.when(b["__chas"], b["__ctrail"].cast("double"))
            .otherwise(s["gap"] + b["__cn"].cast("double")).alias("gap"),
            (s["seen"] | b["__chas"]).alias("seen"),
        )

    def combine(st, _):
        # rows before the block's first event carry the inbound avg
        # (NULL when nothing seen anywhere yet); rows at/after it
        # evaluate the affine response at the seed
        y = F.col("__lam") * seed(st, F.col("__h1"), F.col("__x1")) + F.col("__mu")
        return F.when(F.col("__pre"), F.when(st["seen"], st["avg"])).otherwise(y)

    return BlockedSpec(
        out=out,
        local=lambda work, keys, one_task: _apply_batched(
            work, keys, fn, schema, order_by, shuffle=not one_task
        ),
        carry={
            "__clam": last["lam"],
            "__cmu": last["mu"],
            "__cx1": F.max("__x1"),
            "__ch1": F.max("__h1"),
            "__ctrail": F.max("__trail"),
            "__cn": F.max("__n"),
            "__chas": F.max("__h1") >= 0,
        },
        identity=F.struct(
            F.lit(0.0).alias("avg"), F.lit(0.0).alias("gap"), F.lit(False).alias("seen")
        ),
        fold=fold,
        combine=combine,
        carry_on_local=True,
    )
