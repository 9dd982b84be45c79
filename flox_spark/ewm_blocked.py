"""Blocked EWM: the skew path for giant groups.

``groupby_ewm`` streams whole groups through one pandas kernel per
group — correct, pandas-exact, but a group's EWM serializes on one
worker (its docstring's declared caveat).  For ``func="mean"`` the
caveat is avoidable, with a different block summary per adjust mode.

``adjust=True`` (the pandas default): the mean is a weighted mean
whose weights decay by ``D = (1-alpha)`` per row (``ignore_na=False``)
or per valid row (``True``), so a block summarizes to its decay ``A``
(``(1-a)^rows`` / ``(1-a)^valid``), total weight ``w`` and weighted
mean ``m``; earlier blocks' ``(w, m)`` decays by ``A`` and merges with
the block's (weights add, means average by weight) — pandas' own
online update, applied per block.  var/std carry the squared-deviation
sum ``x2`` and the squared-weight sum ``s2`` too (the weighted Chan
et al. merge, centered at the running mean as pandas' ``ewmcov`` is).

``adjust=False`` (r14): pandas is NOT a global weighted sum here —
its cython kernel RENORMALIZES after every observation (``old_wt``
resets to 1), so with ``ignore_na=False`` the post-gap weights are
``(b^g, a)`` per event, ``b = 1-a``, ``g`` = rows since the previous
observation.  The per-event update ``avg' = (w*avg + a*x) / (w + a)``
is AFFINE in the previous avg with data-independent coefficients, so
a block summarizes to ``avg_out = lam * seed + mu``, ``seed`` being
the avg right after the block's FIRST event.  The cross-block fold
carries ``(avg, gap_rows, seen)``: the first event's weight is ``w1 =
b^(gap_in + h1 + 1)`` (``h1`` = the block's leading non-observation
rows; for ``ignore_na=True`` simply ``w1 = b``), its seed is
``(w1*avg_in + a*x1)/(w1 + a)``, or ``x1`` when no prior block saw an
observation (pandas' first-observation weight-1 rule).

Both run through ``blocked_route.blocked_scan`` (see its docstring
for the stages).  The carry is ONE ordered SQL fold per (key, block)
over the block input — ``aggregate(array_sort(collect_list(struct(
order, value))), ...)`` — yielding the block's ``(A, w, m)`` (plus
``x2, s2``) or its affine summary ``(lam, mu, x1, h1, trail, n)``.
The per-(key, block) pandas kernel runs once, after the fold, SEEDED
with the inbound state: adjust=True merges the decayed inbound
summary into its local ewm moments, adjust=False replaces the block's
first observation by its seed.  Its output is
the answer, so it has one consumer.  Fold and kernel walk rows in one
total order, ``(order_by, value)``, so tied order values give one
block-end state.

Scope: ``func="mean"`` in BOTH ``adjust`` modes, and ``var``/``std``
with ``adjust=True`` (see ``groupby_ewm_blocked``), each with both
``ignore_na`` modes; adjust=False var/std stay on ``groupby_ewm``'s
per-group kernel.  Results match ``groupby_ewm`` to float
tolerance (the merges reassociate pandas' sums — last-ulp drift,
pinned at rtol 1e-9 in tests/test_ewm_blocked.py).
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
    TIED — ties land in one block, and the fold and the kernel both
    take tied rows in ``value`` order (per-row values among tied rows
    are tie-order-dependent, exactly like the one-kernel
    ``groupby_ewm``).

    ``func``: ``mean`` (both adjust modes) or ``var``/``std`` (r14,
    adjust=True — pandas' bias=False debiased weighted variance,
    ``Sw * x2 / (Sw^2 - Sw2)``, with the squared weights' sum ``Sw2``
    an ewm over the valid indicator at alpha' = 1-(1-a)^2).
    adjust=False var/std stay on ``groupby_ewm``'s per-group kernel
    (the renormalized second moment has no clean affine form).
    On a small input (``blocked_scan``'s one-task plan) the result is
    checkpoint-backed: running the returned frame again reads the
    stored block input instead of recomputing ``df``."""
    if func not in ("mean", "var", "std"):
        raise ValueError(f"func must be mean|var|std, got {func!r}")
    if func != "mean" and not adjust:
        raise ValueError(
            "groupby_ewm_blocked var/std support adjust=True only; "
            "use groupby_ewm for adjust=False variance"
        )
    a = _resolve_alpha(alpha, halflife, span)
    out = out or f"ewm_{func}"
    kw = _pandas_kw(alpha, halflife, span)
    in_names = [f.name for f in df.schema.fields if f.name in (*by, order_by, value)]
    kept = [f for f in df.schema.fields if f.name in in_names and f.name != out]

    init, step, state, fold, kernel = (
        _adjust_true(a, kw, ignore_na, func) if adjust else _adjust_false(a, kw, ignore_na)
    )
    o, v = sql_quote(order_by), sql_quote(value)
    x = f"nanvl(CAST({v} AS DOUBLE), CAST(NULL AS DOUBLE))"
    # the block's rows in (order_by, value) order, the kernel's
    # partition sort; ``x`` is the value as double, NULL when missing
    carry = F.expr(
        f"aggregate(array_sort(collect_list(struct({o} AS o, {v} AS v, {x} AS x))), "
        f"{_struct(init)}, (s, e) -> {_struct(step)})"
    )
    schema = ", ".join([f"`{f.name}` {f.dataType.simpleString()}" for f in kept] + [f"`{out}` double"])

    def fn(pdf):
        # the inbound state arrives as ``__s_<field>`` columns; the
        # kernel's answer replaces them
        pdf = pdf.reset_index(drop=True)
        codes = pdf.groupby([*by, "__blk"], sort=False, dropna=False).ngroup().to_numpy()
        y = kernel(pdf, codes, pdf[value].astype("float64"))
        return pdf[[f.name for f in kept]].assign(**{out: y})

    def local(work, keys, one_task, seed):
        st = [F.expr(f"__st.{f} AS __s_{f}") for f in state]
        return _apply_batched(
            seed(work).select(*in_names, "__blk", *st), keys, fn, schema, [order_by, value],
            shuffle=not one_task,
        )

    spec = BlockedSpec(
        out=out, local=local, carry={"__c": carry}, identity=F.expr(_struct(state)), fold=fold
    )
    onum, _ = sql_arith_input(o, df.schema[order_by].dataType)
    return blocked_scan(df.select(*in_names), by, onum, spec, num_blocks)


def _struct(fields: dict[str, str]) -> str:
    return "named_struct(" + ", ".join(f"'{k}', {v}" for k, v in fields.items()) + ")"


def _ewm(s, codes, how, ign, **kw):
    """pandas' per-group ewm ``how`` of Series ``s``, in frame order
    (``"var"``: ``bias=True``, the weighted mean squared deviation).
    NB a windowed groupby op (.ewm) does NOT return rows in frame
    order: pandas orders the output groups by first-appearance codes
    (found as silently-wrong EWM values for ~1/6 of keys at the sf0.1
    shape with a multi-key grouper), so realign through the result's
    original-index level instead of trusting positions."""
    res = s.groupby(codes, sort=False).ewm(ignore_na=ign, **kw)
    res = res.var(bias=True) if how == "var" else getattr(res, how)()
    return res.droplevel(0).sort_index()


def _adjust_true(a, kw, ign, func):
    """The weighted-mean spec (module docstring part 1) in pandas' own
    online form: a block summarizes to its weight ``w`` and weighted
    mean ``m`` (var/std add the squared-deviation sum ``x2`` and the
    squared-weight sum ``s2``), which merge across blocks and onto the
    kernel's local moments by the weighted Chan et al. update — the
    moments are always centered at the running mean, as in pandas'
    ``ewmcov``, so no anchor is needed."""
    second = func != "mean"
    b, a2 = 1.0 - a, 1.0 - (1.0 - a) ** 2
    # per-row decay: every row (ignore_na=False) or valid rows only;
    # Sw2's squared weights decay by (1-a)^2 per step (alpha' = a2)
    dec, dec2 = (f"IF(e.x IS NULL, 1D, {d!r}D)" if ign else f"{d!r}D" for d in (b, 1.0 - a2))
    w = f"s.w * {dec}"  # the decayed weight before this row
    init = {"A": "1D", "w": "0D", "m": "0D"}
    step = {
        "A": f"s.A * {dec}",
        "w": f"{w} + IF(e.x IS NULL, 0D, 1D)",
        "m": f"IF(e.x IS NULL, s.m, s.m + (e.x - s.m) / ({w} + 1D))",
    }
    state = {"w": "0D", "m": "0D"}
    if second:
        init.update(x2="0D", s2="0D")
        step.update(x2=f"s.x2 * {dec} + coalesce({w} * (e.x - s.m) * (e.x - s.m) / ({w} + 1D), 0D)",
                    s2=f"s.s2 * {dec2} + IF(e.x IS NULL, 0D, 1D)")
        state.update(x2="0D", s2="0D")

    def fold(s, blk):
        # the earlier blocks' summary decays by the block's A (Sw2 by
        # A^2), then merges with the block's
        c = blk["__c"]
        A = c["A"]
        wd = A * s["w"]
        w = wd + c["w"]
        merged = [w.alias("w"), F.when(w > 0, (wd * s["m"] + c["w"] * c["m"]) / w).otherwise(0.0).alias("m")]
        if second:
            dm = c["m"] - s["m"]
            merged += [
                (A * s["x2"] + c["x2"] + F.when(w > 0, dm * dm * wd * c["w"] / w).otherwise(0.0)).alias("x2"),
                (A * A * s["s2"] + c["s2"]).alias("s2"),
            ]
        return F.struct(*merged)

    def kernel(pdf, codes, x):
        import numpy as np

        valid = x.notna()
        k = valid.groupby(codes).cumsum() if ign else valid.groupby(codes).cumcount() + 1
        A = np.power(b, k.to_numpy(dtype="float64"))
        ind = valid.astype("float64").where(valid)

        def moment(col, how, **opt):
            # NaN before the block's first valid value: no weight yet
            return _ewm(col, codes, how, ign, adjust=True, **(opt or kw)).fillna(0.0).to_numpy()

        wl, ml = moment(ind, "sum"), moment(x, "mean")
        wd = A * pdf["__s_w"].to_numpy()
        w = wd + wl
        dm = ml - pdf["__s_m"].to_numpy()
        with np.errstate(divide="ignore", invalid="ignore"):
            if not second:
                # no valid value yet -> NaN, as the per-group kernel
                return np.where(w > 0, ml - dm * wd / w, np.nan)
            x2 = A * pdf["__s_x2"].to_numpy() + moment(x, "var") * wl
            x2 = x2 + np.where(w > 0, dm * dm * wd * wl / w, 0.0)
            s2 = A * A * pdf["__s_s2"].to_numpy() + moment(ind, "sum", alpha=a2)
            # pandas bias=False: var = Sw * x2 / (Sw^2 - Sw2); one
            # observation makes the divisor exactly 0 -> NaN
            dvz = w * w - s2
            var = np.where(dvz > 0, w * x2 / dvz, np.nan)
        return np.sqrt(var) if func == "std" else var

    return init, step, state, fold, kernel


def _adjust_false(a, kw, ign):
    """The (lam, mu, seed) affine spec (module docstring part 2):
    pandas' renormalize-per-observation kernel makes the block
    response affine in the avg right after the block's first event."""
    b = 1.0 - a
    # the event weight after ``trail`` event-less rows
    w = f"{b!r}D" if ign else f"power({b!r}D, s.trail + 1)"
    upd = f"({w} * s.{{0}} + {a!r}D * {{1}}) / ({w} + {a!r}D)"
    first = "s.h1 < 0"
    init = {"lam": "1D", "mu": "0D", "x1": "CAST(NULL AS DOUBLE)", "h1": "-1L", "trail": "0L", "n": "0L"}
    step = {
        "lam": f"CASE WHEN e.x IS NULL THEN s.lam WHEN {first} THEN 1D ELSE {upd.format('lam', '0D')} END",
        "mu": f"CASE WHEN e.x IS NULL THEN s.mu WHEN {first} THEN 0D ELSE {upd.format('mu', 'e.x')} END",
        "x1": "coalesce(s.x1, e.x)",
        "h1": f"IF({first} AND e.x IS NOT NULL, s.n, s.h1)",
        "trail": "IF(e.x IS NULL, s.trail + 1, 0L)",
        "n": "s.n + 1",
    }
    state = {"avg": "0D", "gap": "0D", "seen": "false"}

    def seed(st, h1, x1):
        # (w1*avg + a*x1)/(w1 + a) with w1 = b^(gap + h1 + 1)
        # (ignore_na=False counts every row; ignore_na=True: w1 = b),
        # or x1 when nothing was seen yet (pandas' first-observation
        # weight-1 rule)
        w1 = F.lit(b) if ign else F.pow(F.lit(b), st["gap"] + h1.cast("double") + F.lit(1.0))
        return F.when(st["seen"], (w1 * st["avg"] + F.lit(a) * x1) / (w1 + F.lit(a))).otherwise(x1)

    def fold(s, blk):
        # fold (avg, gap_rows, seen): a block with events ends at
        # avg = lam*seed + mu with gap = its trailing rows; an
        # event-less block only extends the gap
        c = blk["__c"]
        has = c["h1"] >= 0
        return F.struct(
            F.when(has, c["lam"] * seed(s, c["h1"], c["x1"]) + c["mu"]).otherwise(s["avg"]).alias("avg"),
            F.when(has, c["trail"].cast("double"))
            .otherwise(s["gap"] + c["n"].cast("double")).alias("gap"),
            (s["seen"] | has).alias("seen"),
        )

    def kernel(pdf, codes, x):
        import numpy as np

        valid = x.notna()
        cumv = valid.groupby(codes).cumsum()
        pos = valid.groupby(codes).cumcount().to_numpy(dtype="float64")
        avg, gap, seen = pdf["__s_avg"], pdf["__s_gap"], pdf["__s_seen"].astype(bool)
        # the block's first observation becomes its seed (evaluated on
        # every row, used on that one: there ``pos`` is h1)
        w1 = b if ign else np.power(b, gap + pos + 1.0)
        seeded = x.mask(valid & (cumv == 1), ((w1 * avg + a * x) / (w1 + a)).where(seen, x))
        y = _ewm(seeded, codes, "mean", ign, adjust=False, **kw).to_numpy()
        # rows before the block's first observation carry the inbound
        # avg (NaN when nothing was seen yet)
        return np.where(cumv == 0, avg.where(seen), y)

    return init, step, state, fold, kernel
