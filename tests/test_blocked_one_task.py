"""The blocked family on its one-task plan and on its distributed plan.

A small input runs ``blocked_route.blocked_scan`` as one task
(``plans.util.one_task_if_small``): the breaks cross as a
one-partition cartesian, the block input is built once (a lazy local
checkpoint), the states join it by a shuffle-hash join of two
one-partition sides, and the EWM local pass skips its hash
repartition.  At test sizes that branch hides the distributed one, so
every blocked operator runs here twice — the bound at its default and
pinned to 0 — over cached float, int and NULL-key frames, and the two
must give the same rows.  The one-task side must also plan no
``Exchange``.  Its plan text stops at the checkpoint, so a freshly
built forced ``plan="blocked"`` call must also run as one job of one
stage: the job that fills the checkpoint runs its subtree, and any
exchange there would add a stage.  Every blocked EWM plan runs its
pandas kernel once: one ``MapInPandas`` on both branches.  The window
passes (scan, shift, rank) join the fold state after their window, so
on the distributed branch no state column rides a hash exchange.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

import flox_spark.plans.util as plan_util
from flox_spark import groupby_ewm, groupby_rank, groupby_scan
from flox_spark.scan_blocked import _SUPPORTED

_N = 240


def _frames(spark) -> dict:
    rng = np.random.default_rng(31)
    k = rng.integers(0, 4, _N)
    ts = rng.permutation(_N)
    x = rng.normal(size=_N).round(3)
    miss = rng.random(_N)

    def fval(i):
        if miss[i] < 0.08:
            return None
        return float("nan") if miss[i] < 0.16 else float(x[i])

    def ival(i):
        return None if miss[i] < 0.1 else int(rng.integers(-5, 6))

    def key(i):
        return None if miss[i] > 0.9 else f"g{k[i]}"

    spec = {
        "float": ([(int(k[i]), int(ts[i]), fval(i)) for i in range(_N)], "k int, ts bigint, v double"),
        "int": ([(int(k[i]), int(ts[i]), ival(i)) for i in range(_N)], "k int, ts bigint, v int"),
        "nullkey": ([(key(i), int(ts[i]), fval(i)) for i in range(_N)], "k string, ts bigint, v double"),
    }
    # cached: a python-list frame re-enters a Python worker per scan
    frames = {name: spark.createDataFrame(rows, schema).cache() for name, (rows, schema) in spec.items()}
    for f in frames.values():
        f.count()
    return frames


def _cases() -> list[tuple[str, str, object]]:
    """(id, frame, call) over every blocked operator."""
    frames = ("float", "int", "nullkey")
    cases = []
    for func in _SUPPORTED:
        for fr in frames:
            cases.append((f"scan.{func}", fr, lambda df, f=func: groupby_scan(
                df, "k", func=f, value="v", order_by="ts", plan="blocked")))
    for func in ("shift", "diff", "pct_change"):
        for fr, periods in zip(frames, (1, -2, 3)):
            cases.append((f"{func}.{periods}", fr, lambda df, f=func, p=periods: groupby_scan(
                df, "k", func=f, value="v", order_by="ts", plan="blocked",
                finalize_kwargs={"periods": p})))
    # every method meets every na_option, and each of both with both pct
    i = 0
    for method in ("average", "min", "max", "dense", "first"):
        for na in ("keep", "top", "bottom"):
            pct, asc = i % 2 == 0, i % 3 != 2
            cases.append((f"rank.{method}.{na}.pct{int(pct)}.asc{int(asc)}", frames[i % 3],
                          lambda df, m=method, n=na, p=pct, a=asc: groupby_rank(
                              df, "k", value="v", method=m, na_option=n, pct=p, ascending=a,
                              order_by="ts" if m == "first" else None, plan="blocked")))
            i += 1
    for fr in frames:
        for func, adjust in (("mean", True), ("mean", False), ("var", True)):
            cases.append((f"ewm.{func}.adjust{int(adjust)}", fr,
                          lambda df, f=func, a=adjust: groupby_ewm(
                              df, "k", value="v", order_by="ts", alpha=0.3, func=f,
                              adjust=a, out="out", plan="blocked")))
    return cases


def _rows(res) -> list[tuple]:
    out = res.columns[-1]
    rows = [(r["k"], r["ts"], r[out]) for r in res.collect()]
    return sorted(rows, key=lambda r: (r[0] is None, r[0] or 0, r[1]))


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        # the carry aggregates add a block's rows in partition order
        return a == pytest.approx(b, rel=1e-12, abs=1e-12)
    return a == b and type(a) is type(b)


def _noop_jobs_stages(spark, build) -> tuple[int, int]:
    """Jobs and stages of building ``build()`` and running it once into
    a noop sink, after one warm-up build and run.  Each build is fresh,
    so the measured run fills its own checkpoint and a job fired while
    building counts too."""
    st = spark.sparkContext.statusTracker()
    build().write.format("noop").mode("overwrite").save()  # warm: caches
    before = set(st.getJobIdsForGroup(None))
    build().write.format("noop").mode("overwrite").save()
    jobs = set(st.getJobIdsForGroup(None)) - before
    return len(jobs), sum(len(st.getJobInfo(j).stageIds) for j in jobs)


def _plan(res) -> str:
    return res._jdf.queryExecution().executedPlan().toString()


def _exchange_inputs(plan: str) -> list[str]:
    """The child line of every hash exchange in ``plan``."""
    lines = plan.splitlines()
    return [lines[i + 1] for i, ln in enumerate(lines[:-1]) if "Exchange hashpartitioning" in ln]


def test_blocked_one_task_and_distributed_rows_identical(spark, monkeypatch):
    frames = _frames(spark)
    try:
        cases = _cases()
        one_task = []
        for name, fr, call in cases:
            res = call(frames[fr])
            plan = _plan(res)
            assert "Exchange" not in plan, (name, fr, plan)
            assert plan.count("MapInPandas") == name.startswith("ewm."), (name, fr, plan)
            one_task.append(_rows(res))
        # one job of one stage per forced blocked call, one operator of
        # each kind
        for name, fr, call in cases:
            if name in ("scan.cumsum", "diff.-2", "rank.average.keep.pct1.asc1", "ewm.var.adjust1"):
                got = _noop_jobs_stages(spark, lambda: call(frames[fr]))
                assert got == (1, 1), (name, fr, got)

        monkeypatch.setattr(plan_util, "SMALL_INPUT_MAX_BYTES", 0)
        for (name, fr, call), small in zip(cases, one_task):
            res = call(frames[fr])
            plan = _plan(res)
            assert "Exchange hashpartitioning" in plan, (name, fr)  # the distributed branch
            assert plan.count("MapInPandas") == name.startswith("ewm."), (name, fr, plan)
            if not name.startswith("ewm."):
                state = [ln for ln in _exchange_inputs(plan)
                         if any(c in ln for c in ("__st", "__tot", "_extract_"))]
                assert not state, (name, fr, state)
            dist = _rows(res)
            assert len(small) == len(dist), (name, fr)
            bad = [(a, b) for a, b in zip(small, dist)
                   if a[:2] != b[:2] or not _same(a[2], b[2])]
            assert not bad, (name, fr, bad[:5])
    finally:
        for f in frames.values():
            f.unpersist()
