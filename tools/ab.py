"""Matched-pair A/B of two checkouts on the repo benchmark.

Runs ``perfbench/run.py`` alternately in a *parent* and a *change*
checkout (two ``git worktree``s, or any two clones): pair ``i`` uses
seed ``--seed0 + i`` on both sides, and the side that runs first
alternates from pair to pair, so drift in the host's load lands on
both sides equally.  Host-wide CPU steal is read from ``/proc/stat``
around every run.

    git worktree add --detach ../parent HEAD~1
    python tools/ab.py --parent ../parent --change . --workload reduce_small \\
        --pairs 10 --seed0 100
    python tools/ab.py ... --trace 1        # per-layer metrics
    python tools/ab.py ... --per-query      # which queries moved

Per workload and metric it prints each side's median and quartiles,
the number of pairs the change won (the direction comes from the
change's ``BENCHMARK.json``; metrics it does not list are printed
without a win count) and the steal share per side.  ``--per-query``
also reads each run's own record (the newest
``.perfbench_out/<workload>-s<seed>-t<trace>-*.json`` in that
checkout) and prints every query's median wall per side, so a claim
can name the queries that moved.  ``--out FILE`` keeps every run's
record as JSON.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time


def read_steal() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate ``cpu`` line."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()[1:]
    vals = [int(x) for x in fields]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def query_medians(checkout: str, workload: str, seed: int, trace: int) -> dict[str, float]:
    """Each query's median wall in the run's own record: the newest
    ``.perfbench_out`` file of this workload, seed and trace mode."""
    paths = glob.glob(os.path.join(checkout, ".perfbench_out", f"{workload}-s{seed}-t{trace}-*.json"))
    paths = [p for p in paths if not p.endswith(".spans.json")]
    if not paths:
        return {}
    with open(max(paths, key=os.path.getmtime)) as fh:
        walls = json.load(fh)["per_query_s"]["traced" if trace else "untraced"]
    return {name: statistics.median(ws) for name, ws in walls.items() if ws}


def run_one(checkout: str, workload: str, seed: int, seconds: float, trace: int,
            timeout: float, per_query: bool = False) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    s0, t0 = read_steal()
    wall0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=timeout)
    wall = time.perf_counter() - wall0
    s1, t1 = read_steal()
    lines = proc.stdout.strip().splitlines()
    rec = {"seed": seed, "wall_s": round(wall, 2),
           "steal_pct": round(100.0 * (s1 - s0) / max(t1 - t0, 1), 3)}
    if proc.returncode != 0 or not lines:
        rec["error"] = (proc.stderr or proc.stdout)[-2000:]
        return rec
    res = json.loads(lines[-1])
    rec.update(correct=res["correct"], attempted=res["attempted"], failed=res["failed"],
               metrics={k: v["value"] for k, v in res["metrics"].items()})
    if per_query:
        rec["per_query"] = query_medians(checkout, workload, seed, trace)
    return rec


def directions(checkout: str) -> dict[str, str]:
    try:
        with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
    except (OSError, ValueError):
        return {}
    return {m["name"]: m["better"] for key in ("end_to_end", "per_layer")
            for m in bench.get(key, [])}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def fmt(q: tuple[float, float, float]) -> str:
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def report(workload: str, pairs: list[tuple[dict, dict]], better: dict[str, str]) -> None:
    ok = [(p, c) for p, c in pairs if "metrics" in p and "metrics" in c]
    print(f"\n== {workload}: {len(ok)}/{len(pairs)} complete pairs")
    for side, idx in (("parent", 0), ("change", 1)):
        recs = [pc[idx] for pc in pairs]
        steal = [r["steal_pct"] for r in recs]
        failed = sum(r.get("failed", 0) for r in recs)
        errors = sum("error" in r for r in recs)
        print(f"{side:>7}: steal median {statistics.median(steal):.2f}% max {max(steal):.2f}%"
              f"  failed queries {failed}  crashed runs {errors}")
    if not ok:
        return
    names = sorted(set(ok[0][0]["metrics"]) & set(ok[0][1]["metrics"]))
    print(f"{'metric':34} {'parent med [q1, q3]':>30} {'change med [q1, q3]':>30} {'wins':>6}")
    for name in names:
        pv = [p["metrics"][name] for p, _ in ok]
        cv = [c["metrics"][name] for _, c in ok]
        pq, cq = quartiles(pv), quartiles(cv)
        d = better.get(name)
        if d == "lower":
            wins = f"{sum(c < p for p, c in zip(pv, cv))}/{len(ok)}"
        elif d == "higher":
            wins = f"{sum(c > p for p, c in zip(pv, cv))}/{len(ok)}"
        else:
            wins = "-"
        print(f"{name:34} {fmt(pq):>30} {fmt(cq):>30} {wins:>6}")
    queries = sorted(set(ok[0][0].get("per_query", {})) & set(ok[0][1].get("per_query", {})))
    if queries:
        print(f"\n{'query (median wall, s)':34} {'parent med [q1, q3]':>30} "
              f"{'change med [q1, q3]':>30} {'faster':>6}")
    for q in queries:
        both = [(p["per_query"][q], c["per_query"][q]) for p, c in ok
                if q in p.get("per_query", {}) and q in c.get("per_query", {})]
        pq = quartiles([p for p, _ in both])
        cq = quartiles([c for _, c in both])
        print(f"{q:34} {fmt(pq):>30} {fmt(cq):>30} {sum(c < p for p, c in both)}/{len(both):<4}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--parent", required=True, help="checkout of the parent commit")
    p.add_argument("--change", required=True, help="checkout of the change")
    p.add_argument("--workload", action="append", required=True,
                   help="perfbench workload name (repeatable)")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=100, help="seed of the first pair")
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--timeout", type=float, default=900.0, help="per run, seconds")
    p.add_argument("--per-query", action="store_true",
                   help="also print every query's median wall per side")
    p.add_argument("--out", help="write every run's record here (JSON)")
    args = p.parse_args(argv)

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    better = directions(sides["change"])
    log: dict[str, list] = {}
    for wl in args.workload:
        pairs = []
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for side in order:
                got[side] = run_one(sides[side], wl, seed, args.seconds, args.trace, args.timeout,
                                    args.per_query)
                r = got[side]
                geo = r.get("metrics", {}).get("latency_geomean_s")
                print(f"[{wl} pair {i + 1}/{args.pairs} seed {seed}] {side:>6}: "
                      f"geomean {geo if geo is None else round(geo, 4)} "
                      f"steal {r['steal_pct']:.2f}% wall {r['wall_s']} s"
                      + ("  ERROR" if "error" in r else ""), flush=True)
            pairs.append((got["parent"], got["change"]))
        log[wl] = [{"parent": a, "change": b} for a, b in pairs]
        report(wl, pairs, better)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"args": vars(args), "runs": log}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
