"""flox_spark benchmark: one seeded workload per run, closed loop, one client.

    python3 perfbench/run.py --workload reduce_small --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --smoke          # every workload, tiny inputs

A run generates its inputs from ``--seed`` into a scratch directory of the
checkout (``.perfbench_work/``, removed at exit), starts Spark
``local[1]`` pinned to two CPUs, sets up three times, warms up with one pass, then
replays the workload's seed-ordered query list in whole passes until
``--seconds`` have gone by and the workload's minimum passes are done.
Every output is checked outside the timed window.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs every
query twice back to back, untraced and traced, and prints the per-layer
metrics of the traced runs; the mean traced-minus-untraced wall is
``trace.overhead_s``.  The last
stdout line is one JSON object: correct, attempted, failed, metrics.
A full record (per-query walls, spans, input stats, contention) goes to
``.perfbench_out/``.  See ``perfbench/README.md`` for the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SETUP_REPS = 3
# Spark local[1]: the inputs are small, so a second task slot does not
# make the queries faster, and with fewer threads on a shared host the
# run-to-run spread measured lower than at local[2].
CPUS = 1
# The run (this process, the JVM and its Python workers) is pinned to this
# many of the CPUs it may use.  A query hands work between threads hundreds
# of times (py4j round trips, scheduler, task threads); on a shared host
# each hand-off to another, descheduled vCPU waits for the hypervisor, so
# unpinned walls swing with the neighbours' load.
PIN_CPUS = 2


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=None,
                   help="timed phase length (default 10, or 1 with --smoke)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, one warm-up query, one pass: checks the harness, not performance")
    return p.parse_args(argv)


def pin_cpus(n: int) -> list[int]:
    """Pin this process, and so every process it starts, to the last ``n``
    of its allowed CPUs (the first often takes the host's interrupts)."""
    cpus = sorted(os.sched_getaffinity(0))[-n:]
    os.sched_setaffinity(0, cpus)
    return cpus


def prepare_env(work: Path, cpus: int) -> None:
    """Keep Spark's scratch, Python's temp files and the JVM's inside the
    run's work directory; quiet the console."""
    for d in ("spark-local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'}",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)


class RssSampler:
    """High-water mark of this process's resident set while running."""

    def __init__(self, pid: str = "self", every: float = 0.02):
        self.path = f"/proc/{pid}/status"
        self.every = every
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def read_kb(self, key: str = "VmRSS") -> int:
        try:
            with open(self.path) as fh:
                for line in fh:
                    if line.startswith(key + ":"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _run(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.read_kb())
            self._stop.wait(self.every)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        self.peak_kb = max(self.peak_kb, self.read_kb())


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def contention(before: list[int], after: list[int]) -> dict:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"idle_pct": 100.0 * (d[3] + d[4]) / total,
            "steal_pct": 100.0 * (d[7] if len(d) > 7 else 0) / total}


def tail_percentile(n: int) -> int:
    """The rank of the (n-10)th of ``n`` samples as a percentile, rounded
    down to a multiple of 5: at least 10 samples lie beyond it."""
    return max(0, int(100 * (n - 11) / max(n - 1, 1)) // 5 * 5)


def tail_mean(values: list[float], p: float) -> float:
    """Mean of the samples at or above the ``p``-th percentile.  Steadier
    than the percentile itself, which on a mixed query list can fall in
    the gap between a cluster of fast queries and one of slow ones."""
    cut = pct(values, p)
    return statistics.fmean([x for x in values if x >= cut])


def pct(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Runner:
    """Runs queries one at a time (closed loop, one client) and keeps their
    walls, failures and, when traced, their spans."""

    def __init__(self, tables, tracer):
        self.tables = tables
        self.tracer = tracer
        self.walls: dict[str, list[float]] = {"untraced": [], "traced": []}
        self.per_query: dict[str, dict[str, list[float]]] = {"untraced": {}, "traced": {}}
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}
        self.check_s = 0.0
        self.next_qid = 0

    def run_one(self, q, traced: bool = False) -> None:
        """Build, (plan), execute and collect one query; check it off the clock."""
        from perfbench.tracer import QueryTrace
        from perfbench.workloads import fingerprint_sink

        tr = self.tracer
        qid = self.next_qid
        self.next_qid += 1
        result = err = None
        if traced:
            qt = QueryTrace(qid, q.name, q.layer, q.form)
            tr.queries.append(qt)
            tr.counter.install()
        t0 = time.perf_counter()
        try:
            if traced:
                tr.group(qid, "build")
                c0 = tr.counter.n
            df = q.build(self.tables)
            t1 = time.perf_counter()
            if traced:
                qt.py4j_build = tr.counter.n - c0
            if q.fingerprint is not None:
                df = fingerprint_sink(df, q.fingerprint)
            if traced:
                tr.group(qid, "plan")
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                qt.phases_ms = {k: phases.apply(k).durationMs()
                                for k in ("analysis", "optimization", "planning")
                                if phases.contains(k)}
                tr.group(qid, "act")
            t2 = time.perf_counter()
            result = df.toPandas()
            t3 = time.perf_counter()
        except Exception as exc:  # a failed query is counted, never fatal
            err = f"{type(exc).__name__}: {exc}"[:300]
            t1 = t2 = t3 = time.perf_counter()
        finally:
            if traced:
                tr.group_off()
                tr.counter.remove()
        t_end = time.perf_counter()
        self.attempted += 1
        mode = "traced" if traced else "untraced"
        self.walls[mode].append(t_end - t0)
        self.per_query[mode].setdefault(q.name, []).append(t_end - t0)
        if traced:
            qt.rows = 0 if result is None else len(result)
            for name, a, b in (("query", t0, t_end), ("build", t0, t1),
                               ("catalyst", t1, t2), ("collect", t2, t3)):
                tr.span(qt, name, a, b)
        c0 = time.perf_counter()
        if err is None and q.check is not None:
            try:
                err = q.check(result)
            except Exception as exc:
                err = f"check raised {type(exc).__name__}: {exc}"[:300]
        if err is not None:
            self.failed += 1
            self.failures.setdefault(q.name, err)
        self.check_s += time.perf_counter() - c0

    def passes(self, order, seconds: float, min_passes: int, trace: bool, seed: int) -> tuple[float, int]:
        """Whole passes over ``order`` until ``seconds`` of query time have
        gone by; returns (timed wall without check time, passes).  With
        ``trace`` every query runs twice back to back, untraced and traced
        in a seeded random order, so both see the same warmth and load."""
        coin = random.Random(seed)
        start = time.perf_counter()
        check0 = self.check_s
        n = 0
        while True:
            for q in order:
                if not trace:
                    self.run_one(q)
                    continue
                first = coin.random() < 0.5
                self.run_one(q, traced=first)
                self.run_one(q, traced=not first)
            n += 1
            elapsed = time.perf_counter() - start - (self.check_s - check0)
            if n >= min_passes and elapsed >= seconds:
                return elapsed, n


def setup_inputs(spark, wl, seed: int, scale: float, work: Path):
    """Generate, write and load the inputs; returns (inputs, tables,
    gen_s, load_s)."""
    from flox_spark.sources import read_parquet

    out = work / "data"
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    t0 = time.perf_counter()
    inputs = wl.generate(seed, scale, str(out))
    t1 = time.perf_counter()
    tables = {k: read_parquet(spark, p) for k, p in inputs["paths"].items()}
    for df in tables.values():
        df.schema  # noqa: B018 - forces the file listing and footer read
    t2 = time.perf_counter()
    return inputs, tables, t1 - t0, t2 - t1


def input_stats(wl, inputs, tables) -> dict:
    """Rows, on-disk bytes and the plan statistics the engine's gates read,
    per table, for the run record."""
    from flox_spark.plans.util import estimate_size_bytes

    stats = {}
    for k, df in tables.items():
        path = inputs["paths"][k]
        cols = wl.probe.get(k, df.columns)
        stats[k] = {
            "rows": df.count(),
            "disk_bytes": os.path.getsize(path),
            "estimate_size_bytes": estimate_size_bytes(df),
            "projection": cols,
            "estimate_size_bytes_projection": estimate_size_bytes(df.select(*cols)),
        }
    return stats


def layer_metrics(runner: Runner, tracer, jvm: dict, floor_s: float, cores: int,
                  load_s: list[float], jvm_rss_kb: int) -> dict:
    """Per-layer figures: medians of per-query spans (perf_counter clocks);
    counts and the ms-resolution JVM clocks as means per query, so that a
    quantised median does not hide a change."""
    qs = tracer.queries

    def med(vals):
        return statistics.median(vals) if vals else 0.0

    def mean(vals):
        return statistics.fmean(vals) if vals else 0.0

    m: dict[str, tuple[float, str]] = {}
    m["sources.load_s"] = (med(load_s), "s")

    def layer(prefix, sel):
        sub = [q for q in qs if sel(q)]
        m[f"{prefix}.build_s"] = (med([q.spans["build"] for q in sub]), "s")
        m[f"{prefix}.py4j_calls"] = (mean([q.py4j_build for q in sub]), "count")
        return sub

    for name in ("core", "scan", "operators"):
        sub = layer(name, lambda q, n=name: q.layer == n)
        m[f"{name}.build_jobs"] = (mean([jvm.get(q.qid, {}).get("build_jobs", 0) for q in sub]), "count")
    for form in ("plain", "shaped"):
        sub = [q for q in qs if q.layer == "core" and q.form == form]
        m[f"aggregations.{form}_build_s"] = (med([q.spans["build"] for q in sub]), "s")
        m[f"aggregations.{form}_py4j_calls"] = (mean([q.py4j_build for q in sub]), "count")

    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = (mean([q.phases_ms.get(ph, 0) / 1000.0 for q in qs]), "s")
    J = [jvm.get(q.qid, {}) for q in qs]

    def jmean(key, scale=1.0):
        return mean([j.get(key, 0) * scale for j in J])

    m["catalyst.exchanges"] = (jmean("exchanges"), "count")
    m["catalyst.plan_nodes"] = (jmean("plan_nodes"), "count")
    m["catalyst.python_nodes"] = (jmean("python_nodes"), "count")
    m["scheduler.jobs"] = (jmean("jobs"), "count")
    m["scheduler.stages"] = (jmean("stages"), "count")
    m["scheduler.tasks"] = (jmean("tasks"), "count")
    m["scheduler.floor_s"] = (jmean("jobs") * floor_s, "s")
    m["executor.wall_s"] = (jmean("job_wall_ms", 1e-3), "s")
    m["executor.run_s"] = (jmean("run_ms", 1e-3), "s")
    m["executor.cpu_s"] = (jmean("cpu_ns", 1e-9), "s")
    m["executor.gc_s"] = (jmean("gc_ms", 1e-3), "s")
    m["executor.shuffle_read_bytes"] = (jmean("shuffle_read"), "bytes")
    m["executor.shuffle_write_bytes"] = (jmean("shuffle_write"), "bytes")
    m["executor.spill_bytes"] = (jmean("spill"), "bytes")
    m["executor.input_bytes"] = (jmean("input"), "bytes")
    wall = sum(j.get("job_wall_ms", 0) for j in J)
    run = sum(j.get("run_ms", 0) for j in J)
    m["executor.slot_use"] = (run / (wall * cores) if wall else 0.0, "ratio")
    m["kernel.python_rows"] = (jmean("python_rows"), "count")
    m["kernel.python_bytes"] = (jmean("python_bytes"), "bytes")
    # driver-side collect: the collect call's wall minus the executor
    # wall of the jobs it ran
    m["collect.s"] = (med([max(q.spans["collect"] - jvm.get(q.qid, {}).get("act_job_wall_ms", 0) / 1000.0, 0.0)
                           for q in qs]), "s")
    m["collect.rows"] = (mean([q.rows for q in qs]), "count")
    m["jvm.peak_rss_mb"] = (jvm_rss_kb / 1024.0, "MB")
    untr, trac = runner.per_query["untraced"], runner.per_query["traced"]
    diffs = [med(trac[n]) - med(untr[n]) for n in trac if n in untr]
    m["trace.overhead_s"] = (mean(diffs), "s")
    m["trace.uncovered_s"] = (med([q.spans["query"] - q.spans["build"] - q.spans["catalyst"]
                                   - q.spans["collect"] for q in qs]), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run_workload(args) -> int:
    seconds = args.seconds
    scale = 0.05 if args.smoke else 1.0
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = ROOT / ".perfbench_work" / run_id
    out_dir = ROOT / ".perfbench_out"
    sys.path.insert(0, str(ROOT))
    import flox_spark  # noqa: F401  - fail fast, leaving nothing behind, when the engine is absent
    from perfbench.workloads import GATES, WORKLOADS

    pinned = pin_cpus(PIN_CPUS)
    prepare_env(work, CPUS)  # before the JVM starts: it reads these at launch

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    spark = None
    try:
        t0 = time.perf_counter()
        from flox_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}", CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        from flox_spark import set_options
        from perfbench.tracer import Tracer

        tracer = Tracer(spark)
        set_options(**wl.options)  # applies for the rest of this process

        gen_s, load_s, reps = [], [], []
        for r in range(SETUP_REPS):
            r0 = time.perf_counter()
            inputs, tables, g, ld = setup_inputs(spark, wl, args.seed, scale, work)
            reps.append(time.perf_counter() - r0)
            gen_s.append(g)
            load_s.append(ld)
        queries = wl.queries(inputs)
        order = list(queries)
        random.Random(args.seed).shuffle(order)

        tail = tail_percentile(wl.min_passes * len(order))
        runner = Runner(tables, tracer)
        w0 = time.perf_counter()
        for q in order[:1] if args.smoke else order:
            runner.run_one(q)
        warm_s = time.perf_counter() - w0 - runner.check_s
        runner.walls["untraced"].clear()
        runner.per_query["untraced"].clear()
        runner.attempted = runner.failed = 0
        runner.failures.clear()
        setup_s = session_s + statistics.median(reps) + warm_s

        floor_start = tracer.one_job_floor()
        cpu0 = cpu_times()
        with RssSampler() as rss:
            min_passes = 1 if args.trace or args.smoke else wl.min_passes
            timed_s, n_pass = runner.passes(order, seconds, min_passes, bool(args.trace), args.seed)
        cpu1 = cpu_times()
        floor_end = tracer.one_job_floor()
        stats = input_stats(wl, inputs, tables)
        jvm = tracer.collect_jvm() if args.trace else {}
        for q in tracer.queries:
            q.jvm = jvm.get(q.qid, {})

        walls = runner.walls["untraced"]
        jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)
        jvm_rss = RssSampler(str(jvm_pid.pid)).read_kb("VmHWM") if jvm_pid else 0
        record = {
            "workload": wl.name, "seed": args.seed, "seconds": seconds, "trace": args.trace,
            "cores": CPUS, "pinned_cpus": pinned, "scale": scale, "passes": n_pass, "queries_per_pass": len(order),
            "tail_percentile": tail,
            "setup": {"session_s": session_s, "reps_s": reps, "generate_s": gen_s,
                      "load_s": load_s, "warmup_s": warm_s},
            "inputs": stats, "gates": GATES, "options": wl.options,
            "contention": {**contention(cpu0, cpu1), "floor_probe_start_s": floor_start,
                           "floor_probe_end_s": floor_end},
            "failures": runner.failures,
            "per_query_s": runner.per_query,
        }
        if args.trace:
            metrics = layer_metrics(runner, tracer, jvm, statistics.median([floor_start, floor_end]),
                                    CPUS, load_s, jvm_rss)
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "queries_per_s": {"value": len(walls) / timed_s, "unit": "1/s"},
                "latency_geomean_s": {"value": statistics.geometric_mean(walls), "unit": "s"},
                "latency_tail_s": {"value": tail_mean(walls, tail), "unit": "s"},
                "py_peak_rss_mb": {"value": rss.peak_kb / 1024.0, "unit": "MB"},
            }
        error_rate = runner.failed / max(runner.attempted, 1)
        record["metrics"] = metrics
        record["error_rate"] = error_rate
        out_dir.mkdir(exist_ok=True)
        if args.trace:
            tracer.dump(out_dir / f"{run_id}.spans.json")
        with open(out_dir / f"{run_id}.json", "w") as fh:
            json.dump(record, fh, indent=1, default=str)

        for name, err in runner.failures.items():
            print(f"FAILED {name}: {err}")
        c = record["contention"]
        print(f"# {wl.name} seed={args.seed} trace={args.trace} passes={n_pass} "
              f"queries={runner.attempted} error_rate={error_rate:.4f} (ratio) "
              f"tail=p{tail} idle={c['idle_pct']:.1f}% steal={c['steal_pct']:.2f}% "
              f"floor={floor_start:.4f}/{floor_end:.4f}s timed_s={timed_s:.2f}")
        for k, v in metrics.items():
            print(f"# {k} = {v['value']:.6g} {v['unit']}")
        result = {"correct": runner.failed == 0, "attempted": runner.attempted,
                  "failed": runner.failed, "metrics": metrics}
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for both."""
    if spark is None:
        return
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def run_all(args) -> int:
    """Every workload in its own process, one after another."""
    from perfbench.workloads import WORKLOADS

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        if args.smoke:
            cmd.append("--smoke")
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            return proc.returncode or 1
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds is None:
        args.seconds = 1.0 if args.smoke else 10.0
    sys.path.insert(0, str(ROOT))
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
