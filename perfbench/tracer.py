"""Outside-in tracing for the benchmark.

Nothing here reaches inside ``flox_spark``: spans are taken around the
benchmark's own calls into the engine's public functions, py4j commands
are counted by wrapping the gateway client's ``send_command`` from the
benchmark process, and the Spark layers are read back from the JVM's
status stores (jobs, stages, SQL executions) once, after the traced
pass.  Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "pb:"

# Physical nodes that hand rows to a Python worker (pandas/Arrow UDFs).
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
_DOT_NODE = re.compile(r'^\s*\d+ \[id="node\d+" labelType="html" label="(.*?)" tooltip=', re.M)
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


class Py4JCounter:
    """Counts py4j commands sent from this process while installed."""

    def __init__(self, sc):
        self._client = sc._gateway._gateway_client
        self.n = 0
        self._orig = None

    def install(self) -> None:
        orig = self._client.send_command
        self._orig = orig

        def counted(*args, **kwargs):
            self.n += 1
            return orig(*args, **kwargs)

        self._client.send_command = counted

    def remove(self) -> None:
        if self._orig is not None:
            del self._client.send_command
            self._orig = None


@dataclass
class QueryTrace:
    qid: int
    name: str
    layer: str
    form: str
    spans: dict[str, float] = field(default_factory=dict)
    py4j_build: int = 0
    phases_ms: dict[str, int] = field(default_factory=dict)
    rows: int = 0
    jvm: dict = field(default_factory=dict)


class Tracer:
    """Per-query spans plus the JVM-side layer counters behind them."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.counter = Py4JCounter(self.sc)
        self.queries: list[QueryTrace] = []
        self.events: list[dict] = []

    # -- spans -----------------------------------------------------------
    def group(self, qid: int, phase: str) -> None:
        gid = f"{GROUP_PREFIX}{qid}:{phase}"
        self.sc.setJobGroup(gid, gid)

    def group_off(self) -> None:
        """Jobs from here on (checks, probes) belong to no traced query."""
        self.sc.setJobGroup("perfbench-untraced", "perfbench-untraced")

    def span(self, q: QueryTrace, name: str, t0: float, t1: float) -> None:
        q.spans[name] = t1 - t0
        self.events.append({"qid": q.qid, "span": name, "t0": t0, "t1": t1,
                            "parent": "query" if name != "query" else None})

    # -- JVM stores ------------------------------------------------------
    def _wait_listeners(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # private API; the stores catch up within ms anyway
            time.sleep(0.5)

    def collect_jvm(self) -> dict[int, dict]:
        """Per-qid scheduler, executor, SQL-plan and kernel counters."""
        self._wait_listeners()
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        per: dict[int, dict] = {}

        def slot(qid: int) -> dict:
            return per.setdefault(qid, {
                "jobs": 0, "build_jobs": 0, "stages": 0, "tasks": 0,
                "job_wall_ms": 0, "act_job_wall_ms": 0, "run_ms": 0, "cpu_ns": 0,
                "gc_ms": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                "input": 0, "exchanges": 0, "plan_nodes": 0, "python_nodes": 0,
                "python_rows": 0, "python_bytes": 0.0,
            })

        stage_owner: dict[int, int] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            if not g.isDefined():
                continue
            gid = g.get()
            if not gid.startswith(GROUP_PREFIX):
                continue
            qid_s, phase = gid[len(GROUP_PREFIX):].split(":")
            s = slot(int(qid_s))
            s["jobs"] += 1
            if phase == "build":
                s["build_jobs"] += 1
            sub, comp = j.submissionTime(), j.completionTime()
            if sub.isDefined() and comp.isDefined():
                wall = comp.get().getTime() - sub.get().getTime()
                s["job_wall_ms"] += wall
                if phase == "act":
                    s["act_job_wall_ms"] += wall
            ids = j.stageIds()
            for k in range(ids.size()):
                stage_owner[ids.apply(k)] = int(qid_s)

        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        for i in range(stages.size()):
            st = stages.apply(i)
            qid = stage_owner.get(st.stageId())
            if qid is None or st.status().toString() != "COMPLETE":
                continue
            s = slot(qid)
            s["stages"] += 1
            s["tasks"] += st.numCompleteTasks()
            s["run_ms"] += st.executorRunTime()
            s["cpu_ns"] += st.executorCpuTime()
            s["gc_ms"] += st.jvmGcTime()
            s["shuffle_read"] += st.shuffleReadBytes()
            s["shuffle_write"] += st.shuffleWriteBytes()
            s["spill"] += st.diskBytesSpilled()
            s["input"] += st.inputBytes()

        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            desc = e.description() or ""
            if not desc.startswith(GROUP_PREFIX):
                continue
            s = slot(int(desc[len(GROUP_PREFIX):].split(":")[0]))
            eid = e.executionId()
            dot = sql.planGraph(eid).makeDotFile(sql.executionMetrics(eid))
            _add_plan(s, dot)
        return per

    def one_job_floor(self, n: int = 5) -> float:
        """Median wall of a one-task, JVM-only job: the scheduler floor."""
        jvm = self.sc._jvm
        one = jvm.java.util.ArrayList()
        one.add(1)
        walls = []
        for _ in range(n):
            t0 = time.perf_counter()
            self.sc._jsc.parallelize(one, 1).count()
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls)

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.events,
                       "queries": [q.__dict__ for q in self.queries]}, fh)


def _parse_size(text: str) -> float:
    num, _, unit = text.strip().partition(" ")
    return float(num.replace(",", "")) * _SIZE_UNITS.get(unit.strip(), 1)


def _metric(label: str, name: str) -> str | None:
    m = re.search(re.escape(name) + r": ([^<]*)", label)
    return m.group(1) if m else None


def _add_plan(s: dict, dot: str) -> None:
    """Count physical nodes, exchanges and Python-worker nodes of one SQL
    execution's (final) plan graph; sum the Python nodes' row and byte
    metrics.  Size metrics arrive formatted to 0.1 of their unit."""
    for label in _DOT_NODE.findall(dot):
        m = re.search(r"<b>(.*?)</b>", label)
        if not m:
            continue
        name = m.group(1).strip()
        s["plan_nodes"] += 1
        if "Exchange" in name:
            s["exchanges"] += 1
        if _PYTHON_NODE.search(name):
            s["python_nodes"] += 1
            rows = _metric(label, "number of output rows")
            if rows:
                s["python_rows"] += int(rows.replace(",", ""))
            for key in ("data sent to Python workers", "data returned from Python workers"):
                val = _metric(label, key)
                if val:
                    # "total (min, med, max ...)\n12.3 KiB (...)" or "12.3 KiB"
                    val = val.split("\\n")[-1] if "\\n" in val else val
                    val = re.sub(r"\s*\(.*$", "", val.replace("total", "").strip())
                    try:
                        s["python_bytes"] += _parse_size(val)
                    except ValueError:
                        pass
