"""Reads Spark's own status stores after an action.

Both stores are filled by listeners that run with ``spark.ui.enabled=false``:

* ``sc._jsc.sc().statusStore()`` (AppStatusStore): jobs and per-stage task
  metrics (run time, CPU, GC, input, shuffle, spill, peak execution memory);
* ``_jsparkSession.sharedState().statusStore()`` (SQLAppStatusStore): the
  final physical plan of every SQL execution with its node metrics, e.g.
  the ArrowEvalPython node's Python time and Arrow bytes.

Objects are serialised JVM-side with Spark's own Jackson mapper, so one
read costs a few py4j calls per job, stage and execution. The stores keep
only the last 1,000 jobs, stages and executions, so the benchmark reads
after every timed job, never once at the end.
"""

from __future__ import annotations

import json
import re
import time

_UNITS = {"": 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}
_VALUE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """SQL metric string -> number in base units (s, bytes, count).

    Task-aggregated metrics read "total (min, med, max (...))\\n7.6 s (...)";
    the total is the first value on the second line."""
    if not text:
        return 0.0
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m or m.group(2) not in _UNITS:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _flatten(nodes):
    for n in nodes:
        if "nodes" in n:  # WholeStageCodegen cluster
            yield from _flatten(n["nodes"])
        yield n


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._jsc = sc._jsc.sc()
        self._app = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$").__getattr__("MODULE$")
        self._mapper.registerModule(scala_module)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self):
        """Block until the listener bus has delivered every event posted so
        far, so the stores hold the finished action's metrics."""
        self._jsc.listenerBus().waitUntilEmpty()

    def last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def begin(self) -> dict:
        """Mark the start of an action window; pass the mark to read()."""
        self.drain()
        return {"t0_ms": time.time() * 1000.0,
                "exec_id": self.last_execution_id()}

    def read(self, group: str, mark: dict) -> dict:
        """Jobs, executed stages and SQL plan nodes of job group ``group``
        since ``mark``. A stage that a job skipped because an earlier job
        already wrote its shuffle output is not counted again."""
        self.drain()
        t1_ms = time.time() * 1000.0
        jobs = [self._json(self._app.job(j))
                for j in self._tracker.getJobIdsForGroup(group)]
        stages = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            st = self._json(self._app.lastStageAttempt(sid))
            sub = st.get("submissionTime")
            if st["status"] == "SKIPPED" or sub is None or sub < mark["t0_ms"] - 1:
                continue
            stages.append(st)
        nodes = []
        for eid in range(mark["exec_id"] + 1, self.last_execution_id() + 1):
            graph = self._json(self._sql.planGraph(eid))
            values = self._json(self._sql.executionMetrics(eid))
            for n in _flatten(graph["nodes"]):
                nodes.append({
                    "execution": eid, "name": n["name"], "desc": n["desc"],
                    "metrics": {m["name"]: parse_metric(values.get(str(m["accumulatorId"])))
                                for m in n["metrics"]}})
        return {"jobs": jobs, "stages": stages, "nodes": nodes,
                "t0_ms": mark["t0_ms"], "t1_ms": t1_ms}


def session_layer(rec: dict, cpus: int) -> dict:
    """Per-action `session.*` numbers from one read() record."""
    st = rec["stages"]
    wall = (rec["t1_ms"] - rec["t0_ms"]) / 1000.0
    run_s = sum(s["executorRunTime"] for s in st) / 1000.0
    # wall during which no Spark job of this action was running
    spans = sorted((j["submissionTime"], j["completionTime"])
                   for j in rec["jobs"] if j.get("completionTime"))
    covered, end = 0.0, rec["t0_ms"]
    for a, b in spans:
        a = max(a, end)
        if b > a:
            covered += b - a
            end = b
    return {
        "session.spark_jobs": len(rec["jobs"]),
        "session.tasks": sum(s["numCompleteTasks"] for s in st),
        "session.executor_run_s": run_s,
        "session.executor_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
        "session.gc_s": sum(s["jvmGcTime"] for s in st) / 1000.0,
        "session.busy_frac": run_s / (wall * cpus) if wall > 0 else 0.0,
        "session.gap_s": max(0.0, wall - covered / 1000.0),
        "session.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in st) / 2 ** 20,
        "session.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in st) / 2 ** 20,
        "session.spill_mb": sum(s["diskBytesSpilled"] for s in st) / 2 ** 20,
        "session.peak_exec_mem_mb": max((s["peakExecutionMemory"] for s in st),
                                        default=0) / 2 ** 20,
        "session.input_mb": sum(s["inputBytes"] for s in st) / 2 ** 20,
    }


def python_udf_layer(rec: dict, udf_name: str) -> dict:
    """Python-boundary numbers of the ArrowEvalPython nodes that evaluate
    the UDF called ``udf_name`` (the node description names it)."""
    out = {"run_s": 0.0, "to_python_mb": 0.0, "from_python_mb": 0.0}
    pat = re.compile(r"\b" + re.escape(udf_name) + r"\(")
    for n in rec["nodes"]:
        if "EvalPython" not in n["name"] or not pat.search(n["desc"]):
            continue
        m = n["metrics"]
        out["run_s"] += m.get("time to run Python workers", 0.0)
        out["to_python_mb"] += m.get("data sent to Python workers", 0.0) / 2 ** 20
        out["from_python_mb"] += m.get("data returned from Python workers", 0.0) / 2 ** 20
    return out
