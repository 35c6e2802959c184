"""Spans and per-span counters for the traced run, read from outside the engine.

A span is timed around a call into one engine layer. ``Tracer.layer``
forces the DataFrame the layer returns with a noop write, so the span's
Spark work is the layer's own. After the span ends, ``StatusReader``
reads Spark's status stores (the SQL executions with their plan-node
metrics, and the stage and task metrics of those executions) and hands
every execution and job that started since the last read to the span
that just ended. Child spans end first, so each span gets its own (self)
work, not that of the spans nested in it.

The reader runs no Spark job; ``StatusReader.reader_jobs`` counts the jobs
that appear while it reads (statusTracker ids), and should stay 0.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

import pyspark.sql.functions as F
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation

COUNTERS = (
    "wall_s",
    "rows_out",
    "spark_jobs",
    "shuffle_bytes",
    "spill_bytes",
    "py_init_s",
    "py_run_s",
    "task_skew",
)

# multipliers of the units Spark prints SQL metric values in
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value in base units (s, bytes or a count).

    Single-task values read ``161 ms``; multi-task ones read
    ``total (min, med, max (...))\\n1.3 s (249 ms, ...)``.
    """
    lines = text.strip().splitlines()
    tok = lines[-1].split("(")[0].split() if lines else []
    if not tok:  # no task reported a value
        return 0.0
    value = float(tok[0].replace(",", ""))
    return value * _UNITS[tok[1]] if len(tok) > 1 else value


class StatusReader:
    """Reads the counters of everything that ran since the previous read."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.app = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.seen_exec = -1
        self.seen_jobs: set[int] = set()
        self.reader_jobs = 0
        self.read()  # everything before the tracer existed belongs to no span

    def _job_ids(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def _new_executions(self) -> list:
        """Executions with an id above any read before, oldest first."""
        n = self.sql.executionsCount()
        k = 16
        while True:
            batch = list(self.conv.asJava(self.sql.executionsList(max(0, n - k), min(k, n))))
            if k >= n or not batch or batch[0].executionId() <= self.seen_exec:
                break
            k *= 2
        return [e for e in batch if e.executionId() > self.seen_exec]

    def read(self) -> dict:
        """Counters of the executions and jobs since the previous read."""
        jobs_before = set(self._job_ids())
        self.bus.waitUntilEmpty(60_000)
        out = dict.fromkeys(("shuffle_bytes", "spill_bytes", "py_init_s", "py_run_s"), 0.0)
        out.update(task_skew=1.0, pip_rows=0.0, join_rows=0.0, node_rows=0.0)
        for e in self._new_executions():
            self.seen_exec = max(self.seen_exec, e.executionId())
            self._add_execution(e, out)
        jobs = set(self._job_ids())
        self.reader_jobs += len(jobs - jobs_before)
        out["spark_jobs"] = len(jobs - self.seen_jobs)
        self.seen_jobs = jobs
        return out

    def _add_execution(self, e, out: dict) -> None:
        eid = e.executionId()
        values = self.conv.asJava(self.sql.executionMetrics(eid))

        def value(m) -> float:
            text = values.get(m.accumulatorId())
            return parse_metric(text) if text else 0.0

        for m in self.conv.asJava(e.metrics()):
            name = m.name()
            if name in ("time to initialize Python workers", "time to start Python workers"):
                out["py_init_s"] += value(m)
            elif name == "time to run Python workers":
                out["py_run_s"] += value(m)
        # rows at the plan nodes the ratio counters need: the point-in-
        # polygon UDF, joins, and explodes of node id arrays
        for node in self.conv.asJava(self.sql.planGraph(eid).allNodes()):
            name = node.name()
            if name == "ArrowEvalPython":
                key = "pip_rows" if "point_in_wkt_udf" in node.desc() else None
            elif name == "Generate":
                key = "node_rows" if "node_ids" in node.desc() else None
            else:
                key = "join_rows" if "Join" in name else None
            if key:
                for m in self.conv.asJava(node.metrics()):
                    if m.name() == "number of output rows":
                        out[key] += value(m)
        for sid in self.conv.asJava(e.stages()):
            try:
                st = self.app.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped by AQE: never ran
                continue
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            if st.numTasks() < 2:
                continue
            tasks = self.conv.asJava(self.app.taskList(sid, st.attemptId(), 1 << 20))
            run = [t.taskMetrics().get().executorRunTime() for t in tasks if t.taskMetrics().isDefined()]
            if len(run) >= 2 and statistics.median(run) > 0:
                out["task_skew"] = max(out["task_skew"], max(run) / statistics.median(run))


class Tracer:
    """Records spans (name, start, end, parent) with per-span counters."""

    def __init__(self, spark):
        self.reader = StatusReader(spark)
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pass = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "pass": self._pass,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            rec["counters"] = self.reader.read()

    def record(self, name: str, start: float, end: float) -> None:
        """A span timed before the tracer existed (no Spark counters)."""
        self.spans.append({"id": len(self.spans), "name": name, "parent": None, "pass": None,
                           "start": start, "end": end, "counters": {}})

    @contextmanager
    def run_pass(self, name: str):
        """The root span of one pass; spans inside it carry its name."""
        self._pass = name
        with self.span(f"pass.{name}") as rec:
            yield rec

    def layer(self, name: str, fn) -> DataFrame:
        """Call a layer and force the DataFrame it returns (noop write)."""
        with self.span(name) as rec:
            df = fn()
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
            rec["rows_out"] = obs.get["rows"]
        return df

    def call(self, name: str, fn, rows=None):
        """Call a layer that runs its own actions; ``rows`` maps its
        result to the rows it produced."""
        with self.span(name) as rec:
            out = fn()
            rec["rows_out"] = rows(out) if rows else 0
        return out

    def stage(self, runner, name: str, build) -> DataFrame:
        """``runner.stage`` inside a span that records whether it resumed."""
        obs = Observation()
        built = []

        def observed():
            built.append(True)
            return build().observe(obs, F.count(F.lit(1)).alias("rows"))

        with self.span("checkpoint.StageRunner.stage", stage=name) as rec:
            df = runner.stage(name, observed)
            rec["resumed"] = not built
            rec["rows_out"] = obs.get["rows"] if built else 0
        return df

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class NullTracer:
    """The untraced run: every hook calls straight through."""

    @contextmanager
    def run_pass(self, name: str):
        yield None

    def layer(self, name: str, fn) -> DataFrame:
        return fn()

    def call(self, name: str, fn, rows=None):
        return fn()

    def stage(self, runner, name: str, build) -> DataFrame:
        return runner.stage(name, build)
