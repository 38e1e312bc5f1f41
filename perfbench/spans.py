"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded here, in the benchmark's own code, around the calls
into each of the package's modules: the workloads open spans around
the public functions they call, and :class:`Tracer` wraps the
functions those call in turn under the name each caller resolves
(``pipelines.medallion`` imports ``insert_if_absent`` by name, so the
wrapper goes on ``medallion.insert_if_absent``; the deduplication
entries import ``operators.graph`` at call time, so the wrapper goes
on the module).  A span holds (name, start, end, parent, operation).
Spans and counters stay in memory until the run ends.

Spark is lazy: a span around a builder measures planning only, and the
compute lands in the span of the action.  Spark's own event log splits
that compute: every job carries the id of the innermost open span (a
local property), and :func:`read_event_log` turns jobs, stages and
tasks into per-operation counters.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time

SPAN_PROPERTY = "perfbench.span"


class NullTracer:
    """The untraced run: every hook is a no-op."""

    def spark_conf(self) -> dict:
        return {}

    def span(self, name, op=None):
        return contextlib.nullcontext()

    @contextlib.contextmanager
    def op(self, op_id):
        yield _Op()

    def attach(self, spark) -> None:
        pass

    def close(self, spark) -> None:
        pass


class _Op:
    """An operation of the measured loop; the workload names its kind."""
    kind = None


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "op")

    def __init__(self, sid, name, start, parent, op):
        self.id, self.name, self.start = sid, name, start
        self.parent, self.op, self.end = parent, op, None


class Tracer:
    def __init__(self, work: str):
        self.event_dir = os.path.join(work, "eventlog")
        os.makedirs(self.event_dir)
        self.spans: list[Span] = []
        self.ops: dict[str, _Op] = {}
        self.counters: dict[str, dict[str, float]] = {}
        self._stack: list[Span] = []
        self._sc = None
        self._op_id = None
        self._patched = False

    def spark_conf(self) -> dict:
        return {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"}

    # -- spans ----------------------------------------------------------
    # The workloads call the package from one thread, so one stack of
    # open spans suffices.
    def _tag(self, span: Span | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(
                SPAN_PROPERTY, None if span is None else str(span.id))

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._stack
        parent = stack[-1] if stack else None
        s = Span(len(self.spans), name, time.time(),
                 parent.id if parent else None,
                 op or (parent.op if parent else self._op_id))
        self.spans.append(s)
        stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._tag(stack[-1] if stack else None)

    @contextlib.contextmanager
    def op(self, op_id: str):
        o = self.ops[op_id] = _Op()
        self._op_id = op_id
        try:
            with self.span("op", op=op_id):
                yield o
        finally:
            self._op_id = None

    def count(self, name: str, value: float = 1) -> None:
        per_op = self.counters.setdefault(self._op_id or "setup", {})
        per_op[name] = per_op.get(name, 0) + value

    # -- wrapping the package's functions -------------------------------
    def _wrap(self, module, attr: str, name: str, on_call=None) -> None:
        """Replace ``module.attr`` by a wrapper that opens span ``name``
        around the call, then passes the call's arguments to
        ``on_call``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name):
                out = fn(*a, **kw)
            if on_call:
                on_call(a)
            return out

        setattr(module, attr, wrapper)

    def attach(self, spark) -> None:
        """Bind to the session and install the wrappers."""
        self._sc = spark.sparkContext
        if self._patched:
            return
        self._patched = True
        from energi_data_pipeline_spark.operators import graph
        from energi_data_pipeline_spark.pipelines import medallion
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        m = medallion
        self._wrap(m, "records_to_bronze", "sources.normalize",
                   on_call=lambda a: self.count("sources.records",
                                                len(a[1])))
        self._wrap(m, "read_layer_table", "io.read_layer_table",
                   on_call=lambda a: self.count("io.read_layer_table_calls"))
        self._wrap(m, "max_watermark", "io.max_watermark")
        self._wrap(m, "export_csv", "io.export_csv")
        for builder in ("build_dim_time", "build_fact", "build_gold"):
            self._wrap(m, builder, "operators.build")
        self._wrap(graph, "connected_components",
                   "graph.connected_components")

        # insert_if_absent: count the rows offered with an Observation
        # on the offered frame (one extra plan node, no extra job), and
        # the rows, files and bytes that landed from the table's files
        orig_insert = m.insert_if_absent

        @functools.wraps(orig_insert)
        def insert(spark_, new_df, warehouse, layer, name, *a, **kw):
            table = os.path.join(warehouse, layer, name)
            before = _table_files(table)
            obs = Observation()
            observed = new_df.observe(obs, F.count(F.lit(1)).alias("n"))
            with self.span("io.insert_if_absent"):
                orig_insert(spark_, observed, warehouse, layer, name,
                            *a, **kw)
            self.count("io.insert_if_absent_calls")
            self.count("io.rows_offered", obs.get["n"])
            after = _table_files(table)
            new = set(after) - set(before)
            self.count("io.files_written", len(new))
            self.count("io.bytes_written", sum(after[f][0] for f in new))
            self.count("io.rows_inserted", sum(after[f][1] for f in new))

        m.insert_if_absent = insert

    def close(self, spark) -> None:
        self._sc = None


def _table_files(table: str) -> dict[str, tuple[int, int]]:
    """parquet file -> (bytes, rows) under a table directory."""
    import pyarrow.parquet as pq

    out = {}
    for f in glob.glob(os.path.join(table, "**", "*.parquet"),
                       recursive=True):
        out[f] = (os.path.getsize(f), pq.ParquetFile(f).metadata.num_rows)
    return out


# ------------------------------------------------------------ event log
def read_event_log(event_dir: str) -> list[dict]:
    """One record per Spark job: its span tag, submission time, and
    the totals of its stages and tasks."""
    jobs = []
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        jobs += _read_app(path)
    return jobs


def _read_app(path: str) -> list[dict]:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    python_accs: set[int] = set()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tag = props.get(SPAN_PROPERTY)
                job = jobs[ev["Job ID"]] = {
                    "span": int(tag) if tag not in (None, "") else None,
                    "submitted": ev["Submission Time"] / 1000,
                    "stages": [], "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                    "gc_s": 0.0, "sched_delay_s": 0.0,
                    "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                    "input": 0, "output": 0, "python_eval_s": 0.0}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                _python_accumulators(ev.get("sparkPlanInfo") or {},
                                     python_accs)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                job = jobs.get(stage_job.get(info["Stage ID"]))
                if job is not None and "Completion Time" in info:
                    job["stages"].append(
                        (info["Submission Time"] / 1000,
                         info["Completion Time"] / 1000))
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                if job is not None:
                    _add_task(job, ev, python_accs)
    return list(jobs.values())


#: plan nodes that run Python code in a worker
_PYTHON_NODES = ("Python", "InPandas", "InArrow", "ArrowEval")


def _python_accumulators(plan: dict, out: set[int]) -> None:
    if any(k in plan.get("nodeName", "") for k in _PYTHON_NODES):
        for m in plan.get("metrics", []):
            if "time" in m.get("name", "").lower():
                out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def _add_task(job: dict, ev: dict, python_accs: set[int]) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    job["tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    job["run_s"] += run_ms / 1000
    job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    job["gc_s"] += m.get("JVM GC Time", 0) / 1000
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    job["sched_delay_s"] += max(0, duration - run_ms
                                - m.get("Executor Deserialize Time", 0)
                                - m.get("Result Serialization Time", 0)
                                - info.get("Getting Result Time", 0)) / 1000
    sr = m.get("Shuffle Read Metrics") or {}
    job["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0))
    job["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    job["spill"] += m.get("Disk Bytes Spilled", 0)
    job["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    job["output"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in info.get("Accumulables", []):
        if acc.get("ID") in python_accs:
            try:
                job["python_eval_s"] += float(acc.get("Update", 0)) / 1000
            except (TypeError, ValueError):
                pass


def union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default
