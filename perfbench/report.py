"""Per-layer metrics of a traced run (``--trace 1``).

Every per-layer metric is reported for every workload; a layer the
workload never enters reads 0.  Figures are medians over the run's
measured operations (hourly cycles for the medallion, curations for
the corpus), except the ``session.*`` and ``*backfill*`` figures,
which come from the set-up.

Self time is a span's duration minus the part of it that its child
spans cover.  ``trace.unaccounted_share`` is the part of an operation's
wall that no top-level span covers.  ``overhead.<metric>`` is this
traced run's end-to-end figure minus the median of the untraced runs
recorded earlier in the same checkout with the same seed, or with any
seed when none used this one (``overhead.baseline_runs`` of them; 0
when there were none, in which case the overheads read 0).
"""

from __future__ import annotations

import os

from spans import median, read_event_log, union_length
from workloads import E2E_UNITS

SPAN_LAYERS = [
    "sources.normalize", "operators.build", "graph.connected_components",
    "queries.plan", "queries.exec",
    "io.insert_if_absent", "io.read_layer_table", "io.max_watermark",
    "io.export_csv",
]
STAGES = ["bronze", "silver", "gold", "export"]
COUNTERS = [
    "sources.records", "io.insert_if_absent_calls",
    "io.read_layer_table_calls", "io.rows_offered", "io.rows_inserted",
    "io.files_written", "io.bytes_written",
]
#: event-log metric -> the job total it sums (None: counted directly)
SPARK = {
    "spark.jobs": None, "spark.stages": None, "spark.tasks": "tasks",
    "spark.executor_run_s": "run_s", "spark.executor_cpu_s": "cpu_s",
    "spark.gc_s": "gc_s", "spark.scheduler_delay_s": "sched_delay_s",
    "spark.shuffle_read_bytes": "shuffle_read",
    "spark.shuffle_write_bytes": "shuffle_write",
    "spark.spill_bytes": "spill", "spark.input_bytes": "input",
    "spark.output_bytes": "output", "spark.python_eval_s": "python_eval_s",
}


def _op_spans(tracer) -> dict[str, list]:
    by_op: dict[str, list] = {}
    for s in tracer.spans:
        if s.end is not None:
            by_op.setdefault(s.op, []).append(s)
    return by_op


def _named(spans, name) -> float:
    return union_length((s.start, s.end) for s in spans if s.name == name)


def _self_times(spans) -> dict[str, float]:
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - union_length(
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.id, []) if b > s.start and a < s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


def _spark_per_op(tracer, jobs, steady_ops, cores) -> dict[str, dict]:
    """Event-log totals per operation, attributing each job by its span
    tag, or, for an untagged job, by the operation whose wall holds its
    submission."""
    op_of_span = {s.id: s.op for s in tracer.spans}
    walls = {}
    for s in tracer.spans:
        if s.name == "op":
            walls[s.op] = (s.start, s.end)
    per_op: dict[str, dict] = {op: {"jobs": [], "wall": walls[op]}
                               for op in steady_ops}
    for job in jobs:
        op = op_of_span.get(job["span"])
        if op is None:
            op = next((o for o, (a, b) in walls.items()
                       if a <= job["submitted"] <= b), None)
        if op in per_op:
            per_op[op]["jobs"].append(job)
    out = {}
    for op, d in per_op.items():
        a, b = d["wall"]
        wall = b - a
        js = d["jobs"]
        m = {"spark.jobs": len(js),
             "spark.stages": sum(len(j["stages"]) for j in js)}
        for name, field in SPARK.items():
            if field:
                m[name] = sum(j[field] for j in js)
        stages = [(max(s0, a), min(s1, b)) for j in js
                  for s0, s1 in j["stages"] if s1 > a and s0 < b]
        m["spark.driver_gap_s"] = wall - union_length(stages)
        m["spark.core_busy_ratio"] = m["spark.executor_run_s"] / (
            wall * cores)
        out[op] = m
    return out


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile with at
    least ten samples beyond it; with ten samples or fewer there is
    none, and the maximum (percentile 100) stands in."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    k = n - 10
    if k < 1:
        return xs[-1], 100.0, n
    return xs[k - 1], 100.0 * k / n, n


def per_layer(tracer, wl, result: dict, e2e: dict,
              baseline: list[dict]) -> dict:
    by_op = _op_spans(tracer)
    steady = [o for o, op in tracer.ops.items() if op.kind == wl.STEADY]
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))

    def over_steady(fn) -> float:
        return median(fn(by_op.get(o, [])) for o in steady)

    def in_setup(fn) -> float:
        return fn(by_op.get("setup", []))

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (in_setup(
        lambda sp: _named(sp, "session.start")), "s")
    m["session.warmup_s"] = (in_setup(
        lambda sp: _named(sp, "session.warmup")), "s")

    def backfill_normalize(spans) -> float:
        parents = {s.id for s in spans
                   if s.name == "medallion.backfill.bronze"}
        return union_length((s.start, s.end) for s in spans
                            if s.name == "sources.normalize"
                            and s.parent in parents)

    m["sources.normalize_backfill_s"] = (in_setup(backfill_normalize),
                                         "s")
    for st in STAGES:
        m[f"medallion.backfill.{st}_s"] = (in_setup(
            lambda sp, st=st: _named(sp, f"medallion.backfill.{st}")), "s")
        m[f"medallion.cycle.{st}_s"] = (over_steady(
            lambda sp, st=st: _named(sp, f"medallion.cycle.{st}")), "s")
    for name in SPAN_LAYERS:
        m[f"{name}_s"] = (over_steady(lambda sp, n=name: _named(sp, n)), "s")
    for name in SPAN_LAYERS + [f"medallion.cycle.{st}" for st in STAGES]:
        m[f"self.{name}_s"] = (over_steady(
            lambda sp, n=name: _self_times(sp).get(n, 0.0)), "s")
    for name in COUNTERS:
        m[name] = (median(tracer.counters.get(o, {}).get(name, 0)
                          for o in steady),
                   "bytes" if name.endswith("bytes_written") else "count")
    stored, fed = result["stored_bytes"]
    m["io.stored_bytes_per_input_byte"] = (stored / fed if fed else 0.0,
                                           "ratio")

    spark_ops = _spark_per_op(tracer, read_event_log(tracer.event_dir),
                              steady, cores)
    for name in list(SPARK) + ["spark.driver_gap_s",
                               "spark.core_busy_ratio"]:
        unit = ("bytes" if name.endswith("_bytes") else
                "s" if name.endswith("_s") else
                "ratio" if name.endswith("ratio") else "count")
        m[name] = (median(v[name] for v in spark_ops.values()), unit)

    def unaccounted(spans) -> float:
        root = next((s for s in spans if s.name == "op"), None)
        if root is None:
            return 0.0
        wall = root.end - root.start
        top = [(s.start, s.end) for s in spans if s.parent == root.id]
        return (wall - union_length(top)) / wall

    m["trace.unaccounted_share"] = (over_steady(unaccounted), "ratio")
    m["trace.spans"] = (len(tracer.spans), "count")
    t, pct, n = tail(result["walls"].get(wl.STEADY, []))
    m["op.tail_s"] = (t, "s")
    m["op.tail_pct"] = (pct, "%")
    m["op.tail_n"] = (n, "count")
    own = wl.figures()
    m["medallion.backfill_rows_per_s"] = (
        own.get("medallion.backfill_rows_per_s", 0.0), "1/s")
    m["dedup.false_merge_ratio"] = (own.get("dedup.false_merge_ratio", 0.0),
                                    "ratio")
    m["overhead.baseline_runs"] = (len(baseline), "count")
    m["process.peak_rss_mb"] = (result["peak_rss_mb"], "MB")
    for name, unit in E2E_UNITS.items():
        base = median(b[name] for b in baseline) if baseline else None
        m[f"overhead.{name}"] = (
            e2e[name] - base if base is not None else 0.0, unit)
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

