"""The repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root.  One process, one Spark session on
``local[nproc]``, one closed-loop caller: the next operation starts
only when the previous one has returned and its output has been
checked.  Inputs come from ``--seed`` (see gen.py); each operation
gets its own sub-seed.

Set-up (``setup_s``) is the JVM and session start plus the workload's
warm-up (two operations).  The measured loop then runs ``MIN_OPS``
operations, and more while ``--seconds`` have not passed.

With ``--trace 0`` the program runs exactly as users run it and the
last line of stdout is the JSON result with the end-to-end metrics.
With ``--trace 1`` the run records spans around the calls into the
package's modules, enables Spark's event log, and reports the
per-layer metrics instead (see spans.py and report.py).

All files, including Spark's and the JVM's temporary files, stay under
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
#: measured operations per run, at least.  The JVM's JIT keeps warming
#: through the first minute of work, so each operation tends to be
#: faster than the one before.  A loop bounded only by time runs more
#: operations on a faster machine, which pulls its median down by more
#: than the machine's speed; with a fixed count the median always comes
#: from the same operations.
MIN_OPS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str, spark_conf: dict) -> None:
    """Point every temporary-file location at ``work`` before the JVM
    starts.  ``spark_conf`` is passed to spark-submit, outside
    ``get_spark``, whose own conf stays as it is."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = " ".join(f"--conf {k}={v}" for k, v in spark_conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" {confs} pyspark-shell')
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    import spans as tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # fail before any work when the package or its oracle is missing
    import energi_data_pipeline_spark.session  # noqa: F401
    import tests.reference_oracle  # noqa: F401

    work_root = os.path.join(root, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        tracer = (tracing.Tracer(work) if args.trace
                  else tracing.NullTracer())
        isolate(work, tracer.spark_conf())
        load_before = os.getloadavg()
        wl = workloads.WORKLOADS[args.workload](
            os.path.join(work, "data"), args.seed, tracer)
        os.makedirs(wl.work)
        # the engine reports progress on stdout; keep it for the result
        with contextlib.redirect_stdout(sys.stderr):
            result = measure(args, wl, tracer)
        result["env"]["load_before"] = load_before
        result["env"]["load_after"] = os.getloadavg()
        metrics = finish_metrics(args, wl, tracer, result, work_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result["env"]))
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": metrics}))
    return 0


def measure(args, wl, tracer) -> dict:
    """Set up, then run the measured loop.  The warm-up counts as one
    attempted operation."""
    from energi_data_pipeline_spark.session import get_spark

    inputs = wl.prepare()
    failed = attempted = 0
    walls: dict[str, list[float]] = {}
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.start", op="setup"):
            spark = get_spark()
        tracer.attach(spark)
        attempted += 1
        with tracer.span("session.warmup", op="setup"):
            wl.warmup(spark)
        setup_s = time.perf_counter() - t0
        spark.catalog.clearCache()
        problems = wl.check()
        if problems:
            failed += 1
            print(f"warm-up output check failed: {problems[:3]}",
                  file=sys.stderr)
        t_start = time.perf_counter()
        i = 0
        while i < MIN_OPS or time.perf_counter() - t_start < args.seconds:
            attempted += 1
            try:
                with tracer.op(f"op{i}") as op:
                    kind, wall = wl.operate(spark, i)
                    op.kind = kind
                spark.catalog.clearCache()
                problems = wl.check()
            except Exception:
                # a failed operation is counted, and the loop goes on
                traceback.print_exc()
                problems = ["raised"]
            if problems:
                failed += 1
                print(f"op {i} output check failed: {problems[:3]}",
                      file=sys.stderr)
            else:
                walls.setdefault(kind, []).append(wall)
            i += 1
        rss = peak_rss_mb(spark)
        stored = wl.stored_bytes()
        wl.finish()
    finally:
        if spark is not None:
            tracer.close(spark)
            stop_jvm(spark)
    return {"failed": failed, "attempted": attempted, "setup_s": setup_s,
            "walls": walls, "peak_rss_mb": rss, "stored_bytes": stored,
            "env": {"workload": args.workload, "seed": args.seed,
                    "nproc": os.cpu_count(),
                    "spark_cpus": os.environ["SPARK_GRAFT_CPUS"],
                    "inputs": inputs, "setup_s": setup_s,
                    "op_walls_s": walls, "peak_rss_mb": rss}}


def finish_metrics(args, wl, tracer, result, work_root) -> dict:
    from workloads import E2E_UNITS

    e2e = {"setup_s": result["setup_s"]}
    e2e.update(wl.metrics(result["walls"]))
    if not args.trace:
        tracing_record(work_root, args.workload, {"seed": args.seed, **e2e})
        return {k: {"value": e2e[k], "unit": u}
                for k, u in E2E_UNITS.items()}
    from report import per_layer

    return per_layer(tracer, wl, result, e2e,
                     tracing_baseline(work_root, args.workload, args.seed))


def tracing_record(work_root: str, workload: str, e2e: dict) -> None:
    """Keep the untraced figures, so a later traced run in the same
    checkout can report its overhead against them."""
    os.makedirs(work_root, exist_ok=True)
    with open(os.path.join(work_root, f"untraced-{workload}.jsonl"),
              "a") as fh:
        fh.write(json.dumps(e2e) + "\n")


def tracing_baseline(work_root: str, workload: str,
                     seed: int) -> list[dict]:
    """The recorded untraced runs of this seed, or of any seed when
    none ran this one."""
    path = os.path.join(work_root, f"untraced-{workload}.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        runs = [json.loads(line) for line in fh if line.strip()]
    return [r for r in runs if r.get("seed") == seed] or runs


if __name__ == "__main__":
    sys.exit(main())
