"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload serve_live --seed 1 --seconds 15 --trace 0

Workloads (see README.md for why each exists and what it measures):

- ``serve_live``      engine.serve under an open-loop agent load
- ``backfill_query``  run_pipeline_once over a backlog, then Engine
                      queries and the declared-query basket

Every run builds its inputs from ``--seed``, measures for ``--seconds``,
checks the outputs, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` is a separate traced run that
reports the per-layer metrics and writes its spans to
``.perfbench_out/``. The exit code is nonzero when a check fails.

The benchmark fixes its own environment: ``SPARK_GRAFT_CPUS`` is the
number of usable cores, the repository root is on ``PYTHONPATH`` for
Python workers, and stores, checkpoints and ``SPARK_LOCAL_DIRS`` live in
a fresh directory under ``.perfbench_tmp/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from measure import cpu_seconds, jit_threads, percentile, steal_ticks, tail_pct, vm_hwm_mb  # noqa: E402
from metrics import ALL, E2E, LAYER  # noqa: E402
from spans import NoTracer, Tracer, exec_totals  # noqa: E402


def since_process_start() -> float:
    """Seconds since this process was created (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, seed: int, seconds: int, tracer, tmp: str):
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.tmp = tmp
        self.spark = None
        self._jvm: tuple[int, list[str]] | None = None

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def session(self, app: str, data_dir: str | None = None):
        from yamon_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(app, data_dir=data_dir)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        from pyspark import SparkContext

        pid = SparkContext._gateway.proc.pid
        self._jvm = (pid, jit_threads(pid))
        return self.spark

    def cpu(self) -> tuple[float, float]:
        """CPU seconds used so far by the system under test -- this process
        and its JVM -- and, of those, by the JVM's JIT compiler threads."""
        pid, jit = self._jvm
        return cpu_seconds() + cpu_seconds(pid), sum(cpu_seconds(pid, t) for t in jit)

    def setup_done(self) -> float:
        """setup_s: process start to the first timed operation (workloads
        check their outputs after it)."""
        return since_process_start()

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)


def fix_env(tmp: str, traced: bool) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # session knobs a caller's shell may carry would make runs incomparable
    for knob in ("SPARK_GRAFT_INIT_PARTITIONS", "SPARK_GRAFT_MASTER", "SPARK_DRIVER_MEMORY"):
        os.environ.pop(knob, None)
    # temporary files of Python, Spark's launcher JVM and Spark's JVM stay
    # in the run's directory too (hsperfdata is always under /tmp, so it
    # is turned off). JIT compiler threads live as long as the JVM, so
    # that their CPU time can be told apart from the rest (Ctx.cpu).
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    submit = [f'--driver-java-options "{jvm_opts}"']
    if traced:
        # Spark's event log, in the traced run only: local, uncompressed,
        # one file per application
        os.makedirs(os.path.join(tmp, "eventlog"))
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{tmp}/eventlog",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([*submit, "pyspark-shell"])


def stop_spark(ctx: Ctx) -> float:
    """Stop Spark and its JVM; returns the JVM's peak RSS in MB."""
    if ctx.spark is None:
        return 0.0
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark, ctx.spark = ctx.spark, None
    jvm_mb = vm_hwm_mb(proc.pid) if proc is not None else 0.0
    try:
        for q in spark.streams.active:
            q.stop()
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    return jvm_mb


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="yamon_spark benchmark")
    ap.add_argument("--workload", choices=ALL, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "yamon_spark", "__init__.py")):
        print(f"perfbench: no yamon_spark package in {ROOT}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    run_id = os.path.basename(tmp)
    traced = bool(args.trace)
    fix_env(tmp, traced)
    sys.path.insert(0, ROOT)
    # Spark and Derby drop files in the working directory
    os.chdir(tmp)
    ctx = Ctx(args.seed, args.seconds, Tracer(run_id) if traced else NoTracer(), tmp)
    steal0 = steal_ticks()
    try:
        workload = importlib.import_module(args.workload)
        res = workload.run(ctx)
        jvm_mb = stop_spark(ctx)
        res["layer"]["mem.peak_rss_mb"] = vm_hwm_mb() + jvm_mb
        lat = res.pop("lat_ms")
        pct = tail_pct(len(lat))
        res["layer"].update(
            {
                "run.samples": len(lat),
                "run.median_ms": median(lat) if lat else 0.0,
                "run.tail_pct": pct or 0,
                "run.tail_ms": percentile(lat, pct) if pct else 0.0,
            }
        )
        stolen, ticks = (b - a for a, b in zip(steal0, steal_ticks()))
        res["layer"]["run.steal_share"] = stolen / max(ticks, 1)
        if traced:
            res["layer"]["session.get_spark_s"] = sum(s["end"] - s["start"] for s in ctx.tracer.named("session.get_spark"))
            res["layer"].update(workload_exec(ctx, res))
            res["layer"]["trace.overhead_share"] = ctx.tracer.cost_s / max(res.pop("traced_op_s"), 1e-9)
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            ctx.tracer.write(os.path.join(out, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    finally:
        stop_spark(ctx)
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps(report(res, traced)))
    return 0 if res["correct"] else 1


def report(res: dict, traced: bool) -> dict:
    """The result line: every end-to-end metric, or with tracing every
    per-layer metric, by name with its unit (0 for a layer the workload
    does not run)."""
    table, values = (LAYER, res["layer"]) if traced else (E2E, res["e2e"])
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in table.items()}
    return {"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}


def workload_exec(ctx: Ctx, res: dict) -> dict[str, float]:
    """exec.* from the event log, over the jobs of the timed windows."""
    logs = os.listdir(ctx.path("eventlog"))
    totals = exec_totals(ctx.path("eventlog", logs[0]), res["windows"]) if logs else {}
    return {f"exec.{k}": v for k, v in totals.items()}


if __name__ == "__main__":
    sys.exit(main())
