#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload er_html_distinct --seed 1 \
        --seconds 10 --trace 0

Run it from the root of a checkout. Set-up (session start, input
generation, one cold warm-up unit) is timed as ``setup_s``. Units then run
back to back until the next one would end past ``--seconds``; at least one
always runs. Every unit's output is checked, untimed, against the
generator's entity ids. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs one more unit with spans on and prints the per-layer
metrics. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 1 when a
unit failed or a quality score fell below its floor.

All scratch data (Spark local dirs, barrier tables, checkpoints, the event
log, temp files) lives in ``.perfbench_work/`` under the checkout and is
removed on exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

import host

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

# a unit that would start after this many seconds of the run is skipped, so
# the run ends well inside its time limit
DEADLINE_S = 120
HEAP_MB = 2048

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "cluster_pair_f1": "ratio",
    "top1_acc": "ratio",
    "ok_frac": "ratio",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: Path) -> None:
    """Keep every file Spark and Python write inside ``work``, and let the
    Python workers Spark forks import the package from any directory."""
    for sub in ("tmp", "local", "scratch", "events"):
        (work / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [str(ROOT), str(HERE), os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)


def spark_conf(work: Path, trace: bool) -> dict:
    conf = {
        # a fixed-size heap far below host RAM: the host is shared, and a
        # heap that does not grow keeps peak_rss_mb comparable across runs
        "spark.driver.memory": f"{HEAP_MB}m",
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP_MB}m -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the progress bar shares stdout with the metrics line
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jit_quiet(spark, poll_s: float = 0.25, limit_s: float = 5.0) -> None:
    """Wait until the JVM's JIT compilers go idle: the cold unit leaves a
    queue of hot methods that would otherwise compile on the first timed
    unit's clock."""
    clocks = host.JvmClocks(spark)
    last = clocks.read()[0]
    deadline = time.monotonic() + limit_s
    while time.monotonic() < deadline:
        time.sleep(poll_s)
        now = clocks.read()[0]
        if now == last:
            return
        last = now


class Runner:
    def __init__(self, workload, spark):
        self.w = workload
        self.spark = spark
        self.attempted = 0
        self.failed = 0
        self.records = 0
        self.quality: list[dict] = []

    def timed(self, around=None):
        """Run and time one unit, inside ``around`` if given; return
        ``(unit, seconds)``, or ``(None, seconds)`` when it failed."""
        self.attempted += 1
        # start each unit from a collected JVM heap, so one unit's garbage
        # is not collected on the next one's clock
        self.spark.sparkContext._jvm.System.gc()
        t0 = time.monotonic()
        try:
            with around or contextlib.nullcontext():
                out = self.w.unit(self.spark, self.attempted)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None, time.monotonic() - t0
        self.records = out.records
        return out, time.monotonic() - t0

    def check(self, out) -> bool:
        """Score a unit's output, untimed; a check that raises fails it."""
        try:
            self.quality.append(self.w.check(out))
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return False
        return True

    def unit(self):
        out, dt = self.timed()
        if out is None or not self.check(out):
            return None, dt
        return out, dt

    def quality_means(self) -> dict:
        keys = self.quality[0] if self.quality else {}
        return {k: statistics.fmean(q[k] for q in self.quality) for k in keys}


def measure(runner: Runner, seconds: float, started: float) -> list[float]:
    """Closed loop: run units back to back until ``seconds`` have passed
    (at least one), stopping early only near the run's deadline."""
    times: list[float] = []
    t0 = time.monotonic()
    while True:
        out, dt = runner.unit()
        if out is not None:
            times.append(dt)
        expected = statistics.median(times) if times else dt
        now = time.monotonic()
        if now - t0 >= seconds or now - started + expected > DEADLINE_S:
            return times


def main(argv=None) -> int:
    args = parse_args(argv)
    started = time.monotonic()
    # imported here so a directory without the package fails before any
    # output
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    prepare_env(work)
    try:
        return run(args, work, started, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it


def run(args, work: Path, started: float, workloads) -> int:
    from company_name_matching_spark.session import get_spark
    from company_name_matching_spark.sources import store

    probe_s = host.host_probe()
    cores = host.nproc()
    print(f"host.probe_s={probe_s:.4f} nproc={cores}", flush=True)

    t0 = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cores,
                      extra_conf=spark_conf(work, bool(args.trace)))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.monotonic() - t0
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        # barrier tables go to the run's scratch dir, not the store's default
        store._scratch = str(work / "scratch")
        w = workloads.WORKLOADS[args.workload](args.seed)
        print(f"inputs {w.name} seed={args.seed} {w.describe} digest={w.digest}",
              flush=True)
        w.prepare(spark, work, partitions=2 * cores)
        runner = Runner(w, spark)
        cold, cold_s = runner.timed()  # the cold unit is paid in set-up
        jit_quiet(spark)
        setup_s = time.monotonic() - t0
        if cold is not None:
            runner.check(cold)

        times = measure(runner, args.seconds, started)
        layer_values = None
        if args.trace:
            layer_values = traced_unit(runner, spark, times, cores, jvm_pid)
        rss_mb = host.peak_rss_mb([jvm_pid, os.getpid()])
    finally:
        stop_spark(spark)

    print(f"phases session_s={session_s:.2f} cold_s={cold_s:.2f} "
          f"setup_s={setup_s:.2f} units={[round(t, 2) for t in times]} "
          f"total_s={time.monotonic() - started:.2f}", flush=True)
    quality = runner.quality_means()
    floors = workloads.FLOORS
    correct = (runner.failed == 0 and bool(times)
               and all(quality.get(k, 0.0) >= v for k, v in floors.items()))
    if times:
        print(f"records_per_s={runner.records / statistics.median(times):.4f}",
              flush=True)
    print(f"failed_frac={runner.failed / runner.attempted:.4f} units={len(times)} "
          f"quality={json.dumps(quality)} floors={json.dumps(floors)}", flush=True)

    if args.trace:
        import layers
        import spans

        report, overhead = layer_values
        values = report.finish(spans.read_event_log(work / "events"),
                               probe_s, overhead, session_s)
        units = layers.PER_LAYER
    else:
        run_s = statistics.median(times) if times else float("nan")
        values = {
            "setup_s": setup_s,
            "run_s": run_s,
            "cluster_pair_f1": quality.get("cluster_pair_f1", 0.0),
            "top1_acc": quality.get("top1_acc", 0.0),
            "ok_frac": 1 - runner.failed / runner.attempted,
            "peak_rss_mb": rss_mb,
        }
        units = END_TO_END
    result = {
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


def traced_unit(runner: Runner, spark, plain: list[float], cores: int,
                jvm_pid: int):
    """One more unit with every layer wrapped in spans. Returns the report
    (status-tracker counts taken now, event-log totals added after the
    session stops) and the traced ÷ untraced wall ratio."""
    import layers
    import spans

    tracer = spans.Tracer(spark.sparkContext)
    tracer.install()
    tracer.enabled = True
    jvm = host.JvmClocks(spark)
    cpu0, jvm0 = host.tree_cpu_s(jvm_pid), jvm.read()
    try:
        out, _ = runner.timed(tracer.span("unit"))
    finally:
        tracer.enabled = False
        tracer.uninstall()
    if out is None:
        raise RuntimeError("the traced unit failed")
    report = layers.LayerReport(tracer, 0, cores)
    v = report.values
    v["spark.process_cpu_s"] = host.tree_cpu_s(jvm_pid) - cpu0
    v["spark.jit_compile_s"], v["spark.gc_s"] = (
        b - a for a, b in zip(jvm0, jvm.read()))
    report.counts(out)
    runner.check(out)
    return report, tracer.spans[0].seconds / statistics.median(plain)


if __name__ == "__main__":
    sys.exit(main())
