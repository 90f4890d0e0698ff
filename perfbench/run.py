"""Store benchmark: one command, seeded inputs, correctness-checked.

    python3 perfbench/run.py --workload unary_rw --seed 1 --seconds 34 --trace 0

sets up and measures every family of work (unary appends and reads,
bulk ingest, the analytics queries, the streaming connector), giving
the named workload's family the larger share of the measured time. It
prints every metric by name and unit, then, as the last line of
standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run also writes
Spark's event log and spans, and reports the per-layer metrics instead.
The exit code is 0 only when every output matched its expected value.
See perfbench/README.md for the metric and workload definitions.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import perfbench and s2_spark from the checkout, not from this directory
sys.path[0] = ROOT

WORKLOADS = ("analytics", "bulk_ingest", "connector", "unary_rw")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=34)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stop(spark) -> None:
    """Stop the session, then the JVM the session started, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _print_metrics(title: str, metrics: dict) -> None:
    print(f"# {title}")
    for name in sorted(metrics):
        value, unit = metrics[name]
        print(f"{name:42s} {value:14.4f} {unit}")


def _run(args, tmp: str, cpus: int):
    """Start the session in ``tmp``, run the workload, stop the session;
    in a traced run, join the event log to the spans."""
    from perfbench import workloads
    from perfbench.spans import JobIndex, Tracer, read_event_log
    from s2_spark.session import get_spark

    # Python workers import s2_spark (the s2 data source runs there)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # every JVM the session launches keeps its temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    log_dir = os.path.join(tmp, "eventlog")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": log_dir,
        })

    spark = None
    try:
        spark = get_spark(f"perfbench-{args.workload}", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf)
        session_s = time.perf_counter() - T_START
        tracer = Tracer(spark.sparkContext if args.trace else None)
        run = workloads.Run(spark, tracer, tmp, args.seed, T_START)
        workloads.run_all(run, workloads.plan(args.workload, args.seconds))
        run.e2e["setup_s"] = (run.setup_s, "s")
        run.layer["session.start_s"] = (session_s, "s")
        run.layer["session.warmup_s"] = (run.setup_s - session_s, "s")
    finally:
        if spark is not None:
            _stop(spark)
    if args.trace:
        idx = JobIndex(read_event_log(log_dir))
        for finish in run.finishers:
            finish(idx)
        run.layer["trace.bookkeeping_ms"] = (tracer.bookkeeping_s * 1000.0, "ms")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    return run


def main(argv=None) -> int:
    args = _args(argv)
    try:
        import pyspark  # noqa: F401

        import s2_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program ({e}); run from the repository root", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=scratch)
    try:
        run = _run(args, tmp, cpus)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.listdir(scratch):
            os.rmdir(scratch)

    load = os.getloadavg()
    print(f"# workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace} "
          f"cores {cpus} loadavg {load[0]:.2f} {load[1]:.2f} {load[2]:.2f}")
    _print_metrics("end-to-end", run.e2e)
    _print_metrics("end-to-end, printed only", run.printed)
    if args.trace:
        _print_metrics("per-layer", run.layer)
    frac = run.failed / max(1, run.attempted)
    print(f"{'ops_failed_frac':42s} {frac:14.4f} ratio ({run.failed} of {run.attempted} ops)")
    for note in run.notes:
        print(f"# {note}")
    for m in run.mismatches:
        print(f"MISMATCH {m}")
    out = run.layer if args.trace else run.e2e
    finite = all(math.isfinite(v) for v, _ in out.values())
    correct = run.failed == 0 and run.attempted > 0 and finite
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": u} for k, (v, u) in sorted(out.items())},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
