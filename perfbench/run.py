"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload ingest_churn --seed 1 --seconds 6 --trace 0

Run from the repository root. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run. The lines before it
are a readable report: every metric by name with its unit, the
workload-specific figures behind them, and the run context (seed, input
digest, cores, load average, source revision).

All files the run writes go under ``.perfbench_work/`` in the current
directory, which is emptied at the start and removed at the end; a
traced run also leaves its spans in ``.perfbench_spans.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPANS_FILE = ".perfbench_spans.json"


def source_revision() -> dict:
    """git revision when the checkout is a repository, and always a
    digest of the engine's source files."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "local_vectordb_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(f.encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    try:
        rev = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        rev = None
    return {"git": rev, "source_sha256": h.hexdigest()[:16]}


def rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait until it exits."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the benchmark's own tests")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    import workloads
    from local_vectordb_spark.session import get_spark
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")

    work = os.path.join(os.getcwd(), ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file Spark and Python write inside the work directory
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    # a 1 GiB driver heap (the session default is 8 GiB) keeps the JVM's
    # resident size near a plateau, so peak_rss_mb compares across runs
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    tempfile.tempdir = None  # re-read TMPDIR

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_DRIVER_MEM": os.environ["SPARK_DRIVER_MEM"],
        "loadavg_before": os.getloadavg(),
        **source_revision(),
    }
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        run = workloads.Run(
            spark=spark, work=work, seed=args.seed, seconds=args.seconds,
            size=workloads.SIZES[args.size],
            tracer=Tracer(spark) if args.trace else None,
            session_start_s=session_start_s,
        )
        e2e = workloads.WORKLOADS[args.workload](run)
        e2e["peak_rss_mb"] = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024 + rss_mb(jvm_pid)
        )
    finally:
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    context["loadavg_after"] = os.getloadavg()
    context["input_digest"] = run.digest

    units = workloads.END_TO_END
    print(f"context {json.dumps(context)}")
    for name, value in e2e.items():
        print(f"end_to_end {args.workload} {name} = {value:.6g} {units[name]}")
    report = dict(run.report, failed_frac=run.failed / max(1, run.attempted),
                  peak_rss_mb=e2e["peak_rss_mb"], setup_s=e2e["setup_s"])
    for name, value in report.items():
        print(f"report {args.workload} {name} = {json.dumps(value)}")
    for r in run.reasons:
        print(f"failed {r}")
    if args.trace:
        metrics = {
            n: {"value": float(run.layer.get(n, 0.0)), "unit": u}
            for n, (u, _) in workloads.PER_LAYER.items()
        }
        for name, m in metrics.items():
            print(f"per_layer {args.workload} {name} = {m['value']:.6g} {m['unit']}")
        self_s = run.tracer.self_times()
        for name in sorted(self_s, key=self_s.get, reverse=True):
            print(f"self_s {args.workload} {name} = {self_s[name]:.6g} s")
        with open(SPANS_FILE, "w") as f:
            json.dump({"spans": run.tracer.spans, "self_s": self_s}, f)
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in units.items()}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
