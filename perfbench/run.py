"""Benchmark of the engine: one workload per process, one client.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run makes its inputs from
``--seed``, starts a Spark session of its own (``local[nproc]``, private
warehouse, local and temp directories under ``.perfbench_tmp/``, removed
at exit), runs the workload for about ``--seconds`` seconds of timed work,
checks every output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, measured with no
tracing installed.  With ``--trace 1`` they are the per-layer ones (see
tracing.py), and the spans are written to ``.perfbench_out/``.  The line
before the last one carries the run's host context, sample counts and
peak memory.
README.md maps every metric to its layer and workload.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the engine files each workload needs from the checkout
REQUIRED = (
    "dbt_spark_models_spark/__init__.py",
    "tools/selfcheck.py",
    "examples/mini_mart/project.yml",
    "examples/delta_mart/project.yml",
)


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "dbt_spark_models_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as f:
                    h.update(fn.encode() + f.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def host_context(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": _git_commit(),
        "source_sha256": _source_digest(),
    }


def start_session(work: str, cores: int):
    from dbt_spark_models_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run readable in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.range(1).collect()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers under it)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def e2e_metrics(res, setup_s: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (res.first_pass_s, "s"),
        "pass_p50_s": (statistics.median(res.passes), "s"),
        "op_p50_s": (statistics.median(res.op_seconds), "s"),
    }


def layer_units(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if "ratio" in name or name.endswith("per_node"):
        return "ratio"
    return "count"


def run(args) -> int:
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.chdir(work)  # anything Spark writes relative to cwd stays private
    sys.path[:0] = [ROOT, HERE]

    import workloads
    from tracing import Tracer

    load_start = os.getloadavg()
    spark = None
    try:
        spark = start_session(work, cores)
        setup_s = process_age_s()
        tracer = None
        if args.trace:
            tracer = Tracer(spark, os.path.join(work, "warehouse"))
            tracer.install()
        ctx = workloads.Context(spark, ROOT, work, args.seed, args.seconds, cores, tracer)
        res = workloads.WORKLOADS[args.workload](ctx)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = _vm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        host = host_context(spark)
        host["loadavg_start"], host["loadavg_end"] = load_start, os.getloadavg()
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": host, "info": res.info, "passes": res.passes, "peak_rss_mb": rss_mb,
            "op_samples": len(res.op_seconds), "problems": res.problems,
        }
        if tracer is not None:
            tracer.uninstall()
            out = os.path.join(ROOT, ".perfbench_out", f"trace_{args.workload}_{args.seed}.json")
            tracer.dump(out, detail)
            metrics = {k: (v, layer_units(k)) for k, v in res.layers.items()}
        else:
            metrics = e2e_metrics(res, setup_s)
    finally:
        if spark is not None:
            stop_session(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Engine benchmark (see README.md).")
    ap.add_argument("--workload", required=True,
                    choices=("query_suite", "daily_marts"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
