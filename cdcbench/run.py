"""CDC benchmark: one command, one workload per run, every output checked.

Usage (from the repository root):

    python3 cdcbench/run.py --workload bulk_backfill --seed 1 --seconds 25 --trace 0

Prints a report (run metadata, every metric with its unit and sample count)
and, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run records spans
and a Spark event log and the metrics are the per-layer ones. Exits 1 when
any output disagrees with the DuckDB oracle. See cdcbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(REPO, ".cdcbench_work")
DRIVER_MEM = "2g"
FLUSH_POLICY = (
    "engine default: 4 fsyncs per manifest publish (_write_manifest: "
    "manifest file, metadata dir, CURRENT file, metadata dir); parquet data unsynced"
)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _fs_type(path: str) -> str:
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, fstype = mnt, parts[2]
    return fstype


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"


def _pct_note(xs: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples beyond it."""
    n = len(xs)
    out = {"n": n, "p50": statistics.median(xs) if xs else None}
    if n >= 20:
        p = int(100 * (n - 10) / n)
        out[f"p{p}"] = statistics.quantiles(xs, n=100)[p - 1]
    return out


def main(argv: list[str]) -> int:
    # the engine and its Spark are imported first: without them the run
    # fails here, before it writes anything
    import pyspark
    from pyspark import SparkContext

    from cdcbench.spans import EventLog, SpanIndex, Tracer, layer_metrics
    from cdcbench.gen import HOT_FRAC
    from cdcbench.workloads import WORKLOADS, Bench
    from data_pipeline_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # the work per run is fixed, sized to take about this long on a 4-vCPU
    # VM; the value is recorded in the report and changes nothing
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    # everything the run writes stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        })
    spark = get_spark("cdcbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    jvm_start_s = time.perf_counter() - T_PROCESS
    gateway = SparkContext._gateway
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def rss_mb() -> float:
        return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0

    tracer = Tracer(spark, args.workload, args.seed, enabled=bool(args.trace))
    tracer.install()
    bench = Bench(spark, tracer, work, args.seed, T_PROCESS)
    try:
        metrics = WORKLOADS[args.workload](bench, rss_mb)
    finally:
        tracer.uninstall()
        java_version = spark._jvm.java.lang.System.getProperty("java.version")
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=120)

    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "driver_memory": DRIVER_MEM,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java_version,
        "git_commit": _git_commit(),
        "fs_type": _fs_type(work),
        "flush_policy": FLUSH_POLICY,
        "hot_key_frac": HOT_FRAC,
        "loop": "closed, one client, single process",
        "jvm_start_s": jvm_start_s,
        **bench.meta,
        "samples": {k: _pct_note(v) for k, v in bench.samples.items()},
        "sample_values": bench.samples,
    }

    if args.trace:
        idx = SpanIndex(tracer.spans, bench.timed_start[1], bench.timed_end[1])
        log = EventLog(os.path.join(work, "eventlog"))
        bench.facts["probes"] = tracer.probes
        layers = layer_metrics(idx, log, bench.facts)
        if layers["trace.top_level_coverage"][0] < 0.9:
            bench.failed += 1
            bench.errors.append("trace: top-level spans cover <90% of the timed phase")
        out_dir = os.path.join(WORK_ROOT, "traces")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}")
        tracer.write(stem + ".spans.jsonl")
        with open(stem + ".layers.json", "w") as f:
            json.dump({k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
                      f, indent=1)
        meta["traced_end_to_end"] = {k: v[0] for k, v in metrics.items()}
        result_metrics = layers
    else:
        result_metrics = metrics

    meta["failed_op_frac"] = bench.failed / max(bench.attempted, 1)
    meta["errors"] = bench.errors[:20]
    shutil.rmtree(work, ignore_errors=True)
    print(f"cdcbench {args.workload} seed={args.seed} trace={args.trace}")
    print("meta " + json.dumps(meta, default=str))
    for name, (value, unit) in metrics.items():
        print(f"  {name:<28} {value:>16.6g} {unit}")
    print(f"  {'failed_op_frac':<28} {meta['failed_op_frac']:>16.6g} ratio")
    if args.trace:
        print("per-layer (traced run):")
        for name, (value, unit) in result_metrics.items():
            print(f"  {name:<44} {value:>14.6g} {unit}")
    correct = bench.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result_metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path[0] = REPO  # import cdcbench and the engine as packages
    sys.exit(main(sys.argv[1:]))
