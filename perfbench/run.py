"""CDC cascade benchmark: one workload, one seed, one JSON result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload view_catchup --seed 1 --seconds 30 --trace 0

Workloads (see perfbench/METRICS.md for what each measures and why):
view_catchup, api_cache_aside.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, and the spans are
dumped to ``.perfbench_out/``. The line before it is a JSON stamp of the
run: machine, versions, load, seed, CPU steal, which PIDs the
memory figure counted, the tail percentiles used and the run's
validity. Everything the run writes stays inside the checkout; scratch
files go to ``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
STEAL_LIMIT = 0.02  # share of CPU time stolen by the hypervisor that invalidates a run

END_TO_END_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "lag_p50_ms": "ms",
    "lag_tail_ms": "ms",
}

_STREAM = ("batches", "batch_ms", "rows_per_batch", "source_ms", "planning_ms",
           "sink_ms", "commit_ms", "backlog_files_max")
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    **{f"streaming.pipeline.{m}": u for m, u in zip(
        _STREAM, ("count", "ms", "count", "ms", "ms", "ms", "ms", "count"))},
    "streaming.sinks.invalidate_batch_ms": "ms",
    "streaming.sinks.upsert_view_batch_ms": "ms",
    "streaming.sinks.keys_per_batch": "count",
    "kv.gets": "count",
    "kv.sets": "count",
    "kv.deletes": "count",
    "kv.hit_ratio": "fraction",
    "kv.useless_delete_ratio": "fraction",
    "serving.read_one_us": "us",
    "serving.update_us": "us",
    "serving.create_us": "us",
    "serving.delete_us": "us",
    "serving.cycle_ms": "ms",
    "serving.cycle_events": "count",
    "serving.cycles": "count",
    "api.self_ms": "ms",
    "loadgen.cpu_s": "s",
    "jvm.gc_ms": "ms",
    "jvm.gc_count": "count",
}


def _checkout_ok(root: str) -> bool:
    return os.path.isfile(os.path.join(root, "cdc_cascade_spark", "streaming", "pipeline.py"))


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _stamp(args) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "loadavg_before": os.getloadavg(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not _checkout_ok(root):
        print("perfbench: run from the root of a checkout holding cdc_cascade_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import workloads  # after sys.path: it imports the program

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark, the JVM and Python's tempfile all write scratch files; keep
    # them inside the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # Every JVM the run starts (the launcher and the driver): no
    # hsperfdata files in /tmp, temp files in the checkout.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    stamp = _stamp(args)
    steal0, wall0 = cpu_steal_s(), time.monotonic()
    ctx = workloads.Context(args, work, os.path.join(root, ".perfbench_out"), HERE)
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        ctx.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    stamp.update(res.info)
    stamp["loadavg_after"] = os.getloadavg()
    # CPU time the hypervisor gave to other guests, as a share of this
    # machine's CPU time over the run. Above the limit the run measured
    # its neighbours as much as the program.
    steal = cpu_steal_s() - steal0
    stamp["cpu_steal_share"] = steal / ((time.monotonic() - wall0) * (os.cpu_count() or 1))
    stamp["valid"] = stamp.get("valid", True) and stamp["cpu_steal_share"] <= STEAL_LIMIT
    stamp["end_to_end"] = res.e2e
    stamp["per_layer"] = res.per_layer
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    values = res.per_layer if args.trace else res.e2e
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({"correct": res.failed == 0, "attempted": max(1, res.attempted),
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
