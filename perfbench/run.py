"""Benchmark entry point.

    python3 perfbench/run.py --workload silver_ingest --seed 1 --seconds 10 --trace 0

Runs one workload from the root of a source checkout and prints, as the
last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. For the workloads listed in
BENCHMARK.json the metric names are checked against its lists. Progress,
the workload's own breakdown (``# detail``) and, in traced runs, the
end-to-end numbers (``# e2e``) go to stderr. Exits non-zero, printing no
result, when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_PROCESS = time.perf_counter()

import common  # noqa: E402

WORKLOADS = ("silver_ingest", "tpch_lake")


class Context:
    def __init__(self, spark, tracer, seed, seconds, work):
        self.spark, self.tracer = spark, tracer
        self.seed, self.seconds, self.work = seed, seconds, work
        self.clock = common.JvmClock(spark)
        self.setup_s = self.setup_wall_s = None

    def setup_done(self) -> None:
        """Set-up ends: CPU seconds of the JVM (all threads, since its
        start) and of this process, and wall seconds since process start."""
        self.setup_s = self.clock.cpu()
        self.setup_wall_s = time.perf_counter() - T_PROCESS


def declared(workload: str, trace: int) -> list[str] | None:
    """Metric names BENCHMARK.json declares for this run, or None when
    the workload is not listed there."""
    path = os.path.join(common.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    if workload not in {w["name"] for w in spec["workloads"]}:
        return None
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    parent = os.path.join(common.ROOT, ".perfbench_work")
    work = common.fresh_dir(os.path.join(parent, f"{args.workload}-{os.getpid()}"))
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(parent):
            os.rmdir(parent)


def _run(args, work: str) -> int:
    nproc = common.pin_environment(work)
    try:
        import gcp_datalake_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not importable: {e}", file=sys.stderr)
        return 2
    common.log(f"SPARK_GRAFT_CPUS={os.environ['SPARK_GRAFT_CPUS']} "
               f"spark.sql.shuffle.partitions={os.environ['SPARK_SHUFFLE_PARTITIONS']} "
               f"nproc={nproc}")
    t0 = time.perf_counter()
    spark = common.start_session(work)
    session_s = time.perf_counter() - t0
    try:
        tracer = common.Tracer(spark, bool(args.trace))
        ctx = Context(spark, tracer, args.seed, args.seconds, work)
        workload = __import__(args.workload)
        problems, attempted, failed, e2e, layer, detail = workload.run(ctx)
        canary_s = common.canary(spark) if args.trace else None
    finally:
        common.stop_session(spark)
    e2e["setup_s"] = (ctx.setup_s, "s")
    for p in problems:
        common.log("CHECK FAILED:", p)
    common.log(f"setup_s={ctx.setup_s:.3f} wall.setup_s={ctx.setup_wall_s:.3f} "
               f"session.start_s={session_s:.3f} host.canary_s={canary_s}")
    common.log("detail " + json.dumps(detail))
    if args.trace:
        common.log("e2e " + json.dumps({k: v for k, (v, _) in e2e.items()}))
        metrics = {
            "session.start_s": (session_s, "s"),
            "wall.setup_s": (ctx.setup_wall_s, "s"),
            **layer,
            "spark.jobs": (tracer.jobs, "count"),
            "spark.tasks": (tracer.tasks, "count"),
            "spark.failed_tasks": (tracer.failed_tasks, "count"),
            "host.canary_s": (canary_s, "s"),
        }
    else:
        metrics = e2e
    names = declared(args.workload, args.trace)
    if names is not None and sorted(names) != sorted(metrics):
        print(f"perfbench: metrics {sorted(metrics)} do not match BENCHMARK.json "
              f"{sorted(names)}", file=sys.stderr)
        return 3
    print(common.result(not problems, attempted, failed, metrics), flush=True)
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
