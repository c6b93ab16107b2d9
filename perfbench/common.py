"""Shared harness: environment pinning, session start, timing, tracing
and the result line.

Every timing is taken from outside the engine: either around a public
call (``runner.ingest``, ``dml_sql.execute_dml``, a registry query's
DataFrame function and its noop write) or, in traced runs, by wrapping public
methods of the engine's classes for the life of the benchmark process.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def pin_environment(work: str) -> int:
    """Make the engine importable, pin Spark parallelism to the core
    count and keep every scratch write inside ``work``. Returns nproc."""
    nproc = len(os.sched_getaffinity(0))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # Python workers import engine modules by reference.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_SHUFFLE_PARTITIONS"] = str(nproc)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # spark-submit's launcher JVM: no hsperfdata file under /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    import tempfile

    tempfile.tempdir = tmp
    return nproc


def start_session(work: str):
    """SparkSession via the engine's factory, with warehouse and JVM temp
    dirs inside ``work``."""
    from gcp_datalake_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # No hsperfdata file: the JVM would write it under /tmp.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def canary(spark, reps: int = 3) -> float:
    """Fixed codegen-only sum (no I/O, no engine code): a host-speed
    reference, median of ``reps``."""
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(500_000_000).selectExpr("sum(id * 3 + 7)").collect()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def p50(xs) -> float:
    return statistics.median(xs)


def mean(xs) -> float:
    return statistics.fmean(xs)


def p90(xs) -> float:
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def disk_bytes(root: str) -> int:
    """Bytes on disk under ``root``, each hardlinked inode counted once."""
    seen, total = set(), 0
    for d, _, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(d, f))
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
    return total


def space_amp(catalog) -> float:
    """Catalog bytes on disk / bytes of the live snapshot's data files."""
    live = set()
    for t in catalog.tables():
        files, _ = catalog.pruned_files(t, [])
        live.update(files)
    live_bytes = sum(os.path.getsize(f) for f in live)
    return disk_bytes(catalog.root) / max(1, live_bytes)


class Tracer:
    """Per-layer spans and Spark job counts for traced runs.

    ``wrap(cls, method, name)`` times every call of a public method; a
    call nested inside another call of the same span name is not counted
    twice. ``group(label)`` runs an operation under a Spark job group and
    records the jobs, tasks and failed tasks it launched.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: dict[str, float] = defaultdict(float)
        self._depth: dict[str, int] = defaultdict(int)
        self._seq = 0
        self.jobs = self.tasks = self.failed_tasks = 0

    def wrap(self, cls, method: str, name: str, outer: str = "catalog") -> None:
        """Time ``cls.method`` as span ``name``; time spent inside any
        span of group ``outer`` also adds, once, to the span ``outer``."""
        if not self.enabled:
            return
        orig = getattr(cls, method)
        tracer = self

        def wrapped(*a, **kw):
            if tracer._depth[name]:
                return orig(*a, **kw)
            tracer._depth[name] += 1
            tracer._depth[outer] += 1
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                dt = time.perf_counter() - t0
                tracer.spans[name] += dt
                tracer._depth[name] -= 1
                tracer._depth[outer] -= 1
                if not tracer._depth[outer]:
                    tracer.spans[outer] += dt

        wrapped.__wrapped__ = orig
        setattr(cls, method, wrapped)

    @contextmanager
    def group(self, label: str):
        """Yields a dict that receives ``jobs``/``tasks``/``failed_tasks``."""
        info = {"jobs": 0, "tasks": 0, "failed_tasks": 0}
        if not self.enabled:
            yield info
            return
        self._seq += 1
        gid = f"perfbench-{self._seq}-{label}"
        sc = self.spark.sparkContext
        sc.setJobGroup(gid, label)
        try:
            yield info
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = sc.statusTracker()
            for jid in tracker.getJobIdsForGroup(gid):
                job = tracker.getJobInfo(jid)
                info["jobs"] += 1
                for sid in job.stageIds if job else []:
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        info["tasks"] += st.numTasks
                        info["failed_tasks"] += st.numFailedTasks
            self.jobs += info["jobs"]
            self.tasks += info["tasks"]
            self.failed_tasks += info["failed_tasks"]


# Spans wrapped around public catalog methods, reported as mean seconds
# per measured op: the commit path every workload enters.
CATALOG_SPANS = {
    "transactions.commit_s": ("transactions", "TransactionalCatalog", "commit"),
    "transactions.append_s": ("transactions", "TransactionalCatalog", "append"),
    "transactions.overwrite_s": ("transactions", "TransactionalCatalog", "overwrite"),
    "transactions.read_s": ("transactions", "TransactionalCatalog", "read"),
    "storage.merge_upsert_s": ("storage", "Catalog", "merge_upsert"),
}


def install_catalog_spans(tracer, extra: dict | None = None) -> None:
    import importlib

    for name, (mod, cls, method) in {**CATALOG_SPANS, **(extra or {})}.items():
        module = importlib.import_module(f"gcp_datalake_pipeline_spark.{mod}")
        tracer.wrap(getattr(module, cls), method, name)


# JVM threads whose CPU ``JvmClock.app_cpu`` leaves out (names as the
# kernel shows them, cut to 15 characters): the JIT compilers, the
# garbage collector and the JVM's and Spark's service threads, whose
# work runs behind or beside the operations rather than inside them.
BACKGROUND_THREADS = (
    "C1 CompilerThre", "C2 CompilerThre", "Sweeper thread",
    "GC Thread", "G1 ", "VM Thread", "VM Periodic Tas", "Service Thread",
    "Monitor Deflati", "Notification Th", "Common-Cleaner", "Cleaner-",
    "Finalizer", "Reference Handl", "Signal Dispatch", "process reaper",
    "driver-heartbea", "executor-heartb", "heartbeat-recei", "spark-listener-",
    "context-cleaner", "element-trackin", "executor-kill-m",
)


class JvmClock:
    """CPU clocks of the Spark JVM plus the benchmark's Python process.

    ``cpu`` counts every JVM thread, JIT compiler and GC threads included
    (JMX ``getProcessCpuTime``): the whole cost of an operation.
    ``app_cpu`` leaves out :data:`BACKGROUND_THREADS` (their ``/proc``
    run times): a short read right after a write would otherwise be
    charged the write's JIT and event-listener backlog. Both clocks only
    move forward: a background thread that ended keeps the run time last
    seen for it."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm, gw = sc._jvm, sc._gateway
        mf = jvm.java.lang.management.ManagementFactory
        self._os = mf.getOperatingSystemMXBean()
        self._process_cpu = jvm.java.lang.Class.forName(
            "com.sun.management.OperatingSystemMXBean").getMethod(
                "getProcessCpuTime", gw.new_array(jvm.java.lang.Class, 0))
        self._no_args = gw.new_array(jvm.java.lang.Object, 0)
        self._jit = mf.getCompilationMXBean()
        self._tasks = f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/task"
        self._background: dict[str, bool] = {}  # tid -> a background thread?
        self._background_ns: dict[str, int] = {}  # tid -> run time last seen

    def cpu(self) -> float:
        jvm_ns = self._process_cpu.invoke(self._os, self._no_args)
        return jvm_ns / 1e9 + time.process_time()

    def app_cpu(self) -> float:
        jvm_ns = self._process_cpu.invoke(self._os, self._no_args)
        for tid in os.listdir(self._tasks):
            try:
                if tid not in self._background:
                    with open(f"{self._tasks}/{tid}/comm") as f:
                        self._background[tid] = f.read().startswith(BACKGROUND_THREADS)
                if self._background[tid]:
                    with open(f"{self._tasks}/{tid}/schedstat") as f:
                        self._background_ns[tid] = int(f.read().split()[0])
            except OSError:  # the thread ended
                pass
        return (jvm_ns - sum(self._background_ns.values())) / 1e9 + time.process_time()

    def jit(self) -> float:
        return self._jit.getTotalCompilationTime() / 1e3


class Window:
    """The measured window of one run: op records plus the catalog and
    tracer state at its start. Each record has ``s`` (wall seconds),
    ``cpu``/``app_cpu``/``jit`` (see :class:`JvmClock`), ``roles`` (a
    subset of write/txn/read/query), ``jobs``, ``tasks`` and ``self_s``
    (wall time outside catalog spans; these need a traced run), for
    traced reads file pruning stats and for queries ``build``/``exec``
    (wall seconds building the DataFrame and running it)."""

    def __init__(self, catalog, tracer):
        self.catalog, self.tracer = catalog, tracer
        self.clock = JvmClock(catalog.spark)
        self.recs: list[dict] = []
        self.bytes0 = disk_bytes(catalog.root)
        self.versions0 = len(catalog.versions())
        self.spans0 = dict(tracer.spans)

    @contextmanager
    def op(self, label: str, roles: set):
        """Time one operation; yields its record."""
        rec = {"label": label, "roles": roles}
        before = self.tracer.spans.get("catalog", 0.0)
        with self.tracer.group(label) as jobs:
            c0, a0, j0 = self.clock.cpu(), self.clock.app_cpu(), self.clock.jit()
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["s"] = time.perf_counter() - t0
                rec["cpu"] = self.clock.cpu() - c0
                rec["app_cpu"] = self.clock.app_cpu() - a0
                rec["jit"] = self.clock.jit() - j0
        rec["jobs"], rec["tasks"] = jobs["jobs"], jobs["tasks"]
        rec["self_s"] = rec["s"] - (self.tracer.spans.get("catalog", 0.0) - before)
        self.recs.append(rec)

    def query(self, label: str, build, execute):
        """Time one query: ``build()`` returns its DataFrame and
        ``execute(df)`` runs it. Returns ``(record, execute's result)``."""
        with self.op(label, {"query"}) as rec:
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            out = execute(df)
            rec["build"], rec["exec"] = t1 - t0, time.perf_counter() - t1
        return rec, out

    def pruning(self, rec: dict, table: str, preds) -> None:
        if self.tracer.enabled:
            kept, total = self.catalog.pruned_files(table, preds)
            rec["kept"], rec["files"] = len(kept) / max(1, total), total

    def times(self, role: str, field: str = "s") -> list[float]:
        return [r[field] for r in self.recs if role in r["roles"]]

    def metrics(self) -> tuple[dict, dict]:
        """(end-to-end, per-layer) metrics shared by every workload.

        End-to-end costs are CPU seconds per operation (see
        :class:`JvmClock`; reads and queries use ``app_cpu``), averaged
        over the run's fixed operation mix: on a shared VM whose steal
        time swings by the minute, wall-clock times of the same work
        spread by 15-35% from run to run. Wall-clock medians are
        per-layer metrics."""
        recs, tracer = self.recs, self.tracer
        writes = [r for r in recs if r["roles"] & {"write", "txn"}]
        reads = [r for r in recs if "kept" in r]
        queries = [r for r in recs if "query" in r["roles"]]
        e2e = {
            "write_cpu_s": (mean(self.times("write", "cpu")), "s"),
            "txn_cpu_s": (mean(self.times("txn", "cpu")), "s"),
            "read_cpu_s": (mean(self.times("read", "app_cpu")), "s"),
            "query_cpu_s": (mean(self.times("query", "app_cpu")), "s"),
            "ops_per_cpu_s": (len(recs) / sum(r["cpu"] for r in recs), "1/s"),
            "space_amp": (space_amp(self.catalog), "ratio"),
        }
        layer = {
            "wall.write_p50_s": (p50(self.times("write")), "s"),
            "wall.txn_p50_s": (p50(self.times("txn")), "s"),
            "wall.read_p50_s": (p50(self.times("read")), "s"),
            "wall.query_p50_s": (p50(self.times("query")), "s"),
            "wall.ops_per_s": (len(recs) / sum(r["s"] for r in recs), "1/s"),
            "jvm.jit_s": (mean([r["jit"] for r in recs]), "s"),
            "frontend.self_s": (p50([r["self_s"] for r in writes]), "s"),
            "frontend.jobs_per_write": (p50([r["jobs"] for r in writes]), "count"),
            "plans.build_s": (p50([r["build"] for r in queries]), "s"),
            "plans.execute_s": (p50([r["exec"] for r in queries]), "s"),
            "plans.jobs_per_query": (p50([r["jobs"] for r in queries]), "count"),
            "plans.tasks_per_query": (p50([r["tasks"] for r in queries]), "count"),
            **{name: ((tracer.spans.get(name, 0.0) - self.spans0.get(name, 0.0))
                      / len(recs), "s") for name in CATALOG_SPANS},
            "transactions.commits": (len(self.catalog.versions()) - self.versions0, "count"),
            "transactions.bytes_written": (disk_bytes(self.catalog.root) - self.bytes0,
                                           "bytes"),
            "filestats.files_kept_ratio": (
                sum(r["kept"] for r in reads) / max(1, len(reads)), "ratio"),
            "filestats.files_total": (p50([r["files"] for r in reads] or [0]), "count"),
        }
        return e2e, layer


def result(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def log(*parts) -> None:
    print("#", *parts, file=sys.stderr, flush=True)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
