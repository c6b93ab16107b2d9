"""``silver_ingest``: landing CSVs through ``pipelines.runner.ingest`` on a
TransactionalCatalog, one file per call (the paper's Function 2), each
followed by what a user of the Silver model does next.

Set-up ingests one earlier empresa batch of thousands of rows, so later
files find their carriers; it absorbs the JVM's warm-up and counts in
``setup_s``. A measured round then ingests one small vehiculo file (tens
of rows, like the per-upload files of the reference) with contents drawn
from the seed. After the file a user runs reports over the Silver
model: vehicles per model, untimed (the first report after a file pays
its plan's first-run cost, 30-60% more CPU), then per carrier, per type
and per brand (:func:`landing.report_sql`); then the user reads back
``READS_PER_FILE`` of the vehicles the file loaded.
Rounds repeat until the run's seconds are spent; one round takes longer
than that on 4 cores, so a run measures one.

The first file of each processor costs 15-20 s on 4 cores, so a run that
also timed a conductor file would not fit the benchmark's hour; runs
that alternated between the two by seed made every metric bimodal
(vehiculo files cost ~20% more CPU), so the processor is fixed.
"""

from __future__ import annotations

import os
import time

import common
from landing import (REPORT_COLUMNS, REPORT_TABLES, Landing, compare, engine_rows,
                     report_sql)

PRELOAD_ROWS = 2000
READS_PER_FILE = 10
# (processor, rows) of the file of one measured round.
ROUND = [("vehiculo", 40)]


def ingest_one(ingest, catalog, path: str) -> dict:
    out = ingest(catalog, [path])
    return next(iter(out.values()))


def counters_match(got: dict, want: dict) -> bool:
    """The file's rowCount/processedCount/errorCount equal the model's."""
    return {k: got.get(k) for k in want} == want


def run(ctx):
    from gcp_datalake_pipeline_spark.pipelines.runner import ingest
    from gcp_datalake_pipeline_spark.schemas import (
        CONDUCTOR_CSV_SCHEMA, EMPRESA_CSV_SCHEMA, VEHICULO_CSV_SCHEMA)
    from gcp_datalake_pipeline_spark.sources.csv_bronze import read_bronze_csv
    from gcp_datalake_pipeline_spark.transactions import TransactionalCatalog

    schemas = {"empresa": EMPRESA_CSV_SCHEMA, "conductor": CONDUCTOR_CSV_SCHEMA,
               "vehiculo": VEHICULO_CSV_SCHEMA}
    spark, tracer = ctx.spark, ctx.tracer
    common.install_catalog_spans(tracer)
    landing = Landing(os.path.join(ctx.work, "landing"), ctx.seed)
    catalog = TransactionalCatalog(spark, os.path.join(ctx.work, "lake"))
    problems: list[str] = []

    path, want = landing.empresa_file(PRELOAD_ROWS)
    t0 = time.perf_counter()
    got = ingest_one(ingest, catalog, path)
    preload_s = time.perf_counter() - t0
    if not counters_match(got, want):
        problems.append(f"preload counters {got} != {want}")
    ctx.setup_done()

    def report(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    def build_report(column):
        for t in REPORT_TABLES:
            catalog.read(t).createOrReplaceTempView(t)
        return spark.sql(report_sql(column))

    win, failed, files = common.Window(catalog, tracer), 0, []
    t_start = time.perf_counter()
    while not files or time.perf_counter() - t_start < ctx.seconds:
        for processor, n in ROUND:
            path, want = landing.file(processor, n)
            with win.op(processor, {"write", "txn"}) as rec:
                try:
                    got = ingest_one(ingest, catalog, path)
                except Exception as e:  # an ingest must never raise
                    problems.append(f"{os.path.basename(path)} raised {e!r:.300}")
                    failed += 1
                    got = want
            if not counters_match(got, want):
                problems.append(f"{os.path.basename(path)} counters {got} != {want}")
            rec["rows"] = n
            files.append(rec)
            common.log(f"file {processor} rows={n} {rec['s']:.3f}s cpu={rec['cpu']:.3f}s "
                       f"app={rec['app_cpu']:.3f}s jit={rec['jit']:.3f}s jobs={rec['jobs']}")
            # A user looks at reports over the Silver model ...
            first, *timed = REPORT_COLUMNS
            if report(build_report(first)) != landing.report(first):
                problems.append(f"report by {first} after {os.path.basename(path)}")
            for column in timed:
                q, rows = win.query(f"report_{column}", lambda: build_report(column), report)
                if rows != landing.report(column):
                    problems.append(f"report by {column} after {os.path.basename(path)}: "
                                    f"{rows[:3]}... != {landing.report(column)[:3]}...")
                common.log(f"report {column} {q['s']:.3f}s app={q['app_cpu']:.3f}s")
            # ... and reads back entities the file just loaded.
            table, col, keys = landing.last_keys
            for key in keys[:READS_PER_FILE]:
                preds = [(col, "=", key)]
                with win.op("read", {"read"}) as rd:
                    found = catalog.read(table, predicates=preds).count()
                if found != 1:
                    problems.append(f"read {table} {col}={key!r}: {found} rows, expected 1")
                win.pruning(rd, table, preds)
            if tracer.enabled:
                t0 = time.perf_counter()
                read_bronze_csv(spark, path, schemas[processor]).count()
                rec["read_bronze_s"] = time.perf_counter() - t0

    problems.extend(compare(landing.expected(), engine_rows(catalog)))
    e2e, layer = win.metrics()
    detail = {
        "ingest_rows_per_s": sum(f["rows"] for f in files) / sum(f["s"] for f in files),
        "sources.read_bronze_s": common.p50([f.get("read_bronze_s", 0.0) for f in files]),
        "pipelines.empresa_preload_s": preload_s,
        **{f"pipelines.{p}_s": common.p50([f["s"] for f in files if f["label"] == p])
           for p, _ in ROUND},
        "pipelines.self_s": common.p50([f["self_s"] for f in files]),
        "pipelines.jobs_per_file": common.p50([f["jobs"] for f in files]),
    }
    return problems, len(win.recs), failed, e2e, layer, detail
