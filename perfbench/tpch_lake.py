"""``tpch_lake``: a TPC-H-shaped lake, queried and changed. Registry
queries run over its parquet files beside transactional DML on a
catalog loaded from the same tables.

Set-up generates the tables, compares every query of the mix with its
DuckDB oracle (which also runs each once before it is timed), loads
``orders``/``lineitem``/``customer`` into a TransactionalCatalog with
their constraints, and runs one untimed ``BEGIN…COMMIT`` block. A
measured round is then one pass over the query mix, each query into the
noop sink in an order the seed shuffles, followed by the fixed DML round
of :mod:`catalog_dml`. Rounds repeat until the run's seconds are spent;
one round takes longer than that on 4 cores, so a run measures one.

The queries read only the parquet files and the DML only the catalog,
so a write-path change should read "no change" on ``query_cpu_s`` and a
query-path change "no change" on the write, block and read costs.
"""

from __future__ import annotations

import os
import random
import time

import common
from analytic_queries import KERNELS, MIX, check_mix
from catalog_dml import ROUND, WARMUP, Runner, final_mismatches, prepare

SF = 0.01


def run(ctx):
    from gcp_datalake_pipeline_spark.plans import QUERIES
    from gcp_datalake_pipeline_spark.plans import etl_queries

    import tpch_gen

    spark, tracer = ctx.spark, ctx.tracer
    common.install_catalog_spans(tracer, {
        f"transactions.{m}_s": ("transactions", "TransactionalCatalog", m)
        for m in ("update_where", "delete_where")})

    data_dir = os.path.join(ctx.work, "data")
    t0 = time.perf_counter()
    tpch_gen.generate(data_dir, SF, ctx.seed)
    problems = check_mix(spark, data_dir)
    t1 = time.perf_counter()
    catalog, duck, stream = prepare(spark, ctx.work, data_dir, ctx.seed)
    t2 = time.perf_counter()
    common.log(f"generate+check {t1 - t0:.3f}s load {t2 - t1:.3f}s")
    runner = Runner(catalog, duck, tracer)
    for kind, target in WARMUP:
        rec = runner(stream.next(kind, target))
        common.log(f"warm-up {kind} {rec['s']:.3f}s")
    ctx.setup_done()

    win = runner.window = common.Window(catalog, tracer)
    rng = random.Random(ctx.seed)
    scratch = len(etl_queries._SCRATCH)

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    t_start, rounds = time.perf_counter(), 0
    while not rounds or time.perf_counter() - t_start < ctx.seconds:
        rounds += 1
        order = MIX[:]
        rng.shuffle(order)
        for name in order:
            try:
                rec, _ = win.query(name, lambda: QUERIES[name].fn(spark, data_dir), noop)
            except Exception as e:  # no query may raise
                runner.failed += 1
                problems.append(f"query {name} raised {e!r:.300}")
                continue
            common.log(f"query {name} {rec['s']:.3f}s app={rec['app_cpu']:.3f}s")
        for kind, target in ROUND:
            rec = runner(stream.next(kind, target))
            common.log(f"op {rec['label']} {rec['s']:.3f}s cpu={rec['cpu']:.3f}s "
                       f"app={rec['app_cpu']:.3f}s jit={rec['jit']:.3f}s jobs={rec['jobs']}")
    if len(etl_queries._SCRATCH) != scratch:
        problems.append("a mix query materialized a scratch catalog")

    problems += runner.problems + final_mismatches(catalog, duck)
    e2e, layer = win.metrics()
    recs = win.recs
    queries = [r for r in recs if "query" in r["roles"]]
    stmt_kinds = ("update", "delete", "insert", "merge")
    detail = {
        "query_mix_s": sum(r["s"] for r in queries) / rounds,
        "query_p50_s": common.p50([r["s"] for r in queries]),
        "query_p90_s": common.p90([r["s"] for r in queries]),
        "query.kernel_p50_s": common.p50([r["s"] for r in queries if r["label"] in KERNELS]),
        **{f"query.{n}_s": common.p50([r["s"] for r in queries if r["label"] == n])
           for n in MIX},
        "dml_stmt_p50_s": common.p50(win.times("write")),
        "txn_block_p50_s": common.p50(win.times("txn")),
        "point_read_p50_s": common.p50(win.times("read")),
        **{f"dml_sql.{k}_s": common.p50([r["s"] for r in recs if r["label"] == k])
           for k in stmt_kinds},
        "dml_sql.jobs_per_stmt": common.p50(
            [r["jobs"] for r in recs if r["label"] in stmt_kinds]),
        "dml_sql.refusals": sum(r["label"] == "refuse" for r in recs),
        **{f"transactions.{m}_s": (tracer.spans.get(f"transactions.{m}_s", 0.0)
                                   - win.spans0.get(f"transactions.{m}_s", 0.0)) / len(recs)
           for m in ("update_where", "delete_where")},
    }
    return problems, len(recs), runner.failed, e2e, layer, detail
