"""The analytic query mix: registry queries over generated TPC-H-shaped
data, checked against their DuckDB oracles.

The mix loads ``plans``, Catalyst and the ``operators`` kernels and
bypasses ``pipelines``, ``transactions`` and ``dml_sql``. It holds no
self-materializing query: such a query builds a scratch catalog on its
first call and skips that work on repeat calls, so a warm pass would
time a different program than the first.
"""

from __future__ import annotations

import inspect

MIX = [
    "q1_pricing_summary", "q3_shipping_priority", "q18_large_volume_customers",
    "user_sessions", "etl_last_wins_dedup", "dedup_minhash_lsh", "doc_lang_id",
]
KERNELS = ["dedup_minhash_lsh", "doc_lang_id"]


def self_materializing(names) -> list[str]:
    """Mix queries that build a scratch catalog on first call and skip
    that work on repeat calls, so warm passes would time a different
    program than the first."""
    from gcp_datalake_pipeline_spark.plans import QUERIES

    return [n for n in names if "_scratch_root" in inspect.getsource(QUERIES[n].fn)]


def check_query(spark, con, name: str, sf_dir: str, oracle_sql: str) -> str | None:
    """None when the engine's result matches the DuckDB oracle."""
    from gcp_datalake_pipeline_spark.plans import QUERIES
    from gcp_datalake_pipeline_spark.plans.compare import compare_query

    r = compare_query(spark, con, name, QUERIES[name].fn(spark, sf_dir), oracle_sql)
    return None if r.ok else f"{name}: {r.detail[:300]}"


def check_mix(spark, data_dir: str) -> list[str]:
    """Problems with the mix: self-materializing queries and results that
    differ from their oracles. Runs every query once."""
    from gcp_datalake_pipeline_spark.plans import QUERIES
    from gcp_datalake_pipeline_spark.plans.compare import duckdb_connection

    problems = [f"{n} is self-materializing" for n in self_materializing(MIX)]
    con = duckdb_connection(data_dir)
    for name in MIX:
        bad = check_query(spark, con, name, data_dir, QUERIES[name].oracle)
        if bad:
            problems.append(bad)
    con.close()
    return problems
