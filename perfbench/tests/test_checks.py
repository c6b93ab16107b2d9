"""The benchmark's own checks: the generators' models agree with the
engine, and each workload's correctness check rejects a wrong result.

    python -m pytest perfbench/tests -q
"""

import os
import re

import pytest

import catalog_dml
import common
import landing
import tpch_gen
from silver_ingest import counters_match, ingest_one


def test_rut_check_digits_match_fixture_ruts():
    assert landing.rut_dv(11111111) == "1"
    assert landing.rut_dv(12345678) == "5"
    assert landing.rut_dv(11111112) == "K"


def test_blocks_touch_each_table_at_most_once():
    stream = catalog_dml.Stream(7, list(range(100)), list(range(50)),
                                {k: 3 for k in range(100)})
    for _ in range(200):
        op = stream.next("block")
        tables = [re.match(r"(?:INSERT INTO|UPDATE|DELETE FROM) (\w+)", s).group(1)
                  for s in op.mirror]
        assert len(tables) == len(set(tables)), op.sql


@pytest.fixture(scope="module")
def ingested(spark, work):
    """A tiny landing stream ingested file by file."""
    from gcp_datalake_pipeline_spark.pipelines.runner import ingest
    from gcp_datalake_pipeline_spark.transactions import TransactionalCatalog

    gen = landing.Landing(os.path.join(work, "landing"), seed=3)
    catalog = TransactionalCatalog(spark, os.path.join(work, "silver"))
    counters = []
    for processor, n in [("empresa", 12), ("conductor", 12), ("vehiculo", 12),
                         ("empresa", 8), ("conductor", 10), ("vehiculo", 10)]:
        path, want = gen.file(processor, n)
        counters.append((ingest_one(ingest, catalog, path), want))
    return gen, catalog, counters


def test_landing_model_matches_ingest(ingested):
    gen, catalog, counters = ingested
    assert all(counters_match(got, want) for got, want in counters)
    expected = gen.expected()
    assert landing.compare(expected, landing.engine_rows(catalog)) == []
    # The model covers every Silver table the three pipelines write.
    assert set(landing.ENGINE_SQL) - set(expected) <= {
        "quarantine_empresa", "quarantine_conductor", "quarantine_vehiculo"}
    # ... and the reports over them.
    for column in landing.REPORT_COLUMNS:
        rows = catalog.spark.sql(landing.report_sql(column)).collect()
        assert sorted((tuple(r) for r in rows), key=repr) == gen.report(column)


def test_ingest_check_rejects_wrong_expected_count(ingested):
    gen, catalog, counters = ingested
    got, want = counters[0]
    assert not counters_match(got, {**want, "errorCount": want["errorCount"] + 1})
    expected = gen.expected()
    expected["conductor"] = expected["conductor"][1:]
    assert any(m.startswith("conductor:")
               for m in landing.compare(expected, landing.engine_rows(catalog)))


def test_query_check_rejects_perturbed_oracle_row(spark, work):
    from gcp_datalake_pipeline_spark.plans import QUERIES
    from gcp_datalake_pipeline_spark.plans.compare import duckdb_connection

    from analytic_queries import MIX, check_query, self_materializing

    assert self_materializing(MIX) == []
    assert self_materializing(["etl_merge_upsert_atomic"]) == ["etl_merge_upsert_atomic"]
    data = os.path.join(work, "tpch")
    tpch_gen.generate(data, 0.002, seed=5)
    con = duckdb_connection(data)
    oracle = QUERIES["q1_pricing_summary"].oracle
    assert check_query(spark, con, "q1_pricing_summary", data, oracle) is None
    perturbed = f"SELECT * REPLACE (count_order + 1 AS count_order) FROM ({oracle})"
    assert check_query(spark, con, "q1_pricing_summary", data, perturbed)


def test_dml_check_rejects_missing_refusal(spark, work):
    from gcp_datalake_pipeline_spark.transactions import CheckViolation

    data = os.path.join(work, "dml_data")
    tpch_gen.generate(data, 0.001, seed=9)
    catalog, duck, stream = catalog_dml.prepare(spark, os.path.join(work, "dml"), data, 9)
    runner = catalog_dml.Runner(catalog, duck, common.Tracer(spark, enabled=False))
    for kind, target in catalog_dml.CYCLE:
        runner(stream.next(kind, target))
    assert runner.problems == [] and runner.failed == 0
    assert catalog_dml.final_mismatches(catalog, duck) == []

    # A statement the engine accepts, wrongly expected to be refused.
    valid = stream.next("insert", "customer")
    runner(catalog_dml.Op("refuse", sql=valid.sql, refuse=True))
    assert any("expected a CheckViolation, got None" in p for p in runner.problems)
    # The engine refuses a duplicate key, which is what the stream expects.
    with pytest.raises(CheckViolation):
        from gcp_datalake_pipeline_spark.dml_sql import execute_dml
        execute_dml(catalog, stream.refuse_duplicate())
    # Any other operation that raises is a check failure too.
    runner.problems.clear()
    runner(catalog_dml.Op("update", sql="UPDATE no_such_table SET x = 1 WHERE y = 2"))
    assert runner.failed == 1 and runner.problems[0].startswith("unexpected ")
    # A write the engine made but the replay did not shows at the end.
    duck.execute("DELETE FROM customer WHERE c_custkey = 0")
    assert catalog_dml.final_mismatches(catalog, duck)
