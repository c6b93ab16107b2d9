"""Transactional DML on a TransactionalCatalog, with a DuckDB replay.

The catalog holds TPC-H-shaped ``orders``/``lineitem``/``customer``,
each loaded as several files, with UNIQUE keys on ``orders``/``customer``
and a FOREIGN KEY from ``lineitem`` to ``orders``. A seeded stream of
operations runs on it one at a time: selective reads and counts, single
DML statements, ``BEGIN…COMMIT`` blocks over distinct tables, and
statements the engine must refuse.

Every operation is mirrored on DuckDB over the same initial data, so
each read is checked against DuckDB as it happens, and the final
tables must hash-match DuckDB's at the end of the run.
"""

from __future__ import annotations

import os
import random

import common

LOAD_FILES = 3
# One measured round: (kind, target) of each op. Four reads (read +
# count), four single statements, two BEGIN…COMMIT blocks and one
# statement the engine must refuse. The interleaving and targets are
# fixed and the contents come from the seed, so runs with different
# seeds do the same mix of work. The blocks come after the statements,
# which warm the DML path they share.
ROUND = [
    ("update", "orders"), ("read", "orders"), ("insert", "lineitem"), ("count", "lineitem"),
    ("delete", "lineitem"), ("read", "lineitem"), ("merge", "customer"), ("count", "orders"),
    ("block", None), ("refuse", "duplicate"), ("block", None),
]
# A longer stream over every kind, target and refusal shape (the tests
# replay it).
CYCLE = ROUND + [
    ("read", "orders"), ("block", None), ("update", "customer"), ("read", "lineitem"),
    ("insert", "orders"), ("count", "customer"), ("delete", "customer"),
    ("read", "customer"), ("merge", "customer"), ("block", None),
    ("insert", "customer"), ("refuse", "orphan"), ("refuse", "restrict"),
]
# Unmeasured set-up op: the first statement pays the SQL front door's
# and the constraint probes' warm-up, several times a later one's. A
# block runs INSERT and UPDATE statements and the multi-table commit,
# so it warms all three; the first block costs ~1.5x a later one.
WARMUP = [("block", None)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
KEYS = {"orders": "o_orderkey", "lineitem": "l_orderkey", "customer": "c_custkey"}
COLUMNS = {
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                 "l_linestatus", "l_shipdate"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
}
TS_COLS = {"o_orderdate", "l_shipdate"}
INT_COLS = {"c_nationkey", "l_linenumber"}


def canon_sql(table: str, ts_fmt: str) -> str:
    """Projection shared by the engine (Spark SQL) and DuckDB: integers
    as BIGINT, timestamps as epoch microseconds via ``ts_fmt``."""
    return ", ".join(
        ts_fmt.format(c) if c in TS_COLS
        else f"CAST({c} AS BIGINT) AS {c}" if c in INT_COLS else c
        for c in COLUMNS[table])


class Op:
    def __init__(self, kind: str, sql: str | None = None, read=None,
                 mirror: list[str] | None = None, refuse: bool = False):
        self.kind, self.sql, self.read = kind, sql, read
        self.mirror = mirror or []  # DuckDB statements replaying the op
        self.refuse = refuse


class Stream:
    """Seeded op generator. Tracks the live key sets so it can emit
    statements that must succeed and statements that must be refused."""

    def __init__(self, seed: int, orders: list[int], customers: list[int],
                 lines: dict[int, int]):
        self.rng = random.Random(seed)
        self.orders = set(orders)
        self.customers = set(customers)
        self.lines = dict(lines)  # orderkey -> max linenumber
        self.next_order = max(orders) + 1
        self.next_cust = max(customers) + 1

    def _pick(self, keys: set) -> int:
        return self.rng.choice(sorted(keys))

    def _order_row(self, key: int) -> str:
        r = self.rng
        return (f"({key}, {self._pick(self.customers)}, '{r.choice('FOP')}', "
                f"{r.randrange(100_000, 50_000_000) / 100}, "
                f"TIMESTAMP '199{r.randrange(5, 9)}-0{r.randrange(1, 10)}-1{r.randrange(10)} 00:00:00', "
                f"'{r.choice(PRIORITIES)}')")

    def _line_row(self, okey: int, num: int) -> str:
        r = self.rng
        return (f"({okey}, {r.randrange(20_000)}, {r.randrange(1_000)}, {num}, "
                f"{float(r.randrange(1, 51))}, {r.randrange(90_000, 10_500_000) / 100}, "
                f"{r.randrange(11) / 100}, {r.randrange(9) / 100}, "
                f"'{r.choice('ANR')}', '{r.choice('FO')}', "
                f"TIMESTAMP '1997-0{r.randrange(1, 10)}-1{r.randrange(10)} 00:00:00')")

    def _cust_values(self, key: int) -> str:
        r = self.rng
        return (f"({key}, 'Customer#{key:09d}', {r.randrange(25)}, "
                f"{r.randrange(-99_999, 1_000_000) / 100}, '{r.choice(SEGMENTS)}')")

    # -- statements (each returns engine SQL, DuckDB SQL list) --------------

    def insert(self, table: str) -> tuple[str, list[str]]:
        n = self.rng.randint(1, 20)
        if table == "orders":
            keys = [self.next_order + i for i in range(n)]
            self.next_order += n
            self.orders.update(keys)
            rows = [self._order_row(k) for k in keys]
        elif table == "customer":
            keys = [self.next_cust + i for i in range(n)]
            self.next_cust += n
            self.customers.update(keys)
            rows = [self._cust_values(k) for k in keys]
        else:
            okey = self._pick(self.orders)
            start = self.lines.get(okey, 0)
            rows = [self._line_row(okey, start + i + 1) for i in range(n)]
            self.lines[okey] = start + n
        sql = f"INSERT INTO {table} VALUES " + ", ".join(rows)
        return sql, [sql]

    def update(self, table: str) -> tuple[str, list[str]]:
        r = self.rng
        if table == "orders":
            k = self._pick(self.orders)
            sql = (f"UPDATE orders SET o_orderpriority = '{r.choice(PRIORITIES)}', "
                   f"o_orderstatus = '{r.choice('FOP')}' WHERE o_orderkey = {k}")
        else:
            k = self._pick(self.customers)
            sql = (f"UPDATE customer SET c_acctbal = {r.randrange(-99_999, 1_000_000) / 100} "
                   f"WHERE c_custkey = {k}")
        return sql, [sql]

    def delete(self, table: str) -> tuple[str, list[str]]:
        """DELETE by a key range of 1-5 keys."""
        width = self.rng.randint(1, 5)
        if table == "lineitem":
            lo = self._pick(set(self.lines))
            sql = f"DELETE FROM lineitem WHERE l_orderkey >= {lo} AND l_orderkey < {lo + width}"
            for k in range(lo, lo + width):
                self.lines.pop(k, None)
        else:
            lo = self._pick(self.customers)
            sql = f"DELETE FROM customer WHERE c_custkey >= {lo} AND c_custkey < {lo + width}"
            self.customers.difference_update(range(lo, lo + width))
        return sql, [sql]

    def merge(self, table: str) -> tuple[str, list[str]]:
        """Classic upsert into customer: 1-3 existing keys, 0-3 new."""
        r = self.rng
        keys = {self._pick(self.customers) for _ in range(r.randint(1, 3))}
        new = [self.next_cust + i for i in range(r.randint(0, 3))]
        self.next_cust += len(new)
        keys = sorted(keys | set(new))
        self.customers.update(keys)
        vals = ", ".join(self._cust_values(k) for k in keys)
        cols = "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"
        src = (f"SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, "
               f"CAST(c_nationkey AS INT) AS c_nationkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal, "
               f"c_mktsegment FROM VALUES {vals} AS s({cols})")
        sql = f"MERGE INTO {table} USING ({src}) s ON c_custkey = c_custkey"
        key_list = ", ".join(map(str, keys))
        return sql, [f"DELETE FROM {table} WHERE c_custkey IN ({key_list})",
                     f"INSERT INTO {table} VALUES {vals}"]

    def block(self, _=None) -> tuple[str, list[str]]:
        """BEGIN…COMMIT over three distinct tables (the engine refuses two
        rewrites of one table in one block by design): a new order, its
        1-4 lines, and an update of one customer."""
        okey = self.next_order
        self.next_order += 1
        self.orders.add(okey)
        n = self.rng.randint(1, 4)
        self.lines[okey] = n
        k = self._pick(self.customers)
        stmts = [
            f"INSERT INTO orders VALUES {self._order_row(okey)}",
            "INSERT INTO lineitem VALUES "
            + ", ".join(self._line_row(okey, i + 1) for i in range(n)),
            f"UPDATE customer SET c_mktsegment = '{self.rng.choice(SEGMENTS)}' "
            f"WHERE c_custkey = {k}",
        ]
        return "BEGIN; " + "; ".join(stmts) + "; COMMIT", stmts

    def refuse_duplicate(self) -> str:
        """An INSERT that repeats an existing UNIQUE key."""
        return f"INSERT INTO orders VALUES {self._order_row(self._pick(self.orders))}"

    def refuse(self, shape: str) -> str:
        """A statement that violates a declared constraint."""
        if shape == "duplicate":
            return self.refuse_duplicate()
        if shape == "orphan":  # FK orphan on insert
            return f"INSERT INTO lineitem VALUES {self._line_row(self.next_order + 10_000, 1)}"
        # FK restrict: delete a parent that still has lines
        return f"DELETE FROM orders WHERE o_orderkey = {self._pick(set(self.lines))}"

    def read(self, table: str):
        """(table, predicates, DuckDB WHERE): a point read on orders, a
        range of 1-40 keys otherwise."""
        if table == "orders":
            k = self._pick(self.orders)
            return ("orders", [("o_orderkey", "=", k)], f"o_orderkey = {k}")
        key = KEYS[table]
        lo = self._pick(set(self.lines) if table == "lineitem" else self.customers)
        hi = lo + self.rng.randint(1, 40)
        return (table, [(key, ">=", lo), (key, "<", hi)], f"{key} >= {lo} AND {key} < {hi}")

    def next(self, kind: str, shape: str | None = None) -> Op:
        if kind in ("read", "count"):
            return Op(kind, read=self.read(shape))
        if kind == "refuse":
            return Op(kind, sql=self.refuse(shape), refuse=True)
        sql, mirror = getattr(self, kind)(shape)
        return Op(kind, sql=sql, mirror=mirror)


def load(catalog, spark, data_dir: str, duck) -> None:
    """Load the three tables as LOAD_FILES key-range files each, then
    declare the constraints. DuckDB mirrors the same rows."""
    from pyspark.sql import functions as F

    for table, key in KEYS.items():
        df = spark.read.parquet(os.path.join(data_dir, f"{table}.parquet"))
        hi = df.agg(F.max(key)).first()[0] + 1
        step = -(-hi // LOAD_FILES)
        for i in range(LOAD_FILES):
            part = df.where((F.col(key) >= i * step) & (F.col(key) < (i + 1) * step))
            catalog.append(part.coalesce(1), table)
        duck.execute(f"CREATE TABLE {table} AS SELECT * FROM "
                     f"'{os.path.join(data_dir, table + '.parquet')}'")
    catalog.add_unique_constraint("orders", "orders_pk", ["o_orderkey"])
    catalog.add_unique_constraint("customer", "customer_pk", ["c_custkey"])
    catalog.add_fk_constraint("lineitem", "lineitem_orders_fk", ["l_orderkey"],
                              "orders", ["o_orderkey"])


def table_hash(pdf) -> tuple[int, int]:
    """(rows, order-independent content hash) of a canonical frame."""
    import pandas as pd

    return len(pdf), int(pd.util.hash_pandas_object(pdf, index=False).sum())


def engine_hash(catalog, table: str) -> tuple[int, int]:
    catalog.read(table).createOrReplaceTempView(f"_h_{table}")
    ts = "unix_micros(CAST({0} AS TIMESTAMP)) AS {0}"
    return table_hash(catalog.spark.sql(
        f"SELECT {canon_sql(table, ts)} FROM _h_{table}").toPandas())


def duck_hash(duck, table: str) -> tuple[int, int]:
    ts = "epoch_us({0}) AS {0}"
    return table_hash(duck.execute(f"SELECT {canon_sql(table, ts)} FROM {table}").df())


ROLES = {"read": {"read"}, "count": {"read"}, "block": {"txn"}, "refuse": set(),
         **{k: {"write"} for k in ("update", "delete", "insert", "merge")}}


class Runner:
    """Executes ops on the engine, mirrors them on DuckDB and checks.
    Each op is timed in ``window``; set a fresh one to start measuring."""

    def __init__(self, catalog, duck, tracer):
        self.catalog, self.duck = catalog, duck
        self.window = common.Window(catalog, tracer)
        self.problems: list[str] = []
        self.failed = 0

    def __call__(self, op: Op) -> dict:
        from gcp_datalake_pipeline_spark.dml_sql import execute_dml
        from gcp_datalake_pipeline_spark.transactions import CheckViolation

        cat, err, got = self.catalog, None, None
        with self.window.op(op.kind, ROLES[op.kind]) as rec:
            try:
                if op.kind == "read":
                    got = cat.read(op.read[0], predicates=op.read[1]).count()
                elif op.kind == "count":
                    got = cat.count_rows(op.read[0], op.read[1])
                else:
                    execute_dml(cat, op.sql)
            except Exception as e:  # classified below
                err = e
        if op.refuse:
            if not isinstance(err, CheckViolation):
                self.problems.append(f"expected a CheckViolation, got {err!r:.200}: "
                                     f"{op.sql[:200]}")
            return rec
        if err is not None:  # no other operation may raise
            self.failed += 1
            self.problems.append(f"unexpected {type(err).__name__} in {op.kind}: "
                                 f"{str(err)[:300]}")
            return rec
        if op.read is not None:
            table, preds, where = op.read
            want = self.duck.execute(f"SELECT count(*) FROM {table} WHERE {where}").fetchone()[0]
            if got != want:
                self.problems.append(f"{op.kind} {table} {where}: {got} != duckdb {want}")
            self.window.pruning(rec, table, preds)
        for stmt in op.mirror:
            self.duck.execute(stmt)
        return rec


def prepare(spark, work: str, data_dir: str, seed: int):
    """Load the catalog and its DuckDB mirror from the TPC-H-shaped
    tables in ``data_dir`` and return ``(catalog, duck, stream)``."""
    import duckdb

    from gcp_datalake_pipeline_spark.transactions import TransactionalCatalog

    duck = duckdb.connect()
    catalog = TransactionalCatalog(spark, os.path.join(work, "lake"))
    load(catalog, spark, data_dir, duck)
    keys = {t: [r[0] for r in duck.execute(f"SELECT DISTINCT {k} FROM {t}").fetchall()]
            for t, k in KEYS.items()}
    lines = dict(duck.execute(
        "SELECT l_orderkey, max(l_linenumber) FROM lineitem GROUP BY 1").fetchall())
    return catalog, duck, Stream(seed, keys["orders"], keys["customer"], lines)


def final_mismatches(catalog, duck) -> list[str]:
    """Tables whose engine content differs from the DuckDB replay."""
    out = []
    for table in KEYS:
        e, d = engine_hash(catalog, table), duck_hash(duck, table)
        if e != d:
            out.append(f"final {table}: engine {e} != duckdb {d}")
    return out
