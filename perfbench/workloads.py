"""The three benchmark workloads: ``governed_read``, ``lake_commit`` and
``stream_ingest``.

Each is a closed loop with one client: the next operation is sent only
after the previous one completed. The program sees only generated SQL
strings and row batches, made from the run's seed. A workload builds its
lake in :meth:`Workload.setup` (timed, repeated), lists every operation
shape once for the cold pass, draws the steady mix from
:meth:`Workload.next_op` in seeded rounds, and checks results outside the
timed region.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import datagen


@dataclass
class Op:
    """One operation of a workload's mix.

    ``fn`` runs inside the timed region and returns the result; ``check``
    runs outside it and returns False for a wrong result (None defers the
    check to :meth:`Workload.finish`). ``expect`` names an exception type
    that is the correct outcome. ``latency_ms`` may replace the measured
    wall time with the program's own latency figure for the sample.
    """

    kind: str  # read | write | maint | trigger
    shape: str
    fn: Callable[[], Any]
    check: Callable[[Any], bool | None] = lambda result: True
    expect: type | None = None
    latency_ms: Callable[[Any], float] | None = None
    info: dict = field(default_factory=dict)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def rows_equal(got: list[tuple], want: list[tuple], ordered: bool) -> bool:
    """Row lists equal up to float rounding; unordered results compare
    sorted (floats rounded for the sort key only)."""
    if len(got) != len(want):
        return False
    if not ordered:
        def key(row):
            return tuple(
                (0, round(v, 4)) if isinstance(v, float) else (1, str(v)) for v in row
            )
        got, want = sorted(got, key=key), sorted(want, key=key)
    return all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


def fetch(tracer, df) -> list[tuple]:
    """Fetch every result row (the end of a read's latency)."""
    with tracer.span("spark.fetch"):
        return [tuple(r) for r in df.collect()]


def table_age(dirs: list[str]) -> dict[str, float]:
    """Table-age and space counters over ``dirs``. A directory holding
    ``_manifest.json`` is a manifest table: its live files are the ones
    the current snapshot names. Outside manifest tables every parquet
    file is live."""
    out = dict.fromkeys(
        ("live_files", "live_bytes", "disk_bytes", "manifest_bytes",
         "snapshots_retained"), 0.0,
    )
    for top in dirs:
        manifest_roots: list[str] = []
        for root, _, files in os.walk(top):
            if "_manifest.json" in files:
                manifest_roots.append(root)
            inside = any(root == m or root.startswith(m + os.sep) for m in manifest_roots)
            for f in files:
                size = os.path.getsize(os.path.join(root, f))
                out["disk_bytes"] += size
                if not inside and f.endswith(".parquet"):
                    out["live_files"] += 1
                    out["live_bytes"] += size
            if "_manifest.json" not in files:
                continue
            pointer = os.path.join(root, "_manifest.json")
            with open(pointer, encoding="utf-8") as fh:
                snap = json.load(fh)
            for rel in snap["files"]:
                out["live_files"] += 1
                out["live_bytes"] += os.path.getsize(os.path.join(root, rel))
            mdir = os.path.join(root, "_manifests")
            names = os.listdir(mdir) if os.path.isdir(mdir) else []
            snaps = [n for n in names if n.startswith("v") and n.endswith(".json")]
            out["snapshots_retained"] += len(snaps)
            out["manifest_bytes"] += os.path.getsize(pointer) + sum(
                os.path.getsize(os.path.join(mdir, n)) for n in snaps
            )
    out["space_amp"] = out["disk_bytes"] / out["live_bytes"] if out["live_bytes"] else 0.0
    return out


def data_files(dirs: list[str]) -> dict[str, int]:
    """Every parquet file under ``dirs`` with its size."""
    out = {}
    for top in dirs:
        for root, _, files in os.walk(top):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.path.getsize(p)
    return out


class Workload:
    name = ""
    primary = ""  # the op kind whose latency is op_p50_ms / op_tail_ms
    warm_rounds = 0  # unmeasured rounds of the steady mix after the cold pass

    def __init__(self, spark, work: str, seed: int, small: bool, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.small = small
        self.tracer = tracer
        self.rng = random.Random(seed)
        self._round: list = []

    def next_in_round(self, items: list):
        """The next of ``items`` in a seeded shuffle that is redrawn each
        round, so the steady mix of every run holds each shape equally
        often (a random draw per operation made the median depend on the
        draw's composition)."""
        if not self._round:
            self._round = list(items)
            self.rng.shuffle(self._round)
        return self._round.pop()

    def round_complete(self) -> bool:
        """True between rounds of the steady mix."""
        return not self._round

    def prepare(self) -> None:
        """Generate the inputs (untimed)."""

    def setup(self, root: str) -> None:
        raise NotImplementedError

    def discard(self, root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)

    def shapes(self):
        """One operation of every shape: the cold pass."""
        raise NotImplementedError

    def next_op(self) -> Op:
        raise NotImplementedError

    def finish(self) -> list[str]:
        """End-of-run checks; returns one message per failed check."""
        return []

    def table_dirs(self) -> list[str]:
        raise NotImplementedError

    def extra_report(self) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass


# ================================================================ governed_read
# Partition columns whose values need no Hive path escaping: the engine
# refuses DELETE/UPDATE on partitions whose values it would have to escape
# (a typed ValueError), e.g. TPC-H's '4-NOT SPECIFIED' or 'REG AIR'.
TPCH_PARTITIONS = {"orders": ["o_orderstatus"], "lineitem": ["l_returnflag"]}
# TPC-H scale of the seeded tables, in units of sf0.001: sf0.1.
TPCH_UNITS = 100
ANALYST_CUSTOMER_COLS = ("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
ANALYST_CUSTOMER_FILTER = "c_nationkey < 15"
ANALYST_ORDERS_FILTER = "o_orderpriority <> '5-LOW'"


# The reference's five validation queries (shape, principal, SQL template,
# ordered result); the sixth reference check, an ungranted principal's
# denial, is GovernedRead._deny.
VALIDATION = (
    ("validate_admin_rows", "dataadmin",
     "SELECT * FROM {sales} ORDER BY sales_region, customer_id LIMIT 10", True),
    ("validate_admin_counts", "dataadmin",
     "SELECT sales_region, COUNT(*) AS count FROM {sales} "
     "GROUP BY sales_region ORDER BY sales_region", True),
    ("validate_analyst_rows", "analyst",
     "SELECT * FROM {sales} ORDER BY customer_id LIMIT 10", True),
    ("validate_analyst_masked", "analyst",
     "SELECT * FROM {sales_masked} ORDER BY customer_id LIMIT 10", True),
    ("validate_analyst_counts", "analyst",
     "SELECT sales_region, COUNT(*) AS count FROM {sales} "
     "GROUP BY sales_region ORDER BY sales_region", True),
)


class GovernedRead(Workload):
    """Governed SELECTs over TPC-H-shaped manifest tables and the
    reference's sales fixture, as an admin and as row/column-filtered
    analysts. Makes no commits."""

    name = "governed_read"
    primary = "read"
    # after the cold pass, round times still fall for about 10 s (2.55,
    # 2.38, 2.27 s, then ~2.0 s) as the JVM compiles the hot paths
    warm_rounds = 2

    def prepare(self) -> None:
        import duckdb

        units = 5 if self.small else TPCH_UNITS
        self.src = datagen.write_parquet(
            datagen.tpch_tables(self.seed, units), os.path.join(self.work, "src")
        )
        n_orders = datagen.ORDERS_PER_UNIT * units
        self.lookup_key = self.rng.randrange(1, n_orders + 1)
        self.as_of_status = self.rng.choice(["F", "O", "P"])
        self.duck = duckdb.connect()
        self.duck.execute("SET threads = 2")
        for t, p in self.src.items():
            self.duck.execute(
                f"CREATE VIEW ops_{t} AS SELECT * FROM read_parquet('{p}')"
            )
            self.duck.execute(f"CREATE VIEW analyst_{t} AS SELECT * FROM ops_{t}")
        self.duck.execute(
            "CREATE OR REPLACE VIEW analyst_customer AS SELECT "
            f"{', '.join(ANALYST_CUSTOMER_COLS)} FROM ops_customer "
            f"WHERE {ANALYST_CUSTOMER_FILTER}"
        )
        self.duck.execute(
            "CREATE OR REPLACE VIEW analyst_orders AS SELECT * FROM ops_orders "
            f"WHERE {ANALYST_ORDERS_FILTER}"
        )
        self.results: list[tuple[str, str, str, bool, list]] = []

    def setup(self, root: str) -> None:
        from tf_aws_lakeformation_governed_datalake_demo_spark import (
            Engine, SELECT, DataCellsFilter, TableDef,
        )
        from tf_aws_lakeformation_governed_datalake_demo_spark import fixtures as fx
        from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake as lk

        spark = self.spark
        self.lake = os.path.join(root, "lake")
        cat = fx.bootstrap(spark, self.lake)
        cat.set_admins(["ops"])
        cat.create_database("tpch", "TPC-H-shaped tables")
        for t, p in self.src.items():
            df = spark.read.parquet(p)
            if t == "orders":
                # key-clustered files, so a point lookup prunes by file stats
                df = df.repartitionByRange(4, "o_orderkey")
            pk = TPCH_PARTITIONS.get(t)
            loc = os.path.join(self.lake, t)
            lk.publish_overwrite(spark, loc, df, pk, manifest=True)
            cat.register_table(
                TableDef("tpch", t, loc, schema=df.schema, partition_keys=tuple(pk or ()))
            )
            if t not in ("customer", "orders"):
                cat.grant("analyst", SELECT, "tpch", t)
        cat.tag_columns("tpch.customer", ["c_phone", "c_acctbal"], fx.PII_TAG, "sensitive")
        cat.create_data_cells_filter(DataCellsFilter(
            name="analyst-customer-filter", database="tpch", table="customer",
            columns=ANALYST_CUSTOMER_COLS, row_filter=ANALYST_CUSTOMER_FILTER,
        ))
        cat.create_data_cells_filter(DataCellsFilter(
            name="analyst-orders-filter", database="tpch", table="orders",
            row_filter=ANALYST_ORDERS_FILTER,
        ))
        cat.grant("analyst", SELECT, "tpch", "customer", via_filter="analyst-customer-filter")
        cat.grant("analyst", SELECT, "tpch", "orders", via_filter="analyst-orders-filter")
        self.engine = Engine(spark, cat)

    def table_dirs(self) -> list[str]:
        return [os.path.join(self.lake, t) for t in [*self.src, "sales"]]

    # ---------------------------------------------------------------- shapes
    def _query(self, shape: str, principal: str, template: str, ordered: bool) -> Op:
        names = {t: f"tpch.{t}" for t in self.src}
        names.update(sales="sales_db.sales", sales_masked="sales_db.sales_masked",
                     orders_v1="tpch.orders FOR VERSION AS OF 1")
        spark_sql = template.format(**names)
        side = "analyst" if principal == "analyst" else "ops"
        duck = {t: f"{side}_{t}" for t in self.src}
        duck.update(
            sales="analyst_sales" if principal == "analyst" else "sales",
            sales_masked="analyst_sales_masked", orders_v1=f"{side}_orders",
        )
        duck_sql = template.format(**duck)
        eng = self.engine

        def run():
            return fetch(self.tracer, eng.sql(spark_sql, principal))

        def check(rows):
            self.results.append((spark_sql, principal, duck_sql, ordered, rows))
            return None

        return Op("read", shape, run, check)

    def _deny(self) -> Op:
        from tf_aws_lakeformation_governed_datalake_demo_spark import PermissionDeniedError

        eng = self.engine
        sql = "SELECT * FROM sales_db.sales LIMIT 5"
        return Op("read", "validate_deny", lambda: fetch(self.tracer, eng.sql(sql, "guest")),
                  lambda rows: False, expect=PermissionDeniedError)

    def _tpch(self, shape: str, principal: str) -> Op:
        # Literals are drawn once per run and shape, so every round repeats
        # the same statements (as admin and as analyst): the cold pass
        # plans and compiles each of them, and the steady phase measures a
        # warm session. Literals drawn per operation kept Spark generating
        # and compiling new code for ten rounds and more.
        r = random.Random(f"{self.seed}/{shape}")
        if shape == "q1":
            d = dt.date(1998, 12, 1) - dt.timedelta(days=r.choice([60, 80, 100, 120]))
            sql = (
                "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
                "sum(l_extendedprice) AS sum_base_price, "
                "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
                "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, "
                "avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc, "
                "count(*) AS count_order FROM {lineitem} "
                f"WHERE l_shipdate <= DATE '{d}' "
                "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
            )
        elif shape == "q3":
            seg = r.choice(datagen.SEGMENTS)
            d = dt.date(1995, 3, r.choice([10, 20]))
            sql = (
                "SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue, "
                "o_orderdate, o_shippriority FROM {customer} "
                "JOIN {orders} ON c_custkey = o_custkey "
                "JOIN {lineitem} ON l_orderkey = o_orderkey "
                f"WHERE c_mktsegment = '{seg}' AND o_orderdate < DATE '{d}' "
                f"AND l_shipdate > DATE '{d}' "
                "GROUP BY l_orderkey, o_orderdate, o_shippriority "
                "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
            )
        elif shape == "q5":
            region = r.choice(datagen.REGIONS)
            y = r.choice([1994, 1995])
            sql = (
                "SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue "
                "FROM {customer} JOIN {orders} ON c_custkey = o_custkey "
                "JOIN {lineitem} ON l_orderkey = o_orderkey "
                "JOIN {supplier} ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
                "JOIN {nation} ON s_nationkey = n_nationkey "
                "JOIN {region} ON n_regionkey = r_regionkey "
                f"WHERE r_name = '{region}' AND o_orderdate >= DATE '{y}-01-01' "
                f"AND o_orderdate < DATE '{y + 1}-01-01' "
                "GROUP BY n_name ORDER BY revenue DESC, n_name"
            )
        else:  # q6
            y = r.choice([1994, 1995, 1996])
            disc = r.choice([0.04, 0.06])
            qty = r.choice([24, 25])
            sql = (
                "SELECT sum(l_extendedprice * l_discount) AS revenue FROM {lineitem} "
                f"WHERE l_shipdate >= DATE '{y}-01-01' AND l_shipdate < DATE '{y + 1}-01-01' "
                f"AND l_discount BETWEEN {disc - 0.01:.2f} AND {disc + 0.01:.2f} "
                f"AND l_quantity < {qty}"
            )
        return self._query(f"{shape}_{principal}", principal, sql, True)

    def _lookup(self) -> Op:
        k = self.lookup_key
        return self._query(
            "point_lookup", "ops",
            "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderpriority "
            f"FROM {{orders}} WHERE o_orderkey = {k}", False,
        )

    def _as_of(self) -> Op:
        status = self.as_of_status
        return self._query(
            "version_as_of", "analyst",
            "SELECT o_orderpriority, count(*) AS n FROM {orders_v1} "
            f"WHERE o_orderstatus = '{status}' GROUP BY o_orderpriority "
            "ORDER BY o_orderpriority", True,
        )

    def _count(self) -> Op:
        return self._query("metadata_count", "ops", "SELECT count(*) AS n FROM {lineitem}", False)

    def _makers(self) -> list[Callable[[], Op]]:
        makers: list[Callable[[], Op]] = [
            (lambda v=v: self._query(*v)) for v in VALIDATION
        ]
        makers.append(self._deny)
        for shape in ("q1", "q3", "q5", "q6"):
            for principal in ("ops", "analyst"):
                makers.append(lambda s=shape, p=principal: self._tpch(s, p))
        makers += [self._lookup, self._as_of, self._count]
        return makers

    def shapes(self) -> list[Op]:
        return [make() for make in self._makers()]

    def next_op(self) -> Op:
        return self.next_in_round(self._makers())()

    def finish(self) -> list[str]:
        from tf_aws_lakeformation_governed_datalake_demo_spark import fixtures as fx

        sales = os.path.join(self.lake, "sales")
        self.duck.execute(
            f"CREATE VIEW sales AS SELECT * FROM read_parquet('{sales}/*.parquet')"
        )
        self.duck.execute(
            "CREATE VIEW analyst_sales AS SELECT "
            f"{', '.join(fx.ANALYST_COLUMNS)} FROM sales WHERE sales_region = 'APAC'"
        )
        self.duck.execute(
            "CREATE VIEW analyst_sales_masked AS SELECT customer_id, "
            "customer_name, regexp_replace(customer_email, '^([^@]{1,3}).*@', "
            "'***@') AS customer_email, regexp_replace(ssn, '[0-9]', '*', 'g') "
            "AS ssn, sales_region, sales_amount, sale_date FROM sales "
            "WHERE sales_region = 'APAC'"
        )
        failures = []
        expected: dict[str, list] = {}
        for spark_sql, principal, duck_sql, ordered, rows in self.results:
            if duck_sql not in expected:
                expected[duck_sql] = [tuple(r) for r in self.duck.execute(duck_sql).fetchall()]
            if not rows_equal(rows, expected[duck_sql], ordered):
                failures.append(f"{principal}: {spark_sql}")
        empty = {s for s, _, d, _, _ in self.results if not expected[d]}
        failures += [f"oracle result is empty: {s}" for s in sorted(empty)]
        return failures

    def close(self) -> None:
        self.duck.close()


# ================================================================ lake_commit
# one OPTIMIZE + VACUUM cycle per round of the five write shapes, so every
# cycle (and its space sample) follows the same mix of writes
MAINTENANCE_EVERY = 5
ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority", "o_shippriority")
LINE_COLS = ("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity",
             "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
             "l_linestatus", "l_shipdate", "l_shipmode")
# positions of the partition values in generated order / lineitem rows
ORDER_PART = ORDER_COLS.index(TPCH_PARTITIONS["orders"][0])
LINE_PART = LINE_COLS.index(TPCH_PARTITIONS["lineitem"][0])
ORDER_PARTS = ("F", "O", "P")  # o_orderstatus values
LINE_PARTS = ("A", "N", "R")  # l_returnflag values
# the DELETE's absent key lies this far beyond every key the run writes
ABSENT_KEY_OFFSET = 10**9


class LakeCommit(Workload):
    """Governed INSERT/MERGE/UPDATE/DELETE and a two-table lake transaction
    on manifest tables, each followed by a governed read-back, with
    OPTIMIZE + VACUUM after every round of the five write shapes. A
    pure-Python model of the rows checks every read-back and reported DML
    count."""

    name = "lake_commit"
    primary = "write"

    def prepare(self) -> None:
        units = 1 if self.small else TPCH_UNITS
        tables = datagen.tpch_tables(self.seed, units)
        self.src = datagen.write_parquet(
            {t: tables[t] for t in ("orders", "lineitem")}, os.path.join(self.work, "src")
        )
        o = tables["orders"].to_pydict()
        li = tables["lineitem"].to_pydict()
        self.base_orders = {
            k: [p, price]
            for k, p, price in zip(o["o_orderkey"], o[ORDER_COLS[ORDER_PART]], o["o_totalprice"])
        }
        self.base_lines: dict[str, int] = {}
        for m in li[LINE_COLS[LINE_PART]]:
            self.base_lines[m] = self.base_lines.get(m, 0) + 1
        self.n_cust = 150 * units
        self.queue: list[Op] = []
        self.writes = 0
        self.turn = 0
        self.cycles = 0
        self.space_samples: list[float] = []

    def setup(self, root: str) -> None:
        from tf_aws_lakeformation_governed_datalake_demo_spark import (
            Engine, GovernedCatalog, TableDef,
        )
        from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake as lk

        spark = self.spark
        self.lake = os.path.join(root, "lake")
        cat = GovernedCatalog(spark, lake_root=self.lake)
        cat.create_database("lake", "commit workload")
        cat.set_admins(["ops"])
        self.schemas = {}
        for t, p in self.src.items():
            df = spark.read.parquet(p)
            if t == "orders":
                df = df.repartitionByRange(4, "o_orderkey")
            pk = TPCH_PARTITIONS[t]
            loc = os.path.join(self.lake, t)
            lk.publish_overwrite(spark, loc, df, pk, manifest=True)
            cat.register_table(TableDef("lake", t, loc, schema=df.schema, partition_keys=tuple(pk)))
            self.schemas[t] = df.schema
        self.engine = Engine(spark, cat)
        # the model starts from the generated rows
        self.orders = {k: list(v) for k, v in self.base_orders.items()}
        self.lines = dict(self.base_lines)
        self.next_key = max(self.orders) + 1

    def table_dirs(self) -> list[str]:
        return [os.path.join(self.lake, t) for t in self.src] + [
            os.path.join(self.lake, "_txlog")
        ]

    # ------------------------------------------------------------- helpers
    def _sql(self, sql: str) -> list[tuple]:
        return fetch(self.tracer, self.engine.sql(sql, "ops"))

    def _parts(self, n: int) -> list[str]:
        """The next ``n`` partition values in rotation. Every write touches
        a fixed number of distinct partitions, so the files it rewrites,
        and the space the table ages into, do not depend on the draw."""
        start = self.turn
        self.turn += n
        return [ORDER_PARTS[(start + i) % len(ORDER_PARTS)] for i in range(n)]

    def _new_order(self, key: int, part: str) -> tuple:
        r = self.rng
        day = datagen.EPOCH + dt.timedelta(days=r.randrange(datagen.DAYS - 151))
        return (key, r.randint(1, self.n_cust), part,
                round(r.uniform(900.0, 450000.0), 2), day,
                r.choice(datagen.PRIORITIES), 0)

    @staticmethod
    def _values(rows: list[tuple]) -> str:
        def lit(v):
            if isinstance(v, str):
                return f"'{v}'"
            if isinstance(v, dt.date):
                return f"DATE '{v}'"
            if isinstance(v, float):
                return f"CAST({v!r} AS DOUBLE)"
            return f"CAST({v} AS BIGINT)"
        return ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)

    def _live_keys(self, parts: list[str]) -> list[int]:
        """One live key in each of ``parts``, drawn by rejection: the keys
        are 1 .. next_key - 1 less the few deleted ones, so a draw takes
        about as many tries as there are partitions."""
        keys = []
        for p in parts:
            while True:
                k = self.rng.randrange(1, self.next_key)
                v = self.orders.get(k)
                if v is not None and v[0] == p:
                    keys.append(k)
                    break
        return keys

    def _readback(self, keys: list[int]) -> Op:
        sql = (
            f"SELECT o_orderkey, {ORDER_COLS[ORDER_PART]}, o_totalprice FROM lake.orders "
            f"WHERE o_orderkey IN ({', '.join(map(str, sorted(keys)))})"
        )

        def check(rows):
            want = [(k, *self.orders[k]) for k in keys if k in self.orders]
            return rows_equal(rows, want, ordered=False)

        return Op("read", "readback_orders", lambda: self._sql(sql), check)

    # --------------------------------------------------------------- writes
    def _dml(self, shape: str, sql: str, counts: tuple, apply: Callable[[], None]) -> Op:
        """A mutation statement whose one-row result must start with
        ``counts``; the model changes only once the result is right."""
        def check(res):
            if len(res) != 1 or tuple(res[0][: len(counts)]) != counts:
                return False
            apply()
            self._sample_space()
            return True

        return Op("write", shape, lambda: self._sql(sql), check)

    def _sample_space(self) -> None:
        """Space amplification after a write (outside the timed region).
        The run reports the median over all writes: a time-bounded run
        ends at a different point of the maintenance cycle each time, and
        a cycle's samples follow the same mix of writes."""
        self.space_samples.append(table_age(self.table_dirs())["space_amp"])

    def _put(self, rows: list[tuple]) -> None:
        for row in rows:
            self.orders[row[0]] = [row[ORDER_PART], row[3]]

    def _insert(self) -> list[Op]:
        rows = [self._new_order(self.next_key + i, p) for i, p in enumerate(ORDER_PARTS)]
        self.next_key += len(rows)
        sql = (f"INSERT INTO lake.orders ({', '.join(ORDER_COLS)}) "
               f"VALUES {self._values(rows)}")
        return [self._dml("insert", sql, (3,), lambda: self._put(rows)),
                self._readback([row[0] for row in rows])]

    def _merge(self) -> list[Op]:
        parts = self._parts(2)
        # matched keys keep their partition and change the price; the new
        # rows land in the same two partitions
        rows = [self._new_order(k, p) for k, p in zip(self._live_keys(parts), parts)]
        rows += [self._new_order(self.next_key + i, p) for i, p in enumerate(parts)]
        self.next_key += 2
        sql = (
            "MERGE INTO lake.orders AS t USING (SELECT * FROM VALUES "
            f"{self._values(rows)} AS s({', '.join(ORDER_COLS)})) AS s "
            "ON t.o_orderkey = s.o_orderkey "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        return [self._dml("merge", sql, (2, 2), lambda: self._put(rows)),
                self._readback([row[0] for row in rows])]

    def _update(self) -> list[Op]:
        lo = self.rng.randrange(1, self.next_key)
        keys = [k for k in range(lo, lo + 10) if k in self.orders]
        sql = ("UPDATE lake.orders SET o_totalprice = o_totalprice + 1.5 "
               f"WHERE o_orderkey BETWEEN {lo} AND {lo + 9}")

        def apply():
            for k in keys:
                self.orders[k][1] += 1.5

        return [self._dml("update", sql, (len(keys),), apply), self._readback(keys)]

    def _delete(self) -> list[Op]:
        # two live keys and one that was never written
        keys = self._live_keys(self._parts(2)) + [self.next_key + ABSENT_KEY_OFFSET]
        sql = f"DELETE FROM lake.orders WHERE o_orderkey IN ({', '.join(map(str, keys))})"
        live = {k for k in keys if k in self.orders}

        def apply():
            for k in live:
                del self.orders[k]

        return [self._dml("delete", sql, (len(live),), apply), self._readback(keys)]

    def _transaction(self) -> list[Op]:
        key = self.next_key
        self.next_key += 1
        order = self._new_order(key, self._parts(1)[0])
        r = self.rng
        # two lines, in the lineitem partitions of the rotation
        flags = [LINE_PARTS[(self.turn + i) % len(LINE_PARTS)] for i in range(2)]
        lines = [
            (key, i + 1, r.randint(1, 50), float(r.randint(1, 50)),
             round(r.uniform(900.0, 90000.0), 2), r.choice([0.0, 0.05, 0.1]),
             r.choice([0.0, 0.04, 0.08]), flag, r.choice("FO"),
             order[4] + dt.timedelta(days=r.randint(1, 121)), r.choice(datagen.SHIPMODES))
            for i, flag in enumerate(flags)
        ]
        spark, eng, schemas = self.spark, self.engine, self.schemas

        def writer(stage):
            stage.append("lake.orders", spark.createDataFrame([order], schemas["orders"]))
            stage.append("lake.lineitem", spark.createDataFrame(lines, schemas["lineitem"]))

        def check(res):
            if set(res.get("versions", {})) != {"lake.orders", "lake.lineitem"}:
                return False
            self.orders[key] = [order[ORDER_PART], order[3]]
            for line in lines:
                self.lines[line[LINE_PART]] = self.lines.get(line[LINE_PART], 0) + 1
            self._sample_space()
            return True

        sql = f"SELECT count(*) AS n FROM lake.lineitem WHERE l_orderkey = {key}"
        count = Op("read", "readback_lineitem", lambda: self._sql(sql),
                   lambda rows: rows == [(len(lines),)])
        return [
            Op("write", "transaction",
               lambda: eng.lake_transaction(["lake.orders", "lake.lineitem"], writer, "ops"),
               check),
            self._readback([key]),
            count,
        ]

    def _partition_counts(self, table: str) -> Op:
        col = TPCH_PARTITIONS[table][0]
        sql = f"SELECT {col}, count(*) AS n FROM lake.{table} GROUP BY {col}"

        def check(rows):
            if table == "orders":
                want: dict[str, int] = {}
                for p, _ in self.orders.values():
                    want[p] = want.get(p, 0) + 1
            else:
                want = self.lines
            return sorted(rows) == sorted(want.items())

        return Op("read", f"counts_{table}", lambda: self._sql(sql), check)

    def _maintenance(self) -> list[Op]:
        """OPTIMIZE and VACUUM both tables, then check the per-partition
        counts against the model."""
        self.cycles += 1
        ops = [Op("maint", f"optimize_{t}", lambda t=t: self._sql(f"OPTIMIZE lake.{t}"))
               for t in self.src]
        ops += [Op("maint", f"vacuum_{t}",
                   lambda t=t: self._sql(f"VACUUM lake.{t} RETAIN 2 SNAPSHOTS"))
                for t in self.src]
        return ops + [self._partition_counts(t) for t in self.src]

    WRITES = ("insert", "merge", "update", "delete", "transaction")

    def _write(self, shape: str) -> list[Op]:
        ops = getattr(self, f"_{shape}")()
        self.writes += 1
        if self.writes % MAINTENANCE_EVERY == 0:
            ops += self._maintenance()
        return ops

    def shapes(self):
        # lazily: each write is generated from the model as it stands after
        # the operations before it ran
        for shape in self.WRITES:
            yield from self._write(shape)

    def next_op(self) -> Op:
        if not self.queue:
            self.queue = self._write(self.next_in_round(self.WRITES))
        return self.queue.pop(0)

    def round_complete(self) -> bool:
        return not self._round and not self.queue

    def finish(self) -> list[str]:
        from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake as lk

        failures = []
        for t in self.src:
            rep = lk.verify_table(os.path.join(self.lake, t), deep=True)
            if not rep["ok"]:
                failures.append(f"verify_table(deep=True) failed on lake.{t}: {rep}")
            op = self._partition_counts(t)
            if not op.check(op.fn()):
                failures.append(f"final partition counts of lake.{t} differ from the model")
        return failures

    def extra_report(self) -> dict[str, float]:
        return {"maintenance_cycles": float(self.cycles)}


# ================================================================ stream_ingest
STREAM_ID = "perfbench-docs"
DOCS_SCHEMA = "doc_id long, lang string, text string"
PAIRS_SCHEMA = "doc_a long, doc_b long, jaccard double"


class StreamIngest(Workload):
    """One Structured Streaming query over seeded document micro-batches
    with planted near-duplicates. Its foreachBatch sink runs the MinHash
    probe/verify/index-append step, appends the survivors to a governed
    manifest table under a stream-id/batch-id ledger, refreshes a per-lang
    materialized view, and replays the append, which must commit nothing."""

    name = "stream_ingest"
    primary = "trigger"
    MAX_BATCHES = 400

    def prepare(self) -> None:
        self.batch_docs = 20 if self.small else 50
        self.batches, self.planted = datagen.document_batches(
            self.seed, self.MAX_BATCHES, self.batch_docs
        )
        self.query = None
        self.landed = 0  # batches landed in the source directory after bootstrap
        self.replays: list[bool] = []
        self.progress: dict[int, dict] = {}

    def _with_words(self, df):
        from pyspark.sql import functions as F

        return df.withColumn("n_words", F.size(F.split("text", " ")).cast("long"))

    def setup(self, root: str) -> None:
        from pyspark.sql import functions as F

        from tf_aws_lakeformation_governed_datalake_demo_spark import (
            Engine, GovernedCatalog, TableDef,
        )
        from tf_aws_lakeformation_governed_datalake_demo_spark.operators import dedup
        from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake as lk
        from tf_aws_lakeformation_governed_datalake_demo_spark.streaming import events

        spark = self.spark
        self.root = root
        self.lake = os.path.join(root, "lake")
        self.src_dir = os.path.join(root, "incoming")
        self.pairs = os.path.join(root, "dedup", "pairs")
        os.makedirs(self.src_dir, exist_ok=True)
        cat = GovernedCatalog(spark, lake_root=self.lake)
        cat.create_database("lake", "stream workload")
        cat.set_admins(["ops"])
        self.engine = Engine(spark, cat)
        self.dedup_sink = dedup.minhash_stream_sink(
            spark, None, os.path.join(root, "dedup", "index"),
            os.path.join(root, "dedup", "docs"), self.pairs,
        )
        # index bootstrap: batch 0 goes through the dedup step directly
        first = spark.createDataFrame(self.batches[0], DOCS_SCHEMA)
        self.dedup_sink(first, 0)
        pairs = spark.read.schema(PAIRS_SCHEMA).parquet(f"{self.pairs}/batch=0")
        survivors = self._with_words(
            first.join(pairs.select(F.col("doc_b").alias("doc_id")), "doc_id", "left_anti")
        )
        self.docs = os.path.join(self.lake, "docs")
        lk.publish_overwrite(spark, self.docs, survivors, ["lang"], manifest=True)
        cat.register_table(TableDef("lake", "docs", self.docs, schema=survivors.schema,
                                    partition_keys=("lang",)))
        self.engine.create_materialized_view(
            "lake.lang_mv", "lake.docs", ["lang"],
            {"n": ("count", None), "words": ("sum", "n_words")}, principal="ops",
        )
        # stream start: width sized from the source bytes, as the
        # package's own file-stream drivers do
        width = events.stream_state_partitions(spark, events.source_bytes(self.src_dir))
        self.saved_width = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        self.landed = 0
        self.replays = []
        self.query = (
            spark.readStream.schema(DOCS_SCHEMA).format("parquet")
            .option("maxFilesPerTrigger", 1).load(self.src_dir)
            .writeStream.foreachBatch(self._sink)
            .option("checkpointLocation", os.path.join(root, "checkpoint"))
            .start()
        )

    def discard(self, root: str) -> None:
        self.close()
        super().discard(root)

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
            self.spark.conf.set("spark.sql.shuffle.partitions", self.saved_width)

    def _sink(self, batch, epoch: int) -> None:
        from pyspark.sql import functions as F

        from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake as lk

        bid = epoch + 1  # batch 0 was the bootstrap
        with self.tracer.span("dedup.sink"):
            self.dedup_sink(batch, bid)
        pairs = self.spark.read.schema(PAIRS_SCHEMA).parquet(f"{self.pairs}/batch={bid}")
        survivors = self._with_words(
            batch.join(pairs.select(F.col("doc_b").alias("doc_id")), "doc_id", "left_anti")
        )
        lk.append_rows(self.spark, self.docs, survivors, ["lang"],
                       stream_id=STREAM_ID, batch_id=bid)
        self.engine.refresh_materialized_view("lake.lang_mv", "ops")
        again = lk.append_rows(self.spark, self.docs, survivors, ["lang"],
                               stream_id=STREAM_ID, batch_id=bid)
        self.replays.append(again is None)

    def table_dirs(self) -> list[str]:
        return [self.docs, os.path.join(self.lake, "_mv")]

    def _trigger(self) -> Op:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.landed += 1
        n = self.landed
        if n >= len(self.batches):
            raise RuntimeError("stream_ingest ran out of generated batches")
        rows = self.batches[n]
        table = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "lang": [r[1] for r in rows],
            "text": [r[2] for r in rows],
        })
        tmp = os.path.join(self.root, f".landing-{n}.parquet")
        pq.write_table(table, tmp)
        query = self.query

        def run():
            os.rename(tmp, os.path.join(self.src_dir, f"batch-{n:05d}.parquet"))
            with self.tracer.span("streaming.trigger"):
                query.processAllAvailable()
            return query.lastProgress

        def check(progress):
            if progress is None or progress["batchId"] != n - 1:
                return False
            self.progress[n] = progress
            return True

        return Op("trigger", "trigger", run, check,
                  latency_ms=lambda p: float(p["durationMs"]["triggerExecution"]),
                  info={"batch": n})

    def shapes(self) -> list[Op]:
        # one shape; the cold pass is two batches, so the steady phase
        # starts with the stream past its first-batch planning
        return [self._trigger(), self._trigger()]

    def next_op(self) -> Op:
        return self._trigger()

    def committed_rows(self) -> int:
        from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake as lk

        snap = lk.read_manifest(self.docs)
        return int(sum(snap["file_rows"].get(f, 0) for f in snap["files"]))

    def verified_pairs(self) -> dict[int, set]:
        """Found near-duplicate pairs per batch."""
        from pyspark.sql import functions as F

        df = self.spark.read.schema(PAIRS_SCHEMA).parquet(f"{self.pairs}/batch=*")
        out: dict[int, set] = {}
        for r in df.select("doc_a", "doc_b", F.input_file_name().alias("f")).collect():
            b = int(r.f.split("batch=")[1].split("/")[0])
            out.setdefault(b, set()).add((r.doc_a, r.doc_b))
        return out

    def finish(self) -> list[str]:
        from tf_aws_lakeformation_governed_datalake_demo_spark.sources import lake as lk

        failures = []
        eng = self.engine
        mv = sorted(tuple(r) for r in eng.sql(
            "SELECT lang, n, words FROM lake.lang_mv", "ops").collect())
        full = sorted(tuple(r) for r in eng.sql(
            "SELECT lang, count(*) AS n, sum(n_words) AS words FROM lake.docs "
            "GROUP BY lang", "ops").collect())
        if mv != full:
            failures.append(f"MV differs from a full recompute: {mv} vs {full}")
        found = set().union(*self.verified_pairs().values())
        last_id = max(r[0] for r in self.batches[self.landed])
        missed = {p for p in self.planted if p[1] <= last_id} - found
        if missed:
            failures.append(f"{len(missed)} planted near-duplicate pairs not found")
        ids = [r[0] for r in eng.sql("SELECT doc_id FROM lake.docs", "ops").collect()]
        if len(ids) != len(set(ids)):
            failures.append("duplicate rows in lake.docs")
        arrived = {r[0] for b in self.batches[: self.landed + 1] for r in b}
        if set(ids) != arrived - {b for _, b in found}:
            failures.append("lake.docs is not the arrived documents minus near-duplicates")
        if not all(self.replays):
            failures.append("a replayed batch committed")
        if lk.read_manifest(self.docs)["version"] != 1 + len(self.replays):
            failures.append("lake.docs has commits beyond one per batch")
        return failures


WORKLOADS = {w.name: w for w in (GovernedRead, LakeCommit, StreamIngest)}
