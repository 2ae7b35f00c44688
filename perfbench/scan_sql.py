"""``scan_sql``: read-only SQL and scan planning over static engine tables.

Set-up builds a bucketed ``lineitem`` with ``ANALYZE`` column stats, warms
up the ingest commit, then ingests month-partitioned ``orders`` in
time-ordered commits of whole months.  The measured loop is a seeded mix of
six read classes; every answer is checked against DuckDB over the same
generated parquet.
Nothing is written after set-up, so the engine's metadata memos stay hot.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time
from decimal import Decimal

import duckdb

import datagen
import harness
import measure
import opseq

SF = 0.01
SETUP_REPEATS = 3
# measured-loop size: round(seconds * this) blocks of opseq.SCAN_BLOCK; a
# block takes about 7 s on a 4-core machine
BLOCKS_PER_SECOND = 0.1
BUCKETS = 8
# 8 commits per ingest: three ingests give 24 commit samples, enough for a
# tail above the median (p58.3, one rank above it)
INGEST_CHUNKS = 8

SQL = {
    "point_lookup": ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate "
                     "FROM {orders} WHERE o_orderkey = {p}"),
    "pruned_range": ("SELECT o_orderpriority, count(*) AS n, "
                     "sum(CAST(o_totalprice AS DECIMAL(14,2))) AS s "
                     "FROM {orders} WHERE o_orderdate >= TIMESTAMP '{p[0]}' "
                     "AND o_orderdate < TIMESTAMP '{p[1]}' "
                     "GROUP BY o_orderpriority"),
    "meta_count": ("SELECT count(*) AS n, min(o_orderdate) AS lo, "
                   "max(o_orderdate) AS hi FROM {orders} "
                   "WHERE o_orderdate >= TIMESTAMP '{p[0]}' "
                   "AND o_orderdate < TIMESTAMP '{p[1]}'"),
    "star_join": ("SELECT count(*) AS n, "
                  "sum(CAST(l.l_extendedprice AS DECIMAL(14,2))) AS rev "
                  "FROM {lineitem} l JOIN {orders} o "
                  "ON l.l_orderkey = o.o_orderkey WHERE o.o_custkey = {p}"),
    "full_agg": ("SELECT o_orderstatus, count(*) AS n, "
                 "sum(CAST(o_totalprice AS DECIMAL(14,2))) AS s "
                 "FROM {orders} GROUP BY o_orderstatus"),
}
PLAN_ONLY_SQL = ("SELECT count(*) FROM orders WHERE o_orderdate >= "
                 "TIMESTAMP '{p[0]}' AND o_orderdate < TIMESTAMP '{p[1]}'")
TABLES = {"orders": "db.orders", "lineitem": "db.lineitem"}


def _norm(rows) -> list:
    def cell(v):
        if isinstance(v, Decimal):
            return v.normalize()
        if isinstance(v, dt.datetime):
            return v.replace(tzinfo=None)
        return v
    return sorted(tuple(cell(v) for v in r) for r in rows)


class Oracle:
    """DuckDB over the generated parquet: the expected answer of every
    read class."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for name in ("orders", "lineitem"):
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                             f"'{os.path.join(data_dir, name)}.parquet'")

    def count(self, lo: dt.date, hi: dt.date) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM orders WHERE o_orderdate >= TIMESTAMP "
            f"'{lo.isoformat()}' AND o_orderdate < TIMESTAMP "
            f"'{hi.isoformat()}'").fetchone()[0]

    def answer(self, cls: str, p):
        if cls == "plan_only":
            return self.con.execute(PLAN_ONLY_SQL.format(p=p)).fetchone()[0]
        return _norm(self.con.execute(SQL[cls].format(
            p=p, orders="orders", lineitem="lineitem")).fetchall())


def build_lineitem(run: harness.Run, data_dir: str, cat) -> None:
    """The bucketed ``lineitem`` table and its ``ANALYZE`` stats."""
    from linkedin_iceberg_spark import PartitionSpec, Schema

    li = run.spark.read.parquet(os.path.join(data_dir, "lineitem.parquet"))
    cat.create_table("db.lineitem", li, spec=PartitionSpec.builder_for(
        Schema.from_spark(li.schema)).bucket("l_orderkey", BUCKETS).build()) \
        .append(li)
    # HLL + KMV sketches; DOUBLE columns are left out because the HLL
    # plane accepts only int/long/string/binary
    cat.sql("ANALYZE TABLE db.lineitem COMPUTE STATISTICS "
            "FOR COLUMNS l_partkey").collect()


def ingest_chunks(oracle) -> list:
    """INGEST_CHUNKS time-ordered ``(lo, hi, rows)`` spans ``[lo, hi)`` of
    whole months covering every order date, with the number of orders
    DuckDB counts in each."""
    months = order_months()
    edges = [months[round(i * (len(months) - 1) / INGEST_CHUNKS)]
             for i in range(INGEST_CHUNKS + 1)]
    return [(lo, hi, oracle.count(lo, hi)) for lo, hi in zip(edges, edges[1:])]


def create_orders(run: harness.Run, data_dir: str, cat):
    """The empty month-partitioned ``orders`` table and the generated
    ``orders`` rows to ingest into it."""
    from linkedin_iceberg_spark import PartitionSpec, Schema

    o = run.spark.read.parquet(os.path.join(data_dir, "orders.parquet"))
    return cat.create_table("db.orders", o, spec=PartitionSpec.builder_for(
        Schema.from_spark(o.schema)).month("o_orderdate").build()), o


def ingest(run: harness.Run, table, o, lo, hi, expected: int) -> bool:
    """One ``ingest`` commit: append the orders dated in ``[lo, hi)``;
    the commit must add exactly ``expected`` rows."""
    from pyspark.sql import functions as F

    chunk = o.filter((F.col("o_orderdate") >= lo.isoformat())
                     & (F.col("o_orderdate") < hi.isoformat()))
    return run.op(
        "ingest", "commit", lambda: table.append(chunk),
        lambda t: int(t.current_snapshot().summary["added-records"])
        == expected)


def order_months() -> list:
    """Month starts from the first order month to one past the last."""
    return opseq.month_starts(
        datagen.ORDER_EPOCH.date(),
        (datagen.ORDER_EPOCH + dt.timedelta(days=datagen.ORDER_DAYS + 31)).date())


class ScanSql:
    SF = SF
    PROBE = True   # the traced run ends with the operator probe
    classes = list(opseq.SCAN_BLOCK)

    def __init__(self, run: harness.Run, data_dir: str, work: str, seed: int,
                 seconds: int):
        self.run, self.data_dir, self.work = run, data_dir, work
        self.seed, self.seconds = seed, seconds
        self.domain = {
            "orders": datagen.n_rows("orders", SF),
            "customers": datagen.n_rows("customer", SF),
            "months": order_months()}
        self.planned: list = []
        self.cat = self.orders = None

    def setup(self) -> list:
        """Build ``lineitem`` with its stats once, warm up the ``ingest``
        commit in a scratch warehouse, then ingest ``orders``
        SETUP_REPEATS times, each into a fresh warehouse; the last
        warehouse (which also holds lineitem) serves the measured loop.
        Returns the ingest times; their median is ``setup_s``, and their
        commits are this workload's commit samples."""
        from linkedin_iceberg_spark import Catalog

        final = os.path.join(self.work, "wh")
        t0 = time.perf_counter()
        self.cat = Catalog(self.run.spark, final)
        build_lineitem(self.run, self.data_dir, self.cat)
        print(f"# lineitem with stats {time.perf_counter() - t0:.3f}s",
              flush=True)
        self.oracle = Oracle(self.data_dir)
        chunks = ingest_chunks(self.oracle)

        scratch = os.path.join(self.work, "wh-warm")
        table, o = create_orders(self.run, self.data_dir,
                                 Catalog(self.run.spark, scratch))

        def one_round(i):
            ingest(self.run, table, o, *chunks[i])
            return ["ingest"]
        print(f"# ingest warm-up rounds: {self.run.warm_up(one_round)}",
              flush=True)
        shutil.rmtree(scratch)

        times = []
        for i in range(SETUP_REPEATS):
            last = i == SETUP_REPEATS - 1
            wh = final if last else os.path.join(self.work, f"wh{i}")
            cat = self.cat if last else Catalog(self.run.spark, wh)
            t0 = time.perf_counter()
            table, o = create_orders(self.run, self.data_dir, cat)
            for chunk in chunks:
                ingest(self.run, table, o, *chunk)
            times.append(time.perf_counter() - t0)
            if not last:
                shutil.rmtree(wh)
        self.orders = self.cat.load_table("db.orders")
        return times

    def do(self, cls: str, p) -> bool:
        from linkedin_iceberg_spark.expressions import and_, gt_eq, lt

        expected = self.oracle.answer(cls, p)
        if cls == "plan_only":
            def action():
                tasks = self.orders.new_scan().filter(
                    and_(gt_eq("o_orderdate", p[0]),
                         lt("o_orderdate", p[1]))).plan_files()
                self.planned.append(len(tasks))
                return sum(t.file.record_count for t in tasks)
            return self.run.op(cls, "read", action, lambda n: n == expected)

        def action():
            return _norm(self.run.collect(
                self.cat.sql(SQL[cls].format(p=p, **TABLES))))
        return self.run.op(cls, "read", action, lambda rows: rows == expected)

    def warm_up(self) -> int:
        def one_round(i):
            rng = random.Random(f"scan_sql-warm:{self.seed}:{i}")
            for cls in self.classes:
                self.do(cls, opseq.scan_params(rng, cls, self.domain))
            return self.classes
        return self.run.warm_up(one_round)

    def loop(self) -> tuple:
        """Run the measured operations; returns (count, seconds spent inside
        them)."""
        self.planned.clear()
        ops = opseq.scan_sql_ops(
            self.seed, max(1, round(self.seconds * BLOCKS_PER_SECOND)),
            self.domain)
        busy = self.run.busy
        for cls, p in ops:
            self.do(cls, p)
        return len(ops), self.run.busy - busy

    def locations(self) -> list:
        return [self.cat.load_table(n).location
                for n in ("db.orders", "db.lineitem")]

    def layer(self) -> dict:
        live = len(measure.table_files(self.orders.location)["live"])
        planned = sum(self.planned)
        return {"catalog.scan.files_planned": planned,
                "catalog.scan.files_live": live,
                "catalog.scan.prune_ratio":
                    1.0 - planned / (live * max(1, len(self.planned)))}
