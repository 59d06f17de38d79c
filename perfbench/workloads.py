"""The benchmark workloads.  Each is a closed loop with one client: the next
operation starts when the previous one returned.  An operation is one
``read_sql`` call (``jdbc_load``) or one upsert plus its read-back.

A workload builds its inputs in ``setup`` (timed, run several times per
run), derives the expected outputs in ``prepare`` (untimed), runs one
operation of a given shape in ``run`` and checks the output in ``check``.
``traced`` wraps the engine's layer entry points in spans for the traced
run; untraced operations call the engine unmodified.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

import conecta_spark.io as cio
from conecta_spark.sources.jdbc import JDBCSource
from conecta_spark.sources.parquet import ParquetDirSource
from conecta_spark.sources.sinks import upsert_parquet

import gen

#: Rows in the Derby table; JDBC decodes row by row and each run loads the
#: table several times in set-up.
JDBC_ROWS = 150_000
PARTITIONS = 4
ACCOUNTS_ROWS = 150_000
UPDATE_FRACTION = 0.05

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
_DERBY_TYPES = {
    pa.int64(): "BIGINT",
    pa.int32(): "INTEGER",
    pa.string(): "VARCHAR(8)",
    pa.date32(): "DATE",
}


@contextmanager
def traced_read_sql(tracer, source, kind: str):
    """Spans around the layers ``read_sql`` calls: planning, the source's
    lazy DataFrame build, a ``noop`` execution of that DataFrame (the scan
    alone, run once more than an untraced call would) and the export."""
    plan, export = cio._plan, cio.export

    def read_partitioned(p):
        with tracer.span(f"sources.{kind}.read_partitioned"):
            df = type(source).read_partitioned(source, p)
        with tracer.span(f"sources.{kind}.scan"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def traced_export(df, backend="spark"):
        with tracer.span("io.export") as s:
            out = export(df, backend)
        s.counts = {"bytes": out.nbytes, "batches": len(out.to_batches())}
        return out

    cio._plan = tracer.wrap("plans.create_plan", plan)
    cio.export = traced_export
    source.read_partitioned = read_partitioned
    try:
        yield
    finally:
        cio._plan, cio.export = plan, export
        del source.read_partitioned


class JdbcLoad:
    """``read_sql(..., return_backend="pyarrow")`` through ``JDBCSource``
    against embedded Derby, in three fixed call shapes over a lineitem
    table.  Every shape passes ``partition_range``: the MIN/MAX probe
    issues Postgres ``::bigint`` SQL, which Derby rejects.  Column names
    are lower case and quoted, as Spark's JDBC writer creates them."""

    shapes = ("full", "range", "list")
    kind = "jdbc"
    col = '"l_orderkey"'

    @staticmethod
    def quote(name: str) -> str:
        return f'"{name}"'

    def setup(self, spark, d: str, seed: int) -> None:
        tbl = gen.lineitem(seed, JDBC_ROWS)
        os.makedirs(d)
        csv = os.path.join(d, "lineitem.csv")
        pcsv.write_csv(tbl, csv, pcsv.WriteOptions(include_header=False))
        cols = ", ".join(
            f'"{f.name}" {_DERBY_TYPES[f.type]}' for f in tbl.schema
        )
        url = f"jdbc:derby:{os.path.join(d, 'db')}"
        conn = spark._jvm.java.sql.DriverManager.getConnection(url + ";create=true")
        try:
            stmt = conn.createStatement()
            stmt.executeUpdate(f"create table lineitem ({cols})")
            stmt.execute(
                "call SYSCS_UTIL.SYSCS_IMPORT_TABLE("
                f"null, 'LINEITEM', '{csv}', null, null, null, 0)"
            )
        finally:
            conn.close()
        self.source = JDBCSource(
            spark, url, driver=DERBY_DRIVER, type_bridge=False
        )
        keys = tbl["l_orderkey"].to_numpy()
        n = len(keys)
        self.keys, self.prices = keys, tbl["l_extendedprice"].to_numpy()
        self.full_range = (int(keys[0]), int(keys[-1]))
        self.sub_range = (int(keys[n // 5]), int(keys[4 * n // 5]))
        self.split = int(keys[n // 2])

    def prepare(self) -> None:
        # Expected values come from the generated rows in range.
        lo, hi = self.sub_range
        in_range = (self.keys >= lo) & (self.keys <= hi)
        every = np.ones(len(self.keys), dtype=bool)
        self.expected = {
            shape: (
                int(mask.sum()),
                int(self.keys[mask].sum()),
                int(self.prices[mask].sum()),
            )
            for shape, mask in (
                ("full", every), ("range", in_range), ("list", every)
            )
        }

    def run(self, shape: str, i: int) -> tuple[pa.Table, int]:
        c = self.col
        if shape == "full":
            out = cio.read_sql(
                self.source, "select * from lineitem", partition_on=c,
                partition_range=self.full_range, partition_num=PARTITIONS,
                return_backend="pyarrow",
            )
        elif shape == "range":
            out = cio.read_sql(
                self.source,
                f"select {c}, {self.quote('l_partkey')}, "
                f"{self.quote('l_extendedprice')}, "
                f"{self.quote('l_shipdate')} from lineitem",
                partition_on=c, partition_range=self.sub_range,
                partition_num=PARTITIONS, return_backend="pyarrow",
            )
        else:
            out = cio.read_sql(
                self.source,
                [
                    f"select * from lineitem where {c} < {self.split}",
                    f"select * from lineitem where {c} >= {self.split}",
                ],
                return_backend="pyarrow",
            )
        return out, out.num_rows

    def stage(self, i: int) -> None:
        pass

    def check(self, shape: str, i: int, out: pa.Table) -> bool:
        got = (
            out.num_rows,
            pc.sum(out["l_orderkey"]).as_py() or 0,
            pc.sum(out["l_extendedprice"]).as_py() or 0,
        )
        return got == self.expected[shape]

    def traced(self, tracer):
        return traced_read_sql(tracer, self.source, self.kind)


class UpsertWrite:
    """Each operation merges a seeded batch (a fixed fraction of the keys)
    into a parquet dataset with ``upsert_parquet``, then reads the whole
    dataset back with a partitioned ``read_sql`` that runs the MIN/MAX
    probe on ``k``.  ``upsert_parquet`` rewrites the full dataset per
    batch, so write amplification is large by construction."""

    shapes = ("upsert",)
    kind = "parquet"
    upsert = staticmethod(upsert_parquet)

    def setup(self, spark, d: str, seed: int) -> None:
        self.spark, self.seed, self.dir = spark, seed, d
        base = gen.accounts(seed, ACCOUNTS_ROWS)
        os.makedirs(os.path.join(d, "batches"))
        base_path = os.path.join(d, "batches", "base.parquet")
        pq.write_table(base, base_path)
        cat = os.path.join(d, "catalog")
        os.makedirs(cat)
        self.dataset = os.path.join(cat, "accounts.parquet")
        upsert_parquet(spark, self.dataset, spark.read.parquet(base_path), ["k"])
        self.source = ParquetDirSource(spark, cat)
        self.source.register_views()
        self.amount = base["amount"].to_numpy().copy()
        self.version = base["version"].to_numpy().copy()

    def prepare(self) -> None:
        self.batches: dict[int, str] = {}
        self.batch_bytes: dict[int, int] = {}

    def stage(self, i: int) -> None:
        """Write batch ``i`` to disk (untimed) and advance the expected
        state; the engine reads the batch file inside the operation."""
        b = gen.update_batch(self.seed, i, ACCOUNTS_ROWS, UPDATE_FRACTION)
        path = os.path.join(self.dir, "batches", f"batch-{i}.parquet")
        pq.write_table(b, path)
        self.batches[i], self.batch_bytes[i] = path, b.nbytes
        keys = b["k"].to_numpy()
        self.amount[keys] = b["amount"].to_numpy()
        self.version[keys] = i + 1

    def run(self, shape: str, i: int) -> tuple[pa.Table, int]:
        updates = self.spark.read.parquet(self.batches[i])
        self.upsert(self.spark, self.dataset, updates, ["k"])
        # The catalog's view still lists the files the rewrite replaced.
        self.spark.catalog.refreshTable("accounts")
        out = cio.read_sql(
            self.source, "select k, version, amount from accounts",
            partition_on="k", partition_num=PARTITIONS,
            return_backend="pyarrow",
        )
        return out, int(ACCOUNTS_ROWS * UPDATE_FRACTION)

    def check(self, shape: str, i: int, out: pa.Table) -> bool:
        k = np.arange(ACCOUNTS_ROWS, dtype=np.int64)
        want = (
            ACCOUNTS_ROWS,
            int(self.amount.sum()),
            int(self.version.sum()),
            int((k * self.amount).sum()),
        )
        got = (
            out.num_rows,
            pc.sum(out["amount"]).as_py(),
            pc.sum(out["version"]).as_py(),
            pc.sum(pc.multiply(out["k"], out["amount"])).as_py(),
        )
        return got == want

    @contextmanager
    def traced(self, tracer):
        def upsert(spark, path, updates, key_cols):
            with tracer.span("sinks.upsert") as s:
                upsert_parquet(spark, path, updates, key_cols)
            parts = [
                os.path.join(path, f) for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
            s.counts = {
                "files": len(parts),
                "bytes": sum(os.path.getsize(p) for p in parts),
                "update_bytes": self.batch_bytes[tracer.op],
            }

        self.upsert = upsert
        try:
            with traced_read_sql(tracer, self.source, self.kind):
                yield
        finally:
            del self.upsert


WORKLOADS = {
    "jdbc_load": JdbcLoad,
    "upsert_write": UpsertWrite,
}
