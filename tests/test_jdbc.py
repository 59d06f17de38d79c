"""JDBC source contract tests.

Two promises the reference integration-tests against a real Postgres
(conecta-python tests with testcontainers) are pinned here with the network
layer stubbed out:

* the type bridge runs unconditionally on every user read -- geo text forms
  normalize to array<double> and TIME to us-since-midnight (the reference's
  always-on bridge, postgres.rs:595-646);
* ``read_partitioned`` hands Spark the exact bounded-predicate set the
  reference generates (postgres.rs:488-510): half-open interior ranges, a
  closed last range absorbing the remainder.

The rest runs end to end on embedded Derby (bundled with Spark): the
portable MIN/MAX probe, every read shape, and statement-consistent reads.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.compute as pc
import pytest

from conecta_spark.io import read_sql
from conecta_spark.plans.metadata import create_partition_plan
from conecta_spark.plans.partition import PartitionConfig
from conecta_spark.sources.jdbc import JDBCSource

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
#: Seconds a Derby lock request waits before it fails (default 60).
DERBY_LOCK_WAIT_S = 5


class StubJDBC(JDBCSource):
    """JDBCSource with the JDBC reads replaced by local fixtures."""

    def __init__(self, spark, frames, types_map=None, minmax=(0, 1499)):
        super().__init__(spark, url="jdbc:postgresql://stub/db")
        self._frames = frames  # sql -> DataFrame ("*" = fallback)
        self._types = types_map
        self._minmax = minmax
        self.captured: tuple[str, list[str]] | None = None

    def _raw_query(self, sql):
        return self._frames.get(sql, self._frames.get("*"))

    def pg_column_types(self, sql):
        if self._types is not None:
            return self._types
        return super().pg_column_types(sql)

    def min_max(self, sql, column):
        return self._minmax

    def _jdbc_predicates(self, sql, preds):
        self.captured = (sql, preds)
        return self._frames.get("*")


@pytest.fixture()
def geo_frame(spark):
    return spark.createDataFrame(
        [("(1,2)", "12:30:01.5", "a")], "pt string, t string, name string"
    )


def test_type_bridge_applies_on_query(spark, geo_frame):
    """A user read normalizes geo/time columns without any explicit call."""
    src = StubJDBC(
        spark,
        {"*": geo_frame},
        types_map={"pt": "point", "t": "time", "name": "text"},
    )
    row = src.query("select * from geo").collect()[0]
    assert row["pt"] == [1.0, 2.0]
    assert row["t"] == 45_001_500_000  # (12h30m)*1e6 + 1.5s in us
    assert row["name"] == "a"


def test_type_bridge_can_be_disabled(spark, geo_frame):
    src = StubJDBC(
        spark,
        {"*": geo_frame},
        types_map={"pt": "point", "t": "time", "name": "text"},
    )
    src.type_bridge = False
    row = src.query("select * from geo").collect()[0]
    assert row["pt"] == "(1,2)"


def test_type_bridge_survives_probe_failure(spark, geo_frame):
    """A backend without pg_typeof returns the raw frame, not an error, and
    warns with the probe's error."""

    class Failing(StubJDBC):
        def pg_column_types(self, sql):
            raise RuntimeError("no pg_typeof on this backend")

    src = Failing(spark, {"*": geo_frame})
    with pytest.warns(RuntimeWarning, match="no pg_typeof on this backend"):
        df = src.query("select * from geo")
    assert df.schema == geo_frame.schema
    assert df.collect()[0]["pt"] == "(1,2)"


def test_pg_typeof_probe_normalizes_aliases(spark):
    """pg_typeof spells 'time without time zone'; the bridge keys on the
    internal typname 'time' -- the probe must translate."""
    base = spark.createDataFrame([("12:00:00", 1)], "t string, k int")
    typeof_sql = (
        'select pg_typeof("t")::text as "t", pg_typeof("k")::text as "k" '
        "from (select * from tbl) as typeof_inner limit 1"
    )
    typed = spark.createDataFrame(
        [("time without time zone", "integer")], "t string, k string"
    )
    src = StubJDBC(
        spark,
        {"select * from tbl": base, typeof_sql: typed, "*": base},
        types_map=None,
    )
    assert src.pg_column_types("select * from tbl") == {
        "t": "time",
        "k": "int4",
    }


def test_read_partitioned_reference_predicate_set(spark, geo_frame):
    """The predicates handed to Spark's JDBC reader must be exactly the
    reference's bounded set: [start, stop) interior, [start, max] last."""
    src = StubJDBC(spark, {"*": geo_frame}, types_map={})
    cfg = PartitionConfig(
        query=["select * from lineitem"],
        partition_on="l_orderkey",
        partition_num=4,
    )
    plan = create_partition_plan(src, cfg)
    src.read_partitioned(plan)
    sql, preds = src.captured
    assert sql == "select * from lineitem"
    assert preds == [
        "l_orderkey >= 0 and l_orderkey < 374",
        "l_orderkey >= 374 and l_orderkey < 749",
        "l_orderkey >= 749 and l_orderkey < 1124",
        "l_orderkey >= 1124 and l_orderkey <= 1499",
    ]
    # and the introspection plan carries the same bounds in its SQL
    for q, p in zip(plan.data_queries, preds):
        assert p in q


def test_unbridgeable_pg_type_raises_listing_every_column(spark, geo_frame):
    """SURVEY 1.3 contract: where the reference panics with a bare type
    OID (postgres.rs:642), the bridge raises a clean error naming EVERY
    column it cannot bridge and what to do about it."""
    from conecta_spark.types import UnsupportedPgTypeError

    # offenders are GENUINELY unknown types (custom enum/composite);
    # ranges moved into the bridge in r7 (they land as lossless pg text,
    # exactly what pgjdbc hands Spark's dialect) -- rejecting them broke
    # previously-working reads.
    src = StubJDBC(
        spark,
        {"*": geo_frame},
        types_map={"pt": "mood_enum", "t": "inventory_composite", "name": "text"},
    )
    with pytest.raises(UnsupportedPgTypeError) as ei:
        src.query("select * from tbl")
    assert ei.value.offenders == {"pt": "mood_enum", "t": "inventory_composite"}
    msg = str(ei.value)
    assert "pt (mood_enum)" in msg and "t (inventory_composite)" in msg
    assert "type_bridge=False" in msg  # the actionable escape hatch

    # and the escape hatch really is one: raw representation comes back
    src.type_bridge = False
    assert src.query("select * from tbl").collect() == geo_frame.collect()


def test_reference_unsupported_types_bridge_cleanly(spark, geo_frame):
    """NUMERIC/TIMESTAMPTZ/JSON etc. panic in the reference but are
    native here -- the bridge must accept them, not list them."""
    src = StubJDBC(
        spark,
        {"*": geo_frame},
        types_map={"pt": "numeric", "t": "timestamptz", "name": "jsonb"},
    )
    assert src.query("select * from tbl").count() == 1


def test_non_postgres_url_skips_the_type_bridge(spark, geo_frame):
    """Only Postgres has pg_typeof: any other database's read returns the
    raw frame without issuing the probe."""
    src = StubJDBC(spark, {"*": geo_frame}, types_map=None)
    src.url = "jdbc:derby:memory:db"
    issued = []
    raw = src._raw_query
    src._raw_query = lambda sql: issued.append(sql) or raw(sql)
    assert src.query("select * from geo").collect()[0]["pt"] == "(1,2)"
    assert not any("pg_typeof" in sql for sql in issued), issued


@pytest.mark.parametrize(
    "url, stmt",
    [
        ("jdbc:postgresql://host/db", None),
        ("jdbc:derby:memory:db", "SET ISOLATION SERIALIZABLE"),
    ],
    ids=["postgres", "derby"],
)
def test_every_reader_carries_the_urls_session_init(
    spark, monkeypatch, url, stmt
):
    """Postgres already reads one MVCC snapshot per cursor: its readers
    run no statement before the read.  Every Derby reader -- the MIN/MAX
    probe, the range predicates, each listed query and the unpartitioned
    query -- sets SERIALIZABLE first."""
    from pyspark.sql import DataFrameReader

    frame = spark.createDataFrame([(0, 99)], "mn long, mx long")
    seen = []

    def options(self, **kw):
        seen.append(kw.get("sessionInitStatement"))
        return self

    def jdbc(self, url, table, predicates, properties):
        seen.append(properties.get("sessionInitStatement"))
        return frame

    monkeypatch.setattr(DataFrameReader, "options", options)
    monkeypatch.setattr(DataFrameReader, "load", lambda self: frame)
    monkeypatch.setattr(DataFrameReader, "jdbc", jdbc)
    src = JDBCSource(spark, url, type_bridge=False)
    read_sql(src, "select * from t", partition_on="k", partition_num=4)
    read_sql(src, ["select * from t where k < 5", "select * from t where k >= 5"])
    read_sql(src, "select * from t")
    assert seen == [stmt] * 5


class Derby:
    """An embedded Derby database holding ``t (k integer, v integer)``:
    keys 0..199 with ``v = 0``, plus three NULL-key rows with ``v = 1``."""

    def __init__(self, spark, path):
        self.spark = spark
        self.url = f"jdbc:derby:{path}"
        conn = spark._jvm.java.sql.DriverManager.getConnection(
            self.url + ";create=true"
        )
        try:
            stmt = conn.createStatement()
            stmt.execute("create table t (k integer, v integer)")
            stmt.execute(
                "insert into t values "
                + ", ".join(f"({k}, 0)" for k in range(200))
                + ", (null, 1), (null, 1), (null, 1)"
            )
            stmt.execute(
                "call SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY("
                f"'derby.locks.waitTimeout', '{DERBY_LOCK_WAIT_S}')"
            )
        finally:
            conn.close()

    def connect(self):
        """A JDBC connection opened on the driver JVM."""
        return self.spark._jvm.java.sql.DriverManager.getConnection(self.url)

    def source(self) -> JDBCSource:
        return JDBCSource(
            self.spark, self.url, driver=DERBY_DRIVER, type_bridge=False
        )

    def wait_for_blocked_readers(self, n: int, timeout_s: float = 30) -> None:
        """Return once ``n`` transactions wait for a lock on ``t``."""
        conn = self.connect()
        try:
            stmt = conn.createStatement()
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                rs = stmt.executeQuery(
                    "select count(*) from SYSCS_DIAG.LOCK_TABLE "
                    "where TABLENAME = 'T' and STATE = 'WAIT'"
                )
                rs.next()
                if rs.getInt(1) >= n:
                    return
                time.sleep(0.02)
        finally:
            conn.close()
        raise AssertionError(f"fewer than {n} readers waited for a lock on t")


@pytest.fixture()
def derby(spark, tmp_path):
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", str(tmp_path / "derby.log")
    )
    return Derby(spark, tmp_path / "db")


def test_min_max_on_embedded_derby(derby):
    """The MIN/MAX probe SQL is portable: embedded Derby answers it, NULL
    keys ignored."""
    assert derby.source().min_max("select * from t", "k") == (0, 199)


def _sums(tbl) -> tuple[int, int, int]:
    return (
        tbl.num_rows,
        pc.sum(tbl["K"]).as_py() or 0,
        pc.sum(tbl["V"]).as_py() or 0,
    )


def test_read_sql_reads_a_jdbc_url_through_its_own_driver(derby):
    """A ``jdbc:`` URL alone reads: the source names no driver class, so
    Spark takes the one registered for the URL (Derby here, not the
    Postgres driver every ``jdbc:`` URL used to get)."""
    tbl = read_sql(
        derby.url, "select * from t", spark=derby.spark,
        return_backend="pyarrow",
    )
    assert _sums(tbl) == (203, sum(range(200)), 3)


def test_probed_range_read_on_embedded_derby(derby):
    """A partitioned read with no range runs the MIN/MAX probe, splits
    the probed range into the asked-for partitions and drops NULL keys."""
    df = read_sql(
        derby.source(), "select * from t", partition_on="k", partition_num=4
    )
    assert df.rdd.getNumPartitions() == 4
    assert _sums(df.toArrow()) == (200, sum(range(200)), 0)


def test_query_list_read_on_embedded_derby(derby):
    """A user query list reads one partition per query."""
    df = read_sql(
        derby.source(),
        ["select * from t where k < 50", "select * from t where k >= 50"],
    )
    assert df.rdd.getNumPartitions() == 2
    assert _sums(df.toArrow()) == (200, sum(range(200)), 0)


@pytest.mark.parametrize(
    "kw",
    [{}, {"partition_on": "k", "partition_range": (0, 199), "partition_num": 2}],
    ids=["unpartitioned", "range_predicates"],
)
def test_derby_read_sees_one_committed_state(derby, kw):
    """A read returns a state some commit left.  A writer holds an
    uncommitted update of a late row; a read starts and waits on it;
    the writer then updates an early row and commits.  Reading row by
    row, the read would keep the early row's old value and see the late
    row's new one -- a state that was never committed."""
    writer = derby.connect()
    writer.setAutoCommit(False)
    try:
        stmt = writer.createStatement()
        stmt.executeUpdate("update t set v = 1 where k = 150")
        with ThreadPoolExecutor(1) as pool:
            read = pool.submit(
                read_sql, derby.source(), "select k, v from t",
                return_backend="pyarrow", **kw,
            )
            # Every cursor scans the whole unindexed table.
            derby.wait_for_blocked_readers(kw.get("partition_num", 1))
            stmt.executeUpdate("update t set v = 1 where k = 10")
            writer.commit()
            out = read.result(timeout=60)
    finally:
        writer.rollback()
        writer.close()
    v = dict(zip(out["K"].to_pylist(), out["V"].to_pylist()))
    assert (v[10], v[150]) == (1, 1)
