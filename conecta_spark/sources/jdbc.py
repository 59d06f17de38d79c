"""JDBC source: partition-parallel database loading, the reference's core
capability re-expressed on Spark's JDBC data source.

Reference parity map (citations into /root/reference):

* thread-per-partition rayon scan (postgres.rs:341-485)  -> one Spark task
  per element of ``predicates`` (or per stride partition).
* cursor streaming (postgres.rs:369-371)                 -> ``fetchsize``.
* connection pool sized to partitions (lib.rs:78-86)     -> ``numPartitions``.
* schema probe via ``limit 0`` prepare (postgres.rs:567-583) -> Spark's own
  ``WHERE 1=0`` resolution on the dbtable subquery.
* MIN/MAX pushdown (postgres.rs:556-592)                 -> one-row JDBC read
  of the same aggregate SQL.
* one MVCC snapshot per statement (each partition cursor) -> Postgres as is;
  databases without MVCC get a per-connection isolation statement
  (``SESSION_INIT``) run by Spark before each read.

Boundary semantics follow the reference, not stock Spark JDBC: Spark's
``partitionColumn`` options clamp the first/last strides open-ended and route
NULLs to the first partition, while conecta's generated predicates drop
out-of-range rows and NULL keys (SURVEY 1.4).  We therefore always pass
explicit ``predicates`` built by our planner instead of
``lowerBound``/``upperBound``.

Every partition reads a statement-consistent state.  On Postgres each
cursor sees one MVCC snapshot.  Derby has no MVCC: at its default READ
COMMITTED a scan takes and drops a shared lock on every row it visits, so
a read racing a writer can return a state that was never committed, and
the lock manager takes about a third of the scan's CPU.  At SERIALIZABLE
Derby serves a full scan under one shared table lock, held until the
cursor closes: the read is consistent and cheaper, and a writer to the
table waits for each partition's cursor instead.  That wait is how a
database without MVCC gives a consistent read.  READ UNCOMMITTED would
allow dirty reads, so it is not an option.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession

from ..plans.partition import QueryPartitioningMode, bound_predicate, bounds
from ..types import apply_pg_casts
from .base import Source

#: ``pg_typeof()::text`` spells SQL-standard names; the type bridge keys on
#: the internal ``typname`` forms the reference records (schema.rs:70-141).
PG_TYPEOF_ALIASES: dict[str, str] = {
    "time without time zone": "time",
    "time with time zone": "timetz",
    "timestamp without time zone": "timestamp",
    "timestamp with time zone": "timestamptz",
    "double precision": "float8",
    "real": "float4",
    "smallint": "int2",
    "integer": "int4",
    "bigint": "int8",
    "boolean": "bool",
    "character varying": "varchar",
    "character": "bpchar",
}


def normalize_pg_typeof(t: str) -> str:
    """``pg_typeof(...)::text`` spelling -> the bridge's internal name.

    Arrays: pg_typeof spells them ``integer[]`` / ``double precision[]``,
    while the bridge (types.PG_TO_SPARK) keys them in catalog form
    ``_int4`` / ``_float8`` -- normalize the element spelling first, then
    prefix.  Before this the bridge raised UnsupportedPgTypeError on
    every array column a real query returned (the element aliases never
    matched the ``[]`` spelling); pinned e2e by the recorded array
    fixture in tests/test_jdbc_fixture_e2e.py."""
    if t.endswith("[]"):
        return "_" + normalize_pg_typeof(t[:-2])
    return PG_TYPEOF_ALIASES.get(t, t)


def min_max_sql(query: str, column: str) -> str:
    """The aggregate the reference pushes down (postgres.rs:585-592), with
    the standard ``CAST`` in place of Postgres' ``::bigint`` so every JDBC
    database accepts it.  The aliases give Spark column names it can
    select back: Derby names an unaliased column ``1``, which its own
    parser then rejects."""
    return (
        f"select CAST(MIN({column}) AS BIGINT) AS mn, "
        f"CAST(MAX({column}) AS BIGINT) AS mx "
        f"from ({query}) as query_inner"
    )


#: Statement run on each JDBC connection before it reads (Spark's
#: ``sessionInitStatement``), keyed on URL prefix.  URLs that match none
#: (Postgres among them) get no statement.
SESSION_INIT: dict[str, str] = {
    "jdbc:derby:": "SET ISOLATION SERIALIZABLE",
}


class JDBCSource(Source):
    def __init__(
        self,
        spark: SparkSession,
        url: str,
        user: str | None = None,
        password: str | None = None,
        fetchsize: int = 10_000,
        driver: str | None = None,
        type_bridge: bool = True,
    ):
        super().__init__(spark)
        self.url = url
        self.type_bridge = type_bridge
        #: Options every reader this source builds carries.  Without a
        #: ``driver``, Spark resolves the URL's own through
        #: ``java.sql.DriverManager.getDriver(url)``.
        self.options: dict[str, str] = {"fetchsize": str(fetchsize)}
        if driver:
            self.options["driver"] = driver
        if user:
            self.options["user"] = user
        if password:
            self.options["password"] = password
        for prefix, stmt in SESSION_INIT.items():
            if url.startswith(prefix):
                self.options["sessionInitStatement"] = stmt

    def _reader(self, dbtable: str):
        return (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", dbtable)
            .options(**self.options)
        )

    def _raw_query(self, sql: str) -> DataFrame:
        """JDBC read without the type bridge (internal metadata probes --
        aggregates over bigint/count never need normalization)."""
        return self._reader(f"({sql}) as query_inner").load()

    def query(self, sql: str) -> DataFrame:
        return self._bridge(self._raw_query(sql), sql)

    def pg_column_types(self, sql: str) -> dict[str, str]:
        """Original Postgres type per result column, via one
        ``pg_typeof(...)::text`` row over the user query (the JDBC analog of
        the reference's wire-protocol type OIDs, postgres.rs:595-646; pgJDBC
        itself surfaces geo/uuid/time as untyped strings)."""
        cols = self._raw_query(sql).columns  # limit-0 schema probe, no data
        typed = ", ".join(
            f'pg_typeof("{c}")::text as "{c}"' for c in cols
        )
        row = self._raw_query(
            f"select {typed} from ({sql}) as typeof_inner limit 1"
        ).collect()
        if not row:  # empty result set: nothing to normalize
            return {}
        return {c: normalize_pg_typeof(row[0][c]) for c in cols}

    def _bridge(self, df: DataFrame, sql: str) -> DataFrame:
        """Post-read normalization on every Postgres read, matching the
        reference's always-on type bridge (postgres.rs:595-646): geo text ->
        flattened array<double>, TIME -> us-since-midnight bigint.  Other
        databases have no ``pg_typeof``: their raw JDBC frame is returned
        without a probe.  Best-effort on Postgres -- a failed probe returns
        the raw frame unchanged and says so with a ``RuntimeWarning``."""
        if not self.type_bridge or not self.url.startswith("jdbc:postgresql:"):
            return df
        try:
            types = self.pg_column_types(sql)
        except Exception as e:
            warnings.warn(
                f"pg_typeof probe failed, type bridge skipped: {e!r}",
                RuntimeWarning, stacklevel=2,
            )
            return df
        return apply_pg_casts(df, types)

    def min_max(self, sql: str, column: str) -> tuple[int | None, int | None]:
        row = self._raw_query(min_max_sql(sql, column)).collect()[0]
        return row[0], row[1]

    def read_partitioned(self, plan) -> DataFrame:
        cfg = plan.config
        if cfg.mode is QueryPartitioningMode.PARTITIONED_QUERIES:
            # All sub-queries share one schema: probe the bridge types once,
            # normalize the union (not one probe per sub-query).
            out = None
            for q in cfg.query:
                df = self._raw_query(q)
                out = df if out is None else out.unionAll(df)
            return self._bridge(out, cfg.query[0])
        if cfg.mode is QueryPartitioningMode.ONE_UNPARTITIONED_QUERY:
            return self.query(cfg.query[0])
        # One task per range predicate; the database sees N concurrent
        # bounded cursors, exactly the reference's execution shape.
        preds = [
            bound_predicate(cfg.partition_on, b, i == cfg.partition_num - 1)
            for i, b in enumerate(bounds(plan.min, plan.max, cfg.partition_num))
        ]
        return self._bridge(
            self._jdbc_predicates(cfg.query[0], preds), cfg.query[0]
        )

    def _jdbc_predicates(self, sql: str, preds: list[str]) -> DataFrame:
        return self.spark.read.jdbc(
            url=self.url,
            table=f"({sql}) as query_inner",
            predicates=preds,
            properties=self.options,
        )
