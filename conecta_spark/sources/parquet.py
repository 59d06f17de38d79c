"""Parquet-directory source: a folder of ``<table>.parquet`` files becomes a
queryable catalog.

This is the engine's primary local/test backend (driver testdata layout,
TESTDATA.md).  At cluster scale the same code path serves any
directory-of-datasets layout readable by ``spark.read.parquet``.

Scale notes:

* Views are plain ``spark.read.parquet`` relations -- Catalyst pushes
  filters/projections into the scan (``PushedFilters``/``ReadSchema``), so a
  partition-bounded read touches only matching row groups.
* Partitioned reads are executed as ONE scan with a range filter, not N
  unioned scans: ``union(filter(a<=c<b) for each bound)`` would re-read the
  files N times, which at 100 TB is the difference between one pass and N
  passes.  The bounded per-partition SQL is still generated and exposed on
  the plan for introspection parity (reference behavior, postgres.rs:488-510).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from ..plans.partition import QueryPartitioningMode, wrap_query_with_bounds
from ..session import copy_sql_conf, jvm_entry
from .base import Source

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*$")


#: Reads parquet TIMESTAMP(NANOS) as raw longs (see :func:`load_parquet`).
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

#: Footer key under which Spark's parquet writer stores the row schema.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def load_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with nanosecond-timestamp handling.

    Spark rejects parquet TIMESTAMP(NANOS) outright ([PARQUET_TYPE_ILLEGAL])
    unless ``spark`` reads them as raw longs (:data:`NANOS_AS_LONG`, which a
    :class:`ParquetDirSource`'s private session always has); such columns
    are truncated to microsecond TimestampType -- the same precision the
    reference uses everywhere (postgres.rs:401-412 truncates to micros).

    A Spark-written table is read with the schema in its footer
    (:func:`footer_schema`), which skips Spark's schema-inference job;
    any other table is read with Spark's inference.
    """
    ns_cols = _nanos_timestamp_columns(path)
    schema = footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    for name in ns_cols:
        if name in df.columns:
            df = df.withColumn(
                name,
                F.expr(f"timestamp_micros(CAST(`{name}` DIV 1000 AS LONG))"),
            )
    return df


class DataFile(NamedTuple):
    path: str  # absolute
    size: int
    mtime_ns: int


class TableFiles(NamedTuple):
    files: tuple[DataFile, ...]  # sorted by path
    partitioned: bool  # a subdirectory holds data (hive partitions)


def table_files(path: str) -> TableFiles:
    """The files ``spark.read.parquet(path)`` reads, as they are now:
    ``path`` itself, or every file under the directory, skipping names
    that start with ``_`` or ``.`` at every level as Spark's file index
    does (``_SUCCESS``, ``.crc`` checksums, ``_temporary``).  A table with
    a subdirectory is hive-partitioned: part of its data lives in
    directory names, not in footers.  One ``os.stat`` per entry, no Spark
    job; a missing ``path`` raises ``FileNotFoundError``.

    This is the one answer to "which files are this table": the catalog
    refresh, the footer probes, the stores and every registry cache read
    it, through :func:`table_fingerprint` where they only ask whether the
    files changed."""
    path = os.path.abspath(path)
    if not os.path.isdir(path):
        st = os.stat(path)
        return TableFiles((DataFile(path, st.st_size, st.st_mtime_ns),), False)
    files, dirs, partitioned = [], [path], False
    while dirs:
        with os.scandir(dirs.pop()) as entries:
            for e in entries:
                if e.name.startswith(("_", ".")):
                    continue
                if e.is_dir():
                    dirs.append(e.path)
                    partitioned = True
                else:
                    st = e.stat()
                    files.append(DataFile(e.path, st.st_size, st.st_mtime_ns))
    return TableFiles(tuple(sorted(files)), partitioned)


def table_fingerprint(path: str) -> str:
    """Lowercase hex digest of the table at ``path``: its absolute path
    and each data file's path, size and ``mtime_ns`` (:func:`table_files`).
    It changes when a file is added, removed or rewritten in place, and
    two copies of a table never share it.  Cache entries over a table key
    on it, so a rewritten table is a miss."""
    h = hashlib.md5(os.path.abspath(path).encode())
    for f in table_files(path).files:
        h.update(f"\0{f.path}\0{f.size}\0{f.mtime_ns}".encode())
    return h.hexdigest()[:16]


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), from the first data
    file's footer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = table_files(path).files
    if not files:
        return []
    try:
        schema = pq.read_schema(files[0].path)
    except (OSError, pa.ArrowInvalid):
        return []
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def footer_min_max(path: str, column: str) -> tuple[int | None, int | None] | None:
    """MIN/MAX of ``column`` over the parquet table at ``path``, from the
    row-group statistics in its footers, read on the driver: no Spark job,
    no data page.  All-null or empty data gives ``(None, None)``, as the
    Spark aggregate does.

    ``None`` whenever the footers cannot answer exactly, and the caller
    then runs the aggregate: hive partitions, a file pyarrow cannot read,
    a column that is missing, ambiguous or not a signed integer (dates,
    decimals and nanos timestamps are stored as integers too, but Spark
    reads them as other types), or a row group holding non-null values
    without min/max statistics.  The leaf column is matched by its full
    path, not by position: nested columns shift leaf indexes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    listing = table_files(path)
    if listing.partitioned:
        return None
    mn = mx = None
    for f in listing.files:
        try:
            md = pq.read_metadata(f.path)
        except (OSError, pa.ArrowInvalid):
            return None
        leaves = [
            j for j in range(md.num_columns) if md.schema.column(j).path == column
        ]
        schema = md.schema.to_arrow_schema()
        i = schema.get_field_index(column)
        if (
            len(leaves) != 1
            or i < 0
            or not pa.types.is_signed_integer(schema.field(i).type)
        ):
            return None
        for r in range(md.num_row_groups):
            rg = md.row_group(r)
            if rg.num_rows == 0:
                continue
            st = rg.column(leaves[0]).statistics
            if st is not None and st.has_null_count and st.null_count == rg.num_rows:
                continue
            if st is None or not st.has_min_max:
                return None
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
    return mn, mx


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, without its
    inference job: Spark's inference prefers the row schema its writer
    stores in each footer, so read that key from the first data file on
    the driver and make it nullable the way the read does.

    ``None`` (let Spark infer) when ``spark.sql.parquet.mergeSchema``
    asks for the union over all files, the directory has a subdirectory
    (hive partitions) or no data file, the first file is not parquet, or
    its writer was not Spark (no row-schema key)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    listing = table_files(path)
    if listing.partitioned or not listing.files:
        return None
    try:
        kv = pq.read_metadata(listing.files[0].path).metadata or {}
    except (OSError, pa.ArrowInvalid):
        return None
    if _SPARK_ROW_METADATA not in kv:
        return None
    return _as_nullable(StructType.fromJson(json.loads(kv[_SPARK_ROW_METADATA])))


def _as_nullable(t: DataType) -> DataType:
    """Spark's ``DataType.asNullable``, which file reads apply to a schema:
    every field, array element and map value may be null."""
    if isinstance(t, StructType):
        return StructType([
            StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in t.fields
        ])
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


class ParquetDirSource(Source):
    """Every ``*.parquet`` under ``root`` as a table named after the file
    stem, each a temp view of this catalog's private ``spark.newSession()``
    registered on first use.  :meth:`query` analyses SQL there, under the
    caller's SQL conf as it is at call time, and returns a DataFrame of the
    caller's session.  The SQL sees this catalog's tables and Spark's
    built-in functions, not the caller's temp views or functions.

    ``EXT``/``_load`` are the format hooks; :class:`conecta_spark.sources
    .files.FilesDirSource` reuses everything else for csv/json/orc."""

    EXT = ".parquet"

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark)
        self.root = root.removeprefix("file://")
        if not os.path.isdir(self.root):
            raise ValueError(f"not a directory of {self.EXT} tables: {root!r}")
        self.tables: dict[str, str] = {}
        for name in sorted(os.listdir(self.root)):
            if name.endswith(self.EXT):
                stem = name[: -len(self.EXT)]
                if _IDENT.match(stem):
                    self.tables[stem] = os.path.join(self.root, name)
        if not self.tables:
            raise ValueError(f"no *{self.EXT} tables found under {root!r}")
        self._session = spark.newSession()
        #: Per registered table, its :func:`table_fingerprint` when it was
        #: loaded or last refreshed.
        self._fingerprints: dict[str, str] = {}

    def _load(self, path: str) -> DataFrame:
        return load_parquet(self._session, path)

    def _register(self, stem: str) -> None:
        """Register table ``stem``'s view on first use, and load it again
        whenever its files changed since (an ``upsert_parquet`` swaps a
        table's whole directory), so a read returns what the files hold
        at call time, columns included, and sees the same files as the
        footer MIN/MAX probe."""
        now = table_fingerprint(self.tables[stem])
        if self._fingerprints.get(stem) != now:
            self._load(self.tables[stem]).createOrReplaceTempView(stem)
            self._fingerprints[stem] = now

    def register_views(self) -> None:
        """Publish every table of this catalog as a temp view of the
        caller's session.  The engine never reads these views."""
        for stem in self.tables:
            self.query(f"select * from {stem}").createOrReplaceTempView(stem)

    def query(self, sql: str) -> DataFrame:
        """Run ``sql`` over this catalog (see the class docstring)."""
        copy_sql_conf(self._session, self.spark, {NANOS_AS_LONG: "true"})
        for stem in self.tables:
            if re.search(rf"\b{stem}\b", sql, re.I):
                self._register(stem)
        of_rows = jvm_entry(
            self.spark._jvm, "org.apache.spark.sql.classic.Dataset.ofRows")
        plan = self._session.sql(sql)._jdf.logicalPlan()
        return DataFrame(of_rows(self.spark._jsparkSession, plan), self.spark)

    #: ``select * | a, b, ... from <table>``: the query reads every row of
    #: one catalog table, so the table's footers bound its columns.
    _TABLE_SCAN = re.compile(
        r"select\s+(\*|[A-Za-z_][A-Za-z0-9_]*(?:\s*,\s*[A-Za-z_][A-Za-z0-9_]*)*)"
        r"\s+from\s+([A-Za-z_][A-Za-z0-9_]*)\s*$",
        re.I,
    )

    def min_max(self, sql: str, column: str) -> tuple[int | None, int | None]:
        """MIN/MAX of ``column`` over ``sql``'s result.  A whole-table scan
        that selects ``column`` is answered by :func:`footer_min_max`
        without a Spark job (the analog of the reference's indexed-metadata
        probe, ``postgres.rs:556-592``); any other query, or footers that
        cannot answer exactly, runs the aggregate over the query."""
        m = self._TABLE_SCAN.match(sql.strip())
        if (
            self.EXT == ".parquet"  # csv/json/orc subclasses have no footers
            and m
            and m.group(2).lower() in self.tables
            and (m.group(1) == "*" or column in re.split(r"\s*,\s*", m.group(1)))
        ):
            found = footer_min_max(self.tables[m.group(2).lower()], column)
            if found is not None:
                return found
        row = (
            self.query(sql)
            .agg(
                F.min(column).cast("long").alias("mn"),
                F.max(column).cast("long").alias("mx"),
            )
            .collect()[0]
        )
        return row["mn"], row["mx"]

    def read_partitioned(self, plan) -> DataFrame:
        cfg = plan.config
        if cfg.mode is QueryPartitioningMode.PARTITIONED_QUERIES:
            dfs = [self.query(q) for q in cfg.query]
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionAll(d)
            return out
        if cfg.mode is QueryPartitioningMode.ONE_UNPARTITIONED_QUERY:
            return self.query(cfg.query[0])
        # ONE_PARTITIONED_QUERY: single scan + range filter (see module
        # docstring), in the planner's own bounded SQL.  Union of the plan's
        # [start,stop) bounds == the closed envelope [min, max]; NULL
        # partition keys fail the range predicate and are dropped, matching
        # the reference (SURVEY 1.4).  A trailing ``;`` or ``-- comment`` is
        # legal only at the top level: strip the one, end the other's line.
        inner = re.sub(r"[\s;]*\Z", "", cfg.query[0]) + "\n"
        return self.query(wrap_query_with_bounds(
            inner, cfg.partition_on, (plan.min, plan.max), True
        ))
