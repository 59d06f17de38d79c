"""Top-level read API: ``read_sql`` and ``create_partition_plan``.

The Spark-native equivalent of the reference's whole query lifecycle
(conecta-python/conecta/__init__.py:195-259 -> conecta-core/src/lib.rs ->
postgres.rs): validate partition config, probe MIN/MAX when needed, generate
range-bounded partitions, execute in parallel, hand back Arrow (or a lazy
DataFrame, since we *are* Spark and can keep composing).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .plans.metadata import PartitionPlan, create_partition_plan as _plan
from .plans.partition import PartitionConfig
from .session import get_session
from .sources.base import Source
from .sources.jdbc import JDBCSource
from .sources.parquet import ParquetDirSource
from .uri import parse_uri

_BACKENDS = ("spark", "pyarrow", "pandas", "arro3", "nanoarrow", "polars")


#: Source pool keyed by (session object, connection string) -- the analog
#: of the reference's connection pool reuse (O2, lib.rs:78-86).  A catalog
#: also keeps its registered tables: registering one costs Spark's
#: schema-inference job (10 tables ~1 s), or only a driver-side footer read
#: for a table Spark wrote (:func:`.sources.parquet.footer_schema`).
_SOURCE_POOL: dict[tuple[SparkSession, str], Source] = {}


def get_source(conn: str | Source, spark: SparkSession | None = None) -> Source:
    """URI-scheme dispatch (reference O1, source/mod.rs:33-70); resolved
    sources are pooled per (session, URI) like the reference's connection
    pool (O2).  Pass a fresh ``Source`` instance directly to bypass the
    pool (e.g. when the directory's table set changed mid-session)."""
    if isinstance(conn, Source):
        return conn
    spark = spark or get_session()
    key = (spark, conn)
    src = _SOURCE_POOL.get(key)
    if src is not None:
        return src
    spec = parse_uri(conn)
    if spec.kind == "parquet":
        src = ParquetDirSource(spark, spec.location)
    elif spec.kind in ("csv", "json", "orc"):
        from .sources.files import FilesDirSource

        src = FilesDirSource(spark, spec.location, fmt=spec.kind)
    else:
        src = JDBCSource(
            spark, spec.location, user=spec.user, password=spec.password
        )
    _SOURCE_POOL[key] = src
    return src


def create_partition_plan(
    conn: str | Source,
    query: str | list[str],
    partition_on: str | None = None,
    partition_range: tuple[int, int] | None = None,
    partition_num: int | None = None,
    preallocation: bool = True,
    spark: SparkSession | None = None,
) -> PartitionPlan:
    """Plan-introspection API (reference O22, __init__.py:168-192).

    Note the reference has a known bug here -- ``list(query)`` explodes a
    string into characters (__init__.py:176-177); we normalize correctly.
    """
    queries = [query] if isinstance(query, str) else list(query)
    cfg = PartitionConfig(
        query=queries,
        partition_on=partition_on,
        partition_num=partition_num,
        partition_range=partition_range,
        preallocation=preallocation,
    )
    return _plan(get_source(conn, spark), cfg)


def read_sql(
    conn: str | Source,
    query: str | list[str],
    *,
    partition_on: str | None = None,
    partition_range: tuple[int, int] | None = None,
    partition_num: int | None = None,
    return_backend: str = "spark",
    spark: SparkSession | None = None,
    max_pool_size: int | None = None,  # accepted for API parity; Spark pools
    preallocation: bool = False,       # accepted for API parity; no-op (SURVEY 4.2)
) -> Any:
    """Load ``query`` from ``conn``, optionally split into range partitions.

    ``conn`` may be a parquet-catalog directory, a ``postgres://`` URI, a
    JDBC URL, or a :class:`Source`.  ``return_backend`` selects the output
    representation; ``"spark"`` (default) keeps the result lazy.
    """
    if return_backend not in _BACKENDS:
        raise ValueError(
            f"unknown return_backend {return_backend!r}; one of {_BACKENDS}"
        )
    del max_pool_size, preallocation  # Spark manages pooling and buffers
    source = get_source(conn, spark)
    queries = [query] if isinstance(query, str) else list(query)
    cfg = PartitionConfig(
        query=queries,
        partition_on=partition_on,
        partition_num=partition_num,
        partition_range=partition_range,
    )
    plan = _plan(source, cfg)
    df = source.read_partitioned(plan)
    return export(df, return_backend)


def export(df: DataFrame, backend: str = "spark") -> Any:
    """Materialize a DataFrame into the requested in-memory representation.

    The pyarrow path is the analog of the reference's zero-copy Arrow
    hand-off (conecta-python/src/lib.rs:76-101); arro3/nanoarrow ride the
    Arrow PyCapsule interface off the pyarrow table (both import-guarded --
    reference does the same, __init__.py:225-249).
    """
    if backend == "spark":
        return df
    if backend == "pandas":
        return df.toPandas()
    table = df.toArrow()
    if backend == "pyarrow":
        return table
    if backend == "polars":
        try:
            import polars  # type: ignore
        except ImportError as e:
            raise ImportError("polars is not installed") from e
        return polars.from_arrow(table)
    if backend == "arro3":
        try:
            from arro3.core import Table  # type: ignore
        except ImportError as e:
            raise ImportError("arro3-core is not installed") from e
        return Table.from_arrow(table)
    if backend == "nanoarrow":
        try:
            import nanoarrow  # type: ignore
        except ImportError as e:
            raise ImportError("nanoarrow is not installed") from e
        return nanoarrow.ArrayStream.from_c(table.__arrow_c_stream__())
    raise ValueError(f"unknown backend {backend!r}")
