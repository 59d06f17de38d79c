"""Multi-format directory sources: csv / json (lines) / orc catalogs with
the same contract as the parquet catalog (one file or directory per table,
view named after the stem, SQL answered over the views).

The reference supports exactly one file-free source (Postgres); these are
engine extensions riding Spark's built-in readers.  Format notes:

* csv: ``header`` + ``inferSchema`` on by default -- schema inference costs
  an extra pass; at scale pass an explicit ``schema`` option instead.
* json: JSON-lines; Spark infers by sampling.
* orc: columnar like parquet, predicate pushdown works the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .parquet import ParquetDirSource

_FORMATS = {"csv", "json", "orc"}

_DEFAULT_OPTIONS: dict[str, dict[str, str]] = {
    "csv": {"header": "true", "inferSchema": "true"},
    "json": {},
    "orc": {},
}


class FilesDirSource(ParquetDirSource):
    """A directory of ``<table>.<fmt>`` files (or per-table subdirectories)
    as a queryable catalog."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        fmt: str,
        options: dict[str, str] | None = None,
    ):
        if fmt not in _FORMATS:
            raise ValueError(f"unsupported format {fmt!r}; one of {_FORMATS}")
        self.fmt = fmt
        self.options = {**_DEFAULT_OPTIONS[fmt], **(options or {})}
        self.EXT = f".{fmt}"
        super().__init__(spark, root)

    def _load(self, path: str) -> DataFrame:
        return self._session.read.format(self.fmt).options(**self.options).load(path)


def read_with_quarantine(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "json",
    options: dict[str, str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Read a csv/json dataset with malformed records DIVERTED, not fatal:
    returns ``(good, quarantine)`` where ``good`` carries the declared
    schema and ``quarantine`` carries the raw corrupt lines.

    At ingest scale, malformed records are a statistical certainty
    (truncated uploads, encoding damage, schema drift from an upstream
    deploy), and the two failure postures Spark offers by default are both
    wrong for a pipeline: FAILFAST kills a multi-hour job on one bad line,
    and silent PERMISSIVE nulls corrupt the dataset invisibly.  The
    quarantine split keeps the job alive AND auditable -- count the
    quarantine, alert on its rate, reprocess after the upstream fix.

    Mechanics: PERMISSIVE mode with ``columnNameOfCorruptRecord`` captures
    each unparseable line verbatim in a side column; the two outputs are
    filters on it.  Requires an explicit ``schema`` (the corrupt-record
    column cannot survive schema inference) -- which a production ingest
    should pin anyway.  Spark requires the parsed relation to be cached or
    re-read for the corrupt column to be referenceable; we persist the
    narrow parsed frame once, which both satisfies that contract and
    avoids double-reading the input.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if fmt not in ("csv", "json"):
        raise ValueError("quarantine reads support csv/json, got " + fmt)
    corrupt = "_corrupt_record"
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt, T.StringType())]
    )
    df = (
        spark.read.format(fmt)
        .options(**(options or {}))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .schema(full)
        .load(path)
        .persist()
    )
    good = df.where(F.col(corrupt).isNull()).drop(corrupt)
    bad = df.where(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw_record")
    )
    return good, bad
