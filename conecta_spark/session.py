"""SparkSession factory with Arrow-friendly defaults.

The reference engine (conecta) hands results to Python as zero-copy Arrow
tables (conecta-python/src/lib.rs:76-101).  Our Spark-native analog keeps
Arrow interchange on by default and sizes shuffle parallelism for the local
test harness while remaining sane on a real cluster (AQE coalesces).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Configs applied by :func:`get_session`.  All of them are safe on a real
#: cluster: AQE re-plans at runtime, Arrow only affects driver interchange.
DEFAULT_CONFIGS: dict[str, str] = {
    # Arrow interchange for toPandas()/toArrow()/pandas_udf -- the analog of
    # the reference's zero-copy Arrow hand-off.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Adaptive execution: runtime shuffle-partition coalescing and skew-join
    # splitting -- our first line of defense at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Static conf (applies at JVM start): the generated-class cache defaults
    # to 100 entries, which a session running the full 71-query registry
    # overflows -- once it thrashes, every re-run pays full Janino
    # recompilation (measured: late-registry LSH queries swinging 1.3s ->
    # 9.4s between bench sessions).  Classes are KBs; 5000 is cheap.
    "spark.sql.codegen.cache.maxEntries": "5000",
    # Wider vectorized-reader batches cut per-batch dispatch overhead on
    # full-width scans ~30% (measured 0.45s -> 0.31s on a 600k x 16-col
    # scan); 16384 rows x 8B x ~100 cols stays ~13MB per in-flight batch.
    "spark.sql.parquet.columnarReaderBatchSize": "16384",
    # Deterministic timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Naive parquet timestamps (isAdjustedToUTC=false, e.g. events.ts) read
    # as TIMESTAMP_NTZ, pinned explicitly so local sessions match the
    # driver's regardless of the Spark default: NTZ arithmetic is
    # timezone-independent and equals DuckDB's naive-timestamp semantics.
    # Timestamp consumers go through queries.epoch_micros, which handles
    # both TIMESTAMP and TIMESTAMP_NTZ.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # ANSI off: we want permissive casts like the reference loader, which
    # never errors on overflow (it wraps in release builds).
    "spark.sql.ansi.enabled": "false",
}


def default_parallelism() -> int:
    """Shuffle partition count for the current machine.

    On a real cluster this should be ~2-3x total cores; locally the
    ``SPARK_GRAFT_CPUS`` env var (driver contract) wins.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(int(cpus), 1)
    return os.cpu_count() or 8


def get_session(app_name: str = "conecta-spark", master: str | None = None,
                extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Get or create a SparkSession with the engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{default_parallelism()}]")
    conf = dict(DEFAULT_CONFIGS)
    conf.setdefault("spark.sql.shuffle.partitions", str(default_parallelism()))
    conf.setdefault("spark.driver.memory", "8g")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: The :data:`DEFAULT_CONFIGS` keys that can be set on a running session.
_RUNTIME_CONF_KEYS = (
    "spark.sql.session.timeZone",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.adaptive.enabled",
    "spark.sql.ansi.enabled",
    "spark.sql.parquet.columnarReaderBatchSize",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created
    session (e.g. the driver's).  Only touches runtime-mutable confs."""
    for k in _RUNTIME_CONF_KEYS:
        try:
            spark.conf.set(k, DEFAULT_CONFIGS[k])
        except Exception:  # immutable in this deployment -- fine, best effort
            pass
    return spark
