"""Write-side API: partitioned / bucketed parquet sinks and Arrow export.

The reference is read-only (its only "sink" is the zero-copy Arrow hand-off,
conecta-python/src/lib.rs:76-101 -- ours is io.export).  A real pipeline
needs durable outputs, so the engine adds the two layouts that matter at
100 TB:

* **Hive-partitioned parquet** (``partition_by``): directory pruning turns
  predicate-on-partition-column queries into partial scans.  Rule of thumb:
  partition on low-cardinality columns only (date, lang, source); a
  high-cardinality partition column creates millions of tiny files.
* **Bucketed tables** (``bucket_by``): pre-shuffles rows into a fixed
  number of hash buckets at write time, so later joins/aggregations on the
  bucket key skip their shuffle entirely (bucketed sort-merge join).  Spark
  requires ``saveAsTable`` for bucket metadata to survive.

``repartition`` before write controls output file count -- the single most
common cause of small-file pathology in long-lived datasets.  ``target_mb``
and ``upsert_parquet`` derive that count from Catalyst's byte estimate.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from .parquet import footer_schema


def estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for ``df`` (bytes): parquet footer totals
    propagated through the optimized plan's column pruning and filter
    selectivity.  The same statistic AQE uses to pick join strategies --
    free (no job runs), and accurate enough to size output files."""
    return int(
        df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )


def read_split_bytes(spark: SparkSession, total_bytes: int) -> int:
    """The split size Spark's file reader picks for a ``total_bytes`` scan
    (``FilePartition.maxSplitBytes``): ``spark.sql.files.maxPartitionBytes``,
    lowered to one split per core (``spark.sql.files.minPartitionNum``, by
    default the default parallelism) for a scan smaller than that, but not
    below ``spark.sql.files.openCostInBytes``.  The per-core share rounds
    up, so a mid-size scan comes to exactly one split per core."""
    jss = spark._jsparkSession
    conf = jss.sessionState().conf()
    cores = conf.filesMinPartitionNum()
    cores = cores.get() if cores.isDefined() else jss.leafNodeDefaultParallelism()
    return min(
        conf.filesMaxPartitionBytes(),
        max(1, conf.filesOpenCostInBytes(), -(-total_bytes // cores)),
    )


def output_files(df: DataFrame, target_bytes: int | None = None) -> int | None:
    """How many files of ``target_bytes`` hold ``df``:
    ``ceil(estimated_bytes(df) / target_bytes)``, at least 1; without a
    target, files of the split Spark's reader would use for ``df``
    (:func:`read_split_bytes`).  ``None`` (keep the plan's partitioning)
    when Catalyst cannot size an input of ``df``: an RDD-backed or JDBC
    relation reports ``spark.sql.defaultSizeInBytes`` (Long.MaxValue),
    which projections and unions then scale into a number that sizes
    nothing.  Free: plan statistics only, no job runs."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    if any(
        leaves.apply(i).stats().sizeInBytes() >= conf.defaultSizeInBytes()
        for i in range(leaves.size())
    ):
        return None
    est = estimated_bytes(df)
    target_bytes = target_bytes or read_split_bytes(df.sparkSession, est)
    # coalesce/repartition take a Java int.
    return min(max(1, -(-est // target_bytes)), 2**31 - 1)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: tuple | list = (),
    mode: str = "overwrite",
    target_files: int | None = None,
    target_mb: int | None = None,
    cluster_by: tuple | list = (),
    zorder_by: tuple | list = (),
    zorder_bits: int = 16,
    compression: str = "snappy",
) -> None:
    """Write ``df`` as (optionally hive-partitioned) parquet.

    ``target_mb`` sizes the output from Catalyst's byte estimate instead
    of a hand-picked file count: ``ceil(estimated_bytes / target_mb)``
    output files (:func:`output_files`).  At 100 TB this is the difference
    between a dataset of healthy ~512 MB files and either
    thousands-of-tiny-files (fixed count too high for a filtered write) or
    single-file hotspots (too low).  When Catalyst cannot size an input of
    ``df`` (RDD-backed, JDBC) there is no estimate to divide, and the write
    keeps ``df``'s own partitioning.

    ``cluster_by`` sorts WITHIN each output partition before writing (no
    extra shuffle -- a local sort only).  Parquet stores per-row-group
    min/max for every column; clustering makes those ranges narrow and
    disjoint, so later predicate scans on the cluster column skip whole
    row groups.  The cheap half of Z-ordering, for the single-column case
    that dominates real query logs (time, tenant, id).

    ``zorder_by`` is the multi-column version: rows are RANGE-partitioned
    across output files by a Morton-interleaved key over the named integer
    columns (functions/zorder.py) and locally sorted by it, so each
    file/row-group covers one segment of the space-filling curve --
    file-level AND row-group min/max stats narrow for EVERY named column
    at once, and a predicate on any of them prunes (the layout behind
    OPTIMIZE ZORDER BY).  The key is computed map-side after a one-row
    min/max probe, used only for layout, and never written.  Costs one
    range-partition shuffle -- the same exchange any global layout pass
    pays.  Mutually exclusive with ``cluster_by``.
    """
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    out = df
    if target_mb and not target_files:
        target_files = output_files(df, target_mb << 20)
    if zorder_by:
        from ..functions.zorder import with_zorder_key

        out = with_zorder_key(out, list(zorder_by), bits=zorder_bits)
        if target_files:
            out = out.repartitionByRange(target_files, "_zkey")
        out = out.sortWithinPartitions("_zkey").drop("_zkey")
    elif target_files:
        cols = list(partition_by)
        out = df.repartition(target_files, *cols) if cols else df.repartition(target_files)
    if cluster_by:
        out = out.sortWithinPartitions(*cluster_by)
    writer = out.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: tuple | list,
    n_buckets: int,
    sort_by: tuple | list = (),
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Write ``df`` as a bucketed (and optionally sorted) managed table.

    Joins between two tables bucketed the same way on the join key run
    shuffle-free; aggregations on the bucket key skip the exchange."""
    writer = df.write.mode(mode).format("parquet").bucketBy(
        n_buckets, *bucket_by
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: tuple | list,
    target_mb: int | None = None,
) -> None:
    """MERGE-by-key into a parquet dataset: rows of ``updates`` replace
    current rows sharing their key, everything else is carried forward
    (parquet is immutable, so the merge is rewrite-and-swap -- the same
    copy-on-write strategy table formats use under their logs).

    Dataflow: current LEFT ANTI updates on the key (drops the rows being
    replaced), union the updates, write to a staging directory, then swap
    directories.  The anti join broadcasts the update side when Catalyst
    sizes it under ``spark.sql.autoBroadcastJoinThreshold`` -- a job of its
    own -- and streams the current dataset through the rewrite with no
    shuffle; a larger update side is sort-merge joined, which shuffles
    unless both sides are bucketed on the key.  The current dataset's
    schema comes from the Spark row schema in its first footer, read on
    the driver (:func:`footer_schema`); a dataset without one is read with
    Spark's own inference, which costs a job of its own.

    The rewrite is sized by bytes, not by its input splits: it writes one
    file per split Spark's reader would cut from it (:func:`output_files`,
    :func:`read_split_bytes`) -- ``spark.sql.files.maxPartitionBytes``
    for a large dataset; one file per core for a mid-size one, but none
    smaller than ``spark.sql.files.openCostInBytes`` -- or one per
    ``target_mb`` when given.  It gets there with ``coalesce``, which
    merges partitions without a shuffle and never makes more than the plan
    has.  Without it every upsert would add the update side as one more
    small file.  The first write of a new dataset follows the same rule.
    When Catalyst cannot size an input (RDD-backed or JDBC ``updates``)
    the plan's partitioning is kept.

    Crash-safety contract: each parquet write is job-atomic (Spark's
    commit protocol, ``_SUCCESS`` marks completion), and the swap is two
    renames.  A crash at ANY point leaves the dataset recoverable, and
    :func:`recover_upsert` -- run automatically at the start of every
    call -- restores the invariant "``path`` holds exactly one complete
    version": a half-written staging dir (no ``_SUCCESS``) is discarded
    and the current table stands; a crash between the two renames rolls
    FORWARD (the staged version is complete and already the committed
    intent) or, if staging never completed, rolls BACK to the retired
    copy, which is never deleted until the swap has fully completed.  A
    reader racing the swap itself can still observe a missing directory
    for the instant between renames and must retry -- that (not torn
    data) is the honest ceiling without a transaction log; pipelines
    needing concurrent-reader isolation should front this with a table
    format, and everything above (the merge dataflow) carries over
    unchanged.
    """
    keys = list(key_cols)
    recover_upsert(path)
    staged, retired = _upsert_side_dirs(path)
    first = not os.path.exists(path)
    if first:
        # The FIRST write stages too: writing straight to ``path`` would
        # leave a torn final directory (no ``_SUCCESS``) if the job dies
        # mid-write, which recover_upsert's existence check then passes
        # off as a complete table and later upserts silently merge into.
        # Staged-then-renamed, a mid-write crash leaves only a staging
        # dir without ``_SUCCESS`` (swept as "missing") and a crash after
        # the write rolls forward -- the same guarantees as every
        # subsequent upsert.
        merged = updates
    else:
        schema = footer_schema(spark, path)
        reader = spark.read if schema is None else spark.read.schema(schema)
        current = reader.parquet(path)
        merged = current.join(updates, keys, "left_anti").unionByName(updates)
    n = output_files(merged, target_mb << 20 if target_mb else None)
    if n is not None:
        merged = merged.coalesce(n)
    write_parquet(merged, staged)
    if not first:
        shutil.rmtree(retired, ignore_errors=True)
        os.rename(path, retired)
    os.rename(staged, path)
    shutil.rmtree(retired, ignore_errors=True)


def _upsert_side_dirs(path: str) -> tuple[str, str]:
    base = path.rstrip("/")
    return base + ".__staging__", base + ".__retired__"


def recover_upsert(path: str) -> str:
    """Restore the rewrite-and-swap invariant after a crash; idempotent,
    pure directory surgery (no Spark job).  Returns what it did:

    * ``"clean"`` -- ``path`` exists; any stale staging/retired dirs from
      an interrupted earlier call are swept.
    * ``"rolled_forward"`` -- ``path`` was missing but staging carries a
      complete (``_SUCCESS``-marked) new version: promote it.  The crash
      happened between the two swap renames; the upsert that staged it
      is thereby completed.
    * ``"rolled_back"`` -- ``path`` missing, staging absent/incomplete,
      retired copy present: restore the pre-upsert version.
    * ``"missing"`` -- nothing to recover (first write never happened,
      or died mid-write: the first write stages like every other, so its
      half-written staging dir is swept here and ``path`` never holds a
      torn version).

    A ``path`` that exists is trusted as-is: every writer in this module
    reaches it only via an atomic rename of a ``_SUCCESS``-complete
    staging dir, and a pre-existing dataset the USER placed there (which
    may legitimately lack ``_SUCCESS`` -- e.g. written with the marker
    disabled) must not be second-guessed into deletion.
    """
    staged, retired = _upsert_side_dirs(path)
    if os.path.exists(path):
        shutil.rmtree(staged, ignore_errors=True)
        shutil.rmtree(retired, ignore_errors=True)
        return "clean"
    if os.path.exists(os.path.join(staged, "_SUCCESS")):
        os.rename(staged, path)
        shutil.rmtree(retired, ignore_errors=True)
        return "rolled_forward"
    if os.path.exists(retired):
        os.rename(retired, path)
        shutil.rmtree(staged, ignore_errors=True)
        return "rolled_back"
    shutil.rmtree(staged, ignore_errors=True)
    return "missing"
