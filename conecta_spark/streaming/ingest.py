"""Streaming corpus ingest with incremental dedup: each microbatch is
anti-joined on its content hash against the accumulated snapshot, and only
novel documents are appended -- the streaming form of
:func:`~conecta_spark.operators.dedup.incremental_dedup`, which is how a
live 100 TB corpus actually grows (a firehose of scraped docs, most of
them already seen).

Why ``foreachBatch`` instead of ``dropDuplicates`` on the stream:

* ``dropDuplicatesWithinWatermark`` bounds its state by event time -- a
  document that reappears a month later is re-admitted.  Corpus dedup has
  no watermark: "seen EVER" is the contract, and the accumulated snapshot
  on disk IS that state, already durable and shared with the batch path.
* The snapshot anti-join reuses the exact batch operator, so streaming
  and batch ingest provably agree (tested: replaying the same files
  through both paths yields the same corpus).

Delivery semantics: ``foreachBatch`` is at-least-once -- a crash between
the append and the checkpoint commit replays the batch.  Two mechanisms
make the replay harmless: the parquet job commit is atomic (a crashed
write leaves only uncommitted temporaries, never partial data), and the
content-hash anti-join makes a FULL re-run idempotent -- the replayed
batch sees its own rows already in the snapshot and appends nothing.  So
corpus content is effectively exactly-once without a transaction log,
which is precisely why production ingest dedups on content rather than
trusting delivery guarantees.

Scale notes: the snapshot side is read as hashes only (fixed-width column
off the parquet scan -- at 100 TB, store the hash as its own column at
write time so the scan never touches text; ``snapshot_hashes`` does this
when the column exists).  Each microbatch shuffles only its own rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet import table_files


def snapshot_hashes(spark: SparkSession, snapshot_path: str) -> DataFrame:
    """The dedup index of the accumulated snapshot: its distinct content
    hashes.  Prefers a materialized ``h`` column (hash-at-write) over
    re-hashing text."""
    snap = spark.read.parquet(snapshot_path)
    if "h" in snap.columns:
        return snap.select("h").distinct()
    return snap.select(F.sha2(F.col("text"), 256).alias("h")).distinct()


def ingest_batch(
    batch: DataFrame, snapshot_path: str, text_col: str = "text"
) -> int:
    """Append ``batch``'s novel documents (content not in the snapshot,
    nor duplicated within the batch itself) to the snapshot.  Returns the
    number appended.  The written rows carry the content hash as ``h`` so
    future ingests never re-hash the snapshot."""
    spark = batch.sparkSession
    hashed = batch.withColumn("h", F.sha2(F.col(text_col), 256))
    # in-batch dedup first: one row per content hash (min doc_id wins,
    # deterministically), then the snapshot anti-join
    from pyspark.sql.window import Window

    first = (
        hashed.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("h").orderBy(hashed.columns[0])
            ),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    has_snapshot = os.path.isdir(snapshot_path) and bool(
        table_files(snapshot_path).files
    )
    if has_snapshot:
        novel = first.join(
            snapshot_hashes(spark, snapshot_path), "h", "left_anti"
        )
    else:
        novel = first
    novel = novel.persist()
    n = novel.count()
    if n:
        novel.write.mode("append").parquet(snapshot_path)
    novel.unpersist()
    return n


def stream_ingest(
    stream: DataFrame,
    snapshot_path: str,
    checkpoint: str,
    text_col: str = "text",
    prepare=None,
):
    """Run a document stream through incremental dedup into the snapshot.
    Returns the started StreamingQuery (availableNow-style callers should
    ``awaitTermination()``).

    ``prepare`` is an optional batch transform applied to each microbatch
    BEFORE dedup -- the hygiene stages of the batch corpus pipeline (x37's
    quality gate, PII redaction) drop in unchanged, because every stage is
    a stateless DataFrame transform; state lives only in the snapshot.
    Gate-then-redact ordering and the redaction-before-hash contract are
    the caller's composition, exactly as in the batch pipeline.
    """

    def _once(b: DataFrame, _id: int) -> None:
        if prepare is not None:
            b = prepare(b)
        ingest_batch(b, snapshot_path, text_col)

    return (
        stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_once)
        .start()
    )
