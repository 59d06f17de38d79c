"""Event-stream operators: tumbling-window rollups and gap-based
sessionization, in both batch form (oracle-checkable, SURVEY 2.3 Q16 family)
and Structured Streaming form (readStream + watermark + state).

The batch and streaming forms share semantics: the batch query IS the
correctness oracle for the streaming one (tests assert availableNow over the
same parquet produces the batch result).

Scale notes (100 TB / real streams):

* hourly rollup: partial aggregation map-side; the shuffle key
  (window, event_type) is low-cardinality -- AQE coalesces.
* sessionization (batch): the only shuffle is repartition-by-user for the
  lag/cumsum window; gap logic is two window functions, no UDF.
* sessionization (streaming): per-user state via applyInPandasWithState
  with event-time timeout = the gap -- state size is O(active users), not
  O(events).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.store import footer_row_count
from ..queries import dsum, epoch_micros, register, t, DSUM
from ..session import copy_sql_conf
from ..sources.parquet import (
    NANOS_AS_LONG,
    _nanos_timestamp_columns,
    table_files,
    table_fingerprint,
)

SESSION_GAP_US = 1_800_000_000  # 30 min in microseconds


# -- batch forms -------------------------------------------------------------


def hourly_rollup(events: DataFrame) -> DataFrame:
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("c"), dsum("value", "v"))
    )


def sessionize_batch(events: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the time since
    the previous event exceeds ``gap_us``.  All-integer microsecond
    arithmetic for engine parity."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    e = events.select(
        "user_id", "event_id", epoch_micros(events).alias("tsu")
    )
    flagged = e.withColumn("prev_tsu", F.lag("tsu").over(w)).withColumn(
        "is_new",
        F.when(
            F.col("prev_tsu").isNull()
            | ((F.col("tsu") - F.col("prev_tsu")) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("tsu").alias("start_us"),
            F.max("tsu").alias("end_us"),
        )
        .withColumn("duration_us", F.col("end_us") - F.col("start_us"))
    )


# -- streaming forms ---------------------------------------------------------


def normalize_event_ts(df: DataFrame, ts_type) -> DataFrame:
    """Normalize the on-disk ``ts`` representation to a watermarkable
    TIMESTAMP column.  Three generations of testdata: TIMESTAMP(NANOS)
    (surfaced as raw long ns via nanosAsLong), timestamp[us] read as
    TIMESTAMP_NTZ (watermarks reject NTZ:
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), and plain TIMESTAMP.  The session
    timezone is pinned to UTC (session.py), so the NTZ cast preserves the
    naive epoch micros exactly."""
    from pyspark.sql import types as T

    if isinstance(ts_type, T.LongType):
        return df.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))")
        )
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _stage_stream_dir(src: str, prefix: str) -> str:
    """Stage a parquet source as a flat symlink directory under /tmp for
    the file-stream source (which requires a directory of FILES and does
    not recurse).  Handles both testdata shapes: a single parquet file
    (driver testdata) and a Spark-written parquet DIRECTORY of part files
    (the SF10 rung) -- the latter is symlinked part-by-part; a directory
    symlink would list as zero input files and the stream would drain
    empty (the rung bug this fixed).

    Layout: ``<root>/<md5(src)>`` is a SYMLINK to a content-addressed
    immutable directory ``<root>/<md5(src)>.v-<md5(targets)>`` whose name
    hashes the ordered list of resolved part paths.  Two properties this
    buys over rebuild-in-place:

    * staleness is detected by symlink TARGETS, not generated names -- a
      source rewritten with the same part count but different Spark UUID
      part filenames hashes to a new version dir and the stage repoints,
      instead of silently replaying the old layout;
    * concurrent sessions staging the same source converge on the same
      version dir and never unlink anything another session's stream may
      be listing -- the build goes into a unique temp dir, is renamed
      into the content-addressed name (atomic; a racing duplicate is
      discarded), and the top-level symlink is swapped with os.replace.
    """
    import hashlib
    import shutil

    root = "/tmp/conecta_spark_stream"
    key = hashlib.md5(src.encode()).hexdigest()[:12]
    stage = os.path.join(root, key)
    listing = table_files(src)
    if listing.partitioned:
        # flat symlinks would drop the partition values in directory names
        raise ValueError(f"cannot stage a hive-partitioned table: {src}")
    want = {
        f"{prefix}-{i:05d}.parquet": f.path
        for i, f in enumerate(listing.files)
    }
    content = hashlib.md5(
        "\n".join(f"{n}\t{t}" for n, t in sorted(want.items())).encode()
    ).hexdigest()[:12]
    version_dir = f"{stage}.v-{content}"
    os.makedirs(root, exist_ok=True)
    if not os.path.isdir(version_dir):
        tmp = f"{stage}.tmp-{uuid.uuid4().hex[:12]}"
        os.makedirs(tmp)
        for name, target in want.items():
            os.symlink(target, os.path.join(tmp, name))
        try:
            os.rename(tmp, version_dir)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            # the benign cause is another session winning the rename race
            # with identical content -- in which case the version dir now
            # exists.  Any other cause (EACCES, EXDEV, a stray FILE
            # occupying the name) must raise here, or the stage symlink
            # below would point at a missing directory and the stream
            # would silently drain empty.
            if not os.path.isdir(version_dir):
                raise
    if os.path.islink(stage):
        if os.readlink(stage) == version_dir:
            return stage
    elif os.path.isdir(stage):
        # pre-content-addressing layout: a real directory of symlinks
        shutil.rmtree(stage, ignore_errors=True)
    tmp_link = os.path.join(root, f".{key}-{uuid.uuid4().hex[:12]}")
    os.symlink(version_dir, tmp_link)
    os.replace(tmp_link, stage)
    return stage


def read_event_stream(spark, sf_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """readStream over the events parquet.  A TIMESTAMP(NANOS) ``ts`` (older
    testdata) needs :data:`NANOS_AS_LONG` on ``spark``, which is set only
    when the file stores one, and is truncated to micros.

    Spark's file-stream source requires a *directory*; the testdata is a
    single read-only file, so we stage a symlink directory under /tmp.  On a
    real deployment the source is already a directory of files landing over
    time and this staging disappears."""
    src_file = os.path.join(sf_dir, "events.parquet")
    if _nanos_timestamp_columns(src_file):
        spark.conf.set(NANOS_AS_LONG, "true")
    stage = _stage_stream_dir(src_file, "events")
    # The streaming source must see the on-disk schema.  Historically the
    # testdata stored ts as TIMESTAMP(NANOS) (surfaced as raw long ns via
    # nanosAsLong); current testdata stores timestamp[us], which the session
    # may read as TIMESTAMP or TIMESTAMP_NTZ.  Normalize all three to a
    # watermarkable timestamp column.  Cached per table fingerprint --
    # repeated invocations must not re-read the footer every call.
    disk_schema = _stream_schema(spark, sf_dir, "events")
    reader = spark.readStream.schema(disk_schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.load(stage)
    return normalize_event_ts(df, disk_schema["ts"].dataType)


def streaming_hourly_rollup(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window rollup; late events beyond the watermark
    are dropped, state is bounded to open windows."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("c"), dsum("value", "v"))
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "c",
            "v",
        )
    )


def streaming_sessionize(
    stream: DataFrame, gap_us: int = SESSION_GAP_US, watermark: str = "1 hour"
):
    """Custom stateful operator: per-user gap sessionization with
    applyInPandasWithState.  State = (open session start/end/count); an
    event-time timeout closes idle sessions."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("start_us", LongType()),
            StructField("end_us", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("end_us", LongType()),
            StructField("n_events", LongType()),
        ]
    )

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "start_us": [start_us],
                    "end_us": [end_us],
                }
            )
            return
        closed: list[tuple[int, int, int]] = []
        cur = state.get if state.exists else None
        ts_list: list[int] = []
        for pdf in pdf_iter:
            ts_list.extend(int(v) for v in pdf["tsu"])
        for tsu in sorted(ts_list):
            if cur is None:
                cur = (tsu, tsu, 0)
            start_us, end_us, n = cur
            if tsu - end_us > gap_us:
                closed.append(cur)
                cur = (tsu, tsu, 1)
            else:
                cur = (start_us, max(end_us, tsu), n + 1)
        if cur is not None:
            state.update(cur)
            state.setTimeoutTimestamp(cur[1] // 1000 + gap_us // 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "n_events": [c[2] for c in closed],
                    "start_us": [c[0] for c in closed],
                    "end_us": [c[1] for c in closed],
                }
            )

    wm = stream.withWatermark("ts", watermark)
    prepared = wm.select(
        "user_id", epoch_micros(wm).alias("tsu"), F.col("ts")
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    watermark_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact-dedup: emit the first occurrence of each key, drop
    replays arriving within the watermark horizon -- including replays whose
    event timestamp jittered, since dedup is on ``keys`` alone
    (``dropDuplicatesWithinWatermark``), not on (keys, event-time).

    State is bounded by the watermark: a key's dedup entry is dropped once
    event time passes ``watermark`` beyond it, so state size is
    O(keys per watermark window), not O(stream history) -- the property
    that makes exact dedup feasible on an unbounded 100 TB/day stream.
    (Batch twin: ``dropDuplicates``/x05 content-hash dedup.)"""
    return stream.withWatermark(
        watermark_col, watermark
    ).dropDuplicatesWithinWatermark(keys)


def streaming_interval_pairs(
    stream: DataFrame,
    radius_us: int = 300_000_000,
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream self-join: purchase/error event pairs within
    ``radius_us`` per user (streaming twin of the batch interval join,
    operators/asof.py x23, which is its correctness oracle).

    The join condition ranges over the *event-time columns themselves*, so
    Spark derives a state-retention bound from the watermark: a buffered
    purchase row is dropped once the error-side watermark passes
    ``p_t + radius`` -- state is O(events per watermark+radius window),
    not O(stream history).  Rewriting the condition on derived epoch
    columns would lose that bound and grow state forever; this is the
    watermark-literate form."""
    p = (
        stream.where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_t"))
        .withWatermark("p_t", watermark)
    )
    a = (
        stream.where(F.col("event_type") == "error")
        .select(F.col("user_id").alias("a_user"), F.col("ts").alias("a_t"))
        .withWatermark("a_t", watermark)
    )
    radius = F.expr(f"INTERVAL {radius_us} MICROSECOND")
    joined = p.join(
        a,
        (F.col("user_id") == F.col("a_user"))
        & (F.col("a_t") >= F.col("p_t") - radius)
        & (F.col("a_t") <= F.col("p_t") + radius),
        how,
    )
    # how="left_outer": a purchase with no error inside its radius EMITS
    # with null error-side columns once the error-side watermark passes
    # p_t + radius -- the absence signal ("purchase with no nearby error")
    # a monitoring pipeline needs, impossible with the inner form.  State
    # bound is identical; nulls appear only when the watermark proves no
    # match can still arrive.
    return joined.select(
        "user_id",
        F.unix_micros("p_t").alias("p_ts"),
        F.unix_micros("a_t").alias("a_ts"),
    )


# -- registered queries ------------------------------------------------------


@register(
    "x15_events_hourly",
    "SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, "
    f"event_type, COUNT(*) AS c, {DSUM('value')} AS v "
    "FROM events GROUP BY 1, 2",
    "tumbling 1h window rollup (batch form of the streaming aggregation)",
)
def x15_hourly(spark, sf_dir) -> DataFrame:
    return hourly_rollup(t(spark, sf_dir, "events"))


@register(
    "x16_sessionization",
    "WITH e AS (SELECT user_id, event_id, "
    " epoch_us(CAST(ts AS TIMESTAMP)) AS tsu FROM events), "
    "flagged AS (SELECT user_id, event_id, tsu, "
    " lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS prev_tsu "
    " FROM e), "
    "seq AS (SELECT user_id, tsu, "
    " CAST(SUM(CASE WHEN prev_tsu IS NULL OR tsu - prev_tsu > 1800000000 "
    "  THEN 1 ELSE 0 END) OVER ("
    "  PARTITION BY user_id ORDER BY tsu, event_id "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    " AS session_seq "
    " FROM flagged) "
    "SELECT user_id, session_seq, COUNT(*) AS n_events, "
    " MIN(tsu) AS start_us, MAX(tsu) AS end_us, "
    " MAX(tsu) - MIN(tsu) AS duration_us "
    "FROM seq GROUP BY user_id, session_seq",
    "gap-based sessionization (30 min) -- batch twin of the stateful "
    "streaming operator",
)
def x16_sessions(spark, sf_dir) -> DataFrame:
    return sessionize_batch(t(spark, sf_dir, "events"))


@register(
    "x65_streaming_hourly_parity",
    "SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, "
    f"event_type, COUNT(*) AS c, {DSUM('value')} AS v "
    "FROM events GROUP BY 1, 2",
    "STREAMING path driver-proof: the watermarked tumbling-window rollup "
    "executed as a real Structured Streaming query (availableNow trigger, "
    "complete-output memory sink) and compared against the same batch SQL "
    "oracle as x15.  Complete mode emits every window at termination "
    "regardless of watermark progress, which is what makes the streamed "
    "result deterministic and oracle-comparable; the append-mode/watermark "
    "semantics are pinned separately in tests/test_streaming.py.  The "
    "memory sink is the test-scale harness -- a deployment writes append "
    "mode to a real sink with state bounded to open windows",
)
def x65_streaming_hourly(spark, sf_dir) -> DataFrame:
    # State is one row per open (hour window, event_type) group -- exactly
    # the batch twin's output cardinality.
    sess = _state_session(
        spark, sf_dir, "events", "x65",
        lambda: hourly_rollup(t(spark, sf_dir, "events")).count(),
    )
    return _drain(
        streaming_hourly_rollup(read_event_stream(sess, sf_dir)),
        "complete", "x65",
    )


def streaming_session_windows(
    stream: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """Per-user gap sessionization via Spark's NATIVE ``session_window``
    aggregation -- the third streaming sessionization mechanism in this
    module and the one a deployment should reach for first:

    * :func:`sessionize_batch` -- batch window functions (the oracle);
    * :func:`streaming_sessionize` -- custom applyInPandasWithState
      (the "Spark lacks the operator" escape hatch, kept as the template
      for genuinely custom state);
    * this -- the built-in session-window GROUP BY, where the state store
      itself merges overlapping per-batch sessions (JVM-side, no Python
      boundary, mergeable across micro-batches).

    Boundary semantics (pinned by test): an event at exactly
    ``prev_end = prev_ts + gap`` MERGES into the open session -- identical
    to the batch rule ``ts - prev_ts > gap`` starting a new session, so
    the x16 oracle transfers with ``end_us = MAX(tsu) + gap_us``.

    Scale shape: one shuffle on (user_id), map-side partial session
    assembly, state = one row per OPEN session (bounded by the watermark
    in append mode; complete-output memory sink is the test-scale
    harness, the x65/x71 pattern).  At 100 TB/day the state is
    O(active users), never O(events).
    """
    return (
        stream.groupBy(
            F.col("user_id"), F.session_window(F.col("ts"), gap)
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("start_us"),
            F.unix_micros("session_window.end").alias("end_us"),
            "n_events",
        )
    )


@register(
    "x72_streaming_session_window",
    "WITH e AS (SELECT user_id, event_id, "
    " epoch_us(CAST(ts AS TIMESTAMP)) AS tsu FROM events), "
    "flagged AS (SELECT user_id, event_id, tsu, "
    " lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS prev_tsu "
    " FROM e), "
    "seq AS (SELECT user_id, tsu, "
    " CAST(SUM(CASE WHEN prev_tsu IS NULL OR tsu - prev_tsu > 1800000000 "
    "  THEN 1 ELSE 0 END) OVER ("
    "  PARTITION BY user_id ORDER BY tsu, event_id "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    " AS session_seq "
    " FROM flagged) "
    "SELECT user_id, MIN(tsu) AS start_us, "
    " MAX(tsu) + 1800000000 AS end_us, COUNT(*) AS n_events "
    "FROM seq GROUP BY user_id, session_seq",
    "STREAMING native session windows: per-user 30-min-gap sessions via "
    "Spark's built-in session_window aggregation executed as a real "
    "Structured Streaming query (availableNow trigger, complete-output "
    "memory sink) -- the state store merges overlapping sessions across "
    "micro-batches JVM-side (vs x16's batch window functions and the "
    "applyInPandasWithState custom operator, both pinned in "
    "tests/test_streaming.py).  Oracle = the x16 gap CTE with session end "
    "= MAX(tsu) + gap; the exact-gap boundary (event at prev+gap merges) "
    "is proven equivalent by test",
)
def x72_streaming_session_window(spark, sf_dir) -> DataFrame:
    # Session-window state is one row per session -- exactly the batch
    # twin's output cardinality.
    sess = _state_session(
        spark, sf_dir, "events", "x72",
        lambda: sessionize_batch(t(spark, sf_dir, "events")).count(),
    )
    return _drain(
        streaming_session_windows(read_event_stream(sess, sf_dir)),
        "complete", "x72",
    )


#: Estimated in-store bytes per buffered stream-stream join state row
#: (key + event-time + store/versioning overhead; HDFS-backed store).
STATE_ROW_BYTES = 256
#: Target state volume per state-store partition.  Each of a streaming
#: join's 2 x N state stores pays a fixed open/commit cost per
#: micro-batch, so partitions should be sized to state VOLUME, not the
#: session's scan parallelism: measured ladder at sf0.1 (~40k buffered
#: rows): 32 partitions = 5.9-10 s, 8 = 2.5-2.9 s, identical rows.
STATE_PARTITION_TARGET_BYTES = 2 << 20


def derive_state_partitions(
    n_state_rows: int,
    row_bytes: int = STATE_ROW_BYTES,
    target_bytes: int = STATE_PARTITION_TARGET_BYTES,
    max_partitions: int | None = None,
) -> int:
    """State-store partition count from estimated state volume: the
    next power of two covering ``n_state_rows * row_bytes`` at
    ``target_bytes`` per partition, clamped to ``[1, max_partitions]``.

    Power of two so nearby corpus sizes don't thrash the count (a
    streaming query freezes shuffle.partitions into its state layout at
    first start, so the derivation must be stable run-to-run); the clamp
    cap is the cluster's parallelism -- past that, more state partitions
    only add fixed per-store overhead.  At sf0.1's ~40k buffered rows
    this derives 8, reproducing the measured-optimal ladder point; at a
    10M-event rung it derives the parallelism clamp, which is the
    correct large-state answer."""
    import math

    need = math.ceil(max(1, n_state_rows) * row_bytes / target_bytes)
    parts = 1 << max(0, math.ceil(math.log2(need))) if need > 1 else 1
    if max_partitions is not None:
        parts = max(1, min(parts, max_partitions))
    return parts


#: One child session per (application, partition count), reused across
#: invocations: a bench/twin loop calls x76 many times per process, and a
#: fresh newSession() each time would accumulate JVM session state for the
#: lifetime of the context.  Keyed by applicationId (id() values can be
#: reused across GC'd sessions -- the shared_minhash_pairs convention).
_STREAM_SESSIONS: dict = {}


def _stream_session(spark, shuffle_partitions: int):
    """A child SparkSession (shared SparkContext, isolated SQLConf) for
    running one streaming query with its own state-partition count --
    session-global conf mutation would leak the override into any query
    planned concurrently (bench alongside driver).  It gets the parent's
    SQL conf as it is at call time (:func:`copy_sql_conf`), plus the
    override.  It holds no memory-sink view between calls: :func:`_drain`
    drops each one as soon as it has taken the sink's table."""
    key = (spark.sparkContext.applicationId, shuffle_partitions)
    sess = _STREAM_SESSIONS.get(key)
    if sess is None:
        sess = spark.newSession()
        # evict only DEAD-app entries: same-app sessions with other
        # partition counts are exactly what this cache exists to reuse
        # (alternating derived counts in one process must not thrash a
        # fresh newSession() per call)
        for stale_key in [k for k in _STREAM_SESSIONS if k[0] != key[0]]:
            del _STREAM_SESSIONS[stale_key]
        _STREAM_SESSIONS[key] = sess
    copy_sql_conf(
        sess, spark, {"spark.sql.shuffle.partitions": str(shuffle_partitions)}
    )
    return sess


#: (entry label, table fingerprint) -> the entry's estimated state rows:
#: a probe is a Spark job (or a footer walk); caching it per content
#: fingerprint keeps repeated registry invocations from re-scanning a
#: static corpus, and a rewritten corpus is probed again.
_STATE_PROBE_CACHE: dict = {}


def _state_session(spark, sf_dir: str, table: str, label: str, probe):
    """The :func:`_stream_session` sized for ``label``'s state: ``probe()``
    estimates its state rows once per :func:`table_fingerprint` of
    ``table``, and :func:`derive_state_partitions` turns that into the
    state-partition count, capped at the cluster's parallelism."""
    key = (label, table_fingerprint(os.path.join(sf_dir, f"{table}.parquet")))
    n_state = _STATE_PROBE_CACHE.get(key)
    if n_state is None:
        n_state = _STATE_PROBE_CACHE[key] = probe()
    parts = derive_state_partitions(
        n_state, max_partitions=spark.sparkContext.defaultParallelism
    )
    return _stream_session(spark, parts)


def _drain(stream: DataFrame, output_mode: str, label: str) -> DataFrame:
    """Run ``stream`` to completion (availableNow trigger) into a memory
    sink and return the sink's table in the stream's session.

    The sink's temp view is dropped before returning: the returned
    DataFrame's plan holds the sink itself, so it still collects the
    drained rows, and no call leaves a view (with its rows) behind in
    any session."""
    sess = stream.sparkSession
    name = f"{label}_{uuid.uuid4().hex}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                f"{label} streaming query did not terminate in 300s"
            )
        return sess.table(name)
    finally:
        sess.catalog.dropTempView(name)


#: On-disk schema per table fingerprint: the registry/bench invoke each
#: streaming entry repeatedly, and every invocation paid a driver-side
#: footer read (spark.read.parquet(...).schema) just to restate an
#: immutable schema.  A regenerated corpus has a new fingerprint and is
#: re-read; the StructType is session-independent.
_STREAM_SCHEMA_CACHE: dict = {}


def _stream_schema(spark, sf_dir: str, table: str):
    path = os.path.join(sf_dir, f"{table}.parquet")
    key = table_fingerprint(path)
    schema = _STREAM_SCHEMA_CACHE.get(key)
    if schema is None:
        schema = _STREAM_SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return schema


@register(
    "x76_streaming_interval_join",
    "WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu, "
    " event_type FROM events) "
    "SELECT DISTINCT p.user_id, p.tsu AS p_ts, a.tsu AS a_ts "
    "FROM e p JOIN e a ON p.user_id = a.user_id "
    " AND p.event_type = 'purchase' AND a.event_type = 'error' "
    " AND abs(p.tsu - a.tsu) <= 300000000",
    "STREAMING stream-stream interval join: purchase/error pairs within "
    "5 minutes per user as a real availableNow append-mode query -- the "
    "fifth streaming mechanism with a driver row (windowed agg x65, "
    "running state x71, session merge x72, stateless dim join x75, and "
    "now two-sided join state bounded by watermarks over the event-time "
    "columns themselves).  Drained pairs DISTINCT-ed to match the "
    "batch oracle's set semantics (duplicate event timestamps emit "
    "per-occurrence rows in the stream); exact batch parity and the "
    "left-outer absence-row form are pinned in tests/test_streaming.py; "
    "oracle = the x23 theta-join SQL",
)
def x76_streaming_interval_join(spark, sf_dir) -> DataFrame:
    # Under availableNow the buffered join state is bounded by the join's
    # two input slices: one event_type-column count of them.
    sess = _state_session(
        spark, sf_dir, "events", "x76",
        lambda: t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "error"))
        .count(),
    )
    return _drain(
        streaming_interval_pairs(read_event_stream(sess, sf_dir)),
        "append", "x76",
    ).distinct()


@register(
    "x75_streaming_enrich",
    "WITH dim AS (SELECT user_id, COUNT(*) AS lifetime_events, "
    " CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS lifetime_value "
    " FROM events GROUP BY user_id) "
    "SELECT e.event_id, e.user_id, d.lifetime_events, d.lifetime_value "
    "FROM events e LEFT JOIN dim d ON e.user_id = d.user_id",
    "STREAMING stream-static enrichment: every event joined to the "
    "static per-user profile snapshot (broadcast hash join, STATELESS -- "
    "no watermark, no join state; statelessness is pinned in "
    "tests/test_streaming.py via recentProgress stateOperators) as a "
    "real availableNow streaming query in append mode; oracle = the "
    "batch left join.  The fourth streaming mechanism with a driver "
    "row: windowed agg (x65), running state (x71), session merge "
    "(x72), and now the stateless dim join every micro-batch replans "
    "against the dim's current contents",
)
def x75_streaming_enrich(spark, sf_dir) -> DataFrame:
    dim = user_profile_dim(t(spark, sf_dir, "events"))
    return _drain(
        streaming_enrich(
            read_event_stream(spark, sf_dir).select("event_id", "user_id"),
            dim,
        ),
        "append", "x75",
    )


def user_profile_dim(events: DataFrame) -> DataFrame:
    """Static per-user profile snapshot from historical events (the
    feature-store side of a stream enrichment): lifetime event count and
    exact total value per user."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("lifetime_events"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("double")
        .alias("lifetime_value"),
    )


def streaming_enrich(
    stream: DataFrame, dim: DataFrame, on: str = "user_id"
) -> DataFrame:
    """Stream-static enrichment: join each incoming event to a static
    dimension snapshot (profile/feature-store row) by key.

    The scale property that makes this the right pattern: a stream-static
    join is STATELESS -- no watermark, no join state, nothing to retain;
    each micro-batch plans a fresh broadcast hash join against the dim's
    current contents (a dim refresh is picked up on the next batch without
    restarting the query).  Compare a stream-stream join, which must
    buffer both sides under watermarks.  Left join: an event with no
    profile row must flow through (nulls), not silently drop -- dropped
    events in an enrichment stage are data loss, not enrichment.
    """
    return stream.join(F.broadcast(dim), on, "left")


def read_document_stream(spark, sf_dir: str) -> DataFrame:
    """readStream over the documents parquet, staged through a symlink
    directory exactly like :func:`read_event_stream` (the file-stream
    source wants a directory; a deployment's landing zone already is
    one)."""
    src_file = os.path.join(sf_dir, "documents.parquet")
    stage = _stage_stream_dir(src_file, "documents")
    schema = _stream_schema(spark, sf_dir, "documents")
    return spark.readStream.schema(schema).parquet(stage)


def streaming_dedup_state(
    stream: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Running exact-dedup state over a document stream: per distinct
    content hash, the surviving (min) id and the duplicate count so far
    -- the streaming half of :func:`..operators.dedup.dedup_exact`, with
    IDENTICAL output semantics once the stream drains.

    Scale shape: the state is ONE fixed-width row per distinct content
    (hash, min-id, count) in the state store -- it grows with corpus
    VOCABULARY (distinct docs), not stream length, and min/count both
    fold incrementally, so each micro-batch does one map-side partial
    aggregation and a state-store merge.  A deployment runs update mode
    into a keyed sink (or RocksDB state store) and reads "is this hash
    new?" from the same state; complete-output memory sink is the
    test-scale harness (the x65 pattern), chosen because complete mode
    makes the result deterministic and oracle-comparable regardless of
    micro-batch boundaries."""
    return stream.groupBy(
        F.sha2(F.col(text_col), 256).alias("content_hash")
    ).agg(
        F.min(id_col).alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


@register(
    "x71_streaming_dedup_state",
    "SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_doc_id, "
    "COUNT(*) AS n_dups FROM documents GROUP BY text",
    "STREAMING exact-dedup state: the x05 content-hash dedup executed as "
    "a real Structured Streaming query (availableNow trigger, "
    "complete-output memory sink) whose drained state table must equal "
    "the batch GROUP BY -- state is one fixed-width row per distinct "
    "content, growing with vocabulary, not stream length; multi-batch "
    "state accumulation is pinned in tests/test_streaming.py",
)
def x71_streaming_dedup(spark, sf_dir) -> DataFrame:
    # Dedup state is one row per DISTINCT content hash, bounded above by
    # the document count -- which the parquet footers answer driver-side
    # with no job at all.
    sess = _state_session(
        spark, sf_dir, "documents", "x71",
        lambda: footer_row_count(spark, sf_dir, "documents"),
    )
    return _drain(
        streaming_dedup_state(read_document_stream(sess, sf_dir)),
        "complete", "x71",
    )
