"""Structured Streaming behavior: the streaming forms must reproduce their
batch twins on the same data (availableNow over the events parquet)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from conecta_spark.queries import epoch_micros
from conecta_spark.streaming.events import (
    hourly_rollup,
    read_event_stream,
    sessionize_batch,
    streaming_hourly_rollup,
    streaming_sessionize,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from conecta_spark.sources.parquet import load_parquet

    return load_parquet(spark, f"{sf_dir}/events.parquet").cache()


def _run_stream(spark, sdf, name: str, timeout: int = 120):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    return spark.table(name)


def test_stream_source_reads_events(spark, sf_dir, events):
    sdf = read_event_stream(spark, sf_dir)
    assert sdf.isStreaming
    out = _run_stream(spark, sdf.select("event_id", "ts", "user_id"), "raw_events")
    assert out.count() == events.count()
    # nanos were truncated to micros identically to the batch reader
    b = events.select(F.max("ts")).collect()[0][0]
    s = out.select(F.max("ts")).collect()[0][0]
    assert b == s


def test_streaming_hourly_rollup_matches_batch(spark, sf_dir):
    # Windowed agg in append mode only emits watermark-closed windows; with
    # availableNow the final window would stay open, so compare in complete
    # mode where every window is emitted.
    sdf = streaming_hourly_rollup(read_event_stream(spark, sf_dir))
    q = (
        sdf.writeStream.format("memory")
        .queryName("hourly_complete")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("hourly_complete")
    want = hourly_rollup(_batch_events(spark, sf_dir))
    gs = {(r.hour_start, r.event_type, r.c, r.v) for r in got.collect()}
    ws = {(r.hour_start, r.event_type, r.c, r.v) for r in want.collect()}
    assert gs == ws


def _batch_events(spark, sf_dir):
    from conecta_spark.sources.parquet import load_parquet

    return load_parquet(spark, f"{sf_dir}/events.parquet")


def test_streaming_sessionize_matches_batch(spark, sf_dir, events):
    sdf = streaming_sessionize(read_event_stream(spark, sf_dir))
    got = _run_stream(spark, sdf, "sessions_stream", timeout=180)
    # availableNow + event-time timeout: all sessions close once the
    # watermark passes end-of-input... except sessions still open at the
    # final watermark, which stay in state. Compare against batch sessions
    # that END before (max_ts - gap - watermark) to be safe, keyed by
    # (user_id, start_us).
    batch = sessionize_batch(events)
    max_ts = events.agg(F.max(epoch_micros(events))).collect()[0][0]
    horizon = max_ts - 1_800_000_000 - 3_600_000_000
    closed_batch = {
        (r.user_id, r.start_us, r.end_us, r.n_events)
        for r in batch.where(F.col("end_us") < horizon).collect()
    }
    got_set = {
        (r.user_id, r.start_us, r.end_us, r.n_events) for r in got.collect()
    }
    missing = closed_batch - got_set
    assert not missing, f"{len(missing)} closed sessions missing from stream"
    # and everything the stream emitted must be a genuine batch session
    all_batch = {
        (r.user_id, r.start_us, r.end_us, r.n_events) for r in batch.collect()
    }
    bogus = got_set - all_batch
    assert not bogus, f"stream emitted {len(bogus)} sessions not in batch"


def test_streaming_dedup_drops_replays(spark, sf_dir, events):
    """The same file delivered twice (replay) must come out once."""
    import hashlib
    import os

    from conecta_spark.streaming.events import streaming_dedup

    src_file = os.path.join(sf_dir, "events.parquet")
    stage = os.path.join(
        "/tmp/conecta_spark_stream",
        "dup-" + hashlib.md5(src_file.encode()).hexdigest()[:12],
    )
    os.makedirs(stage, exist_ok=True)
    for name in ("events-000.parquet", "events-001.parquet"):
        link = os.path.join(stage, name)
        if not os.path.exists(link):
            os.symlink(src_file, link)
    from conecta_spark.streaming.events import normalize_event_ts

    disk_schema = spark.read.parquet(src_file).schema
    sdf = normalize_event_ts(
        spark.readStream.schema(disk_schema).format("parquet").load(stage),
        disk_schema["ts"].dataType,
    )
    deduped = streaming_dedup(sdf, keys=["event_id"])
    out = _run_stream(spark, deduped.select("event_id"), "dedup_replay")
    n = events.count()
    assert spark.table("dedup_replay").count() == n


def test_streaming_interval_join_matches_batch(spark, sf_dir, events):
    """Stream-stream self-join equals the batch interval join (x23) as a
    pair set: availableNow delivers everything before the watermark can
    drop rows, so parity is exact."""
    from conecta_spark.queries import REGISTRY, _load_extensions
    from conecta_spark.streaming.events import streaming_interval_pairs

    _load_extensions()

    sdf = streaming_interval_pairs(read_event_stream(spark, sf_dir))
    got = _run_stream(spark, sdf, "interval_stream")
    got_set = {(r.user_id, r.p_ts, r.a_ts) for r in got.collect()}
    batch = REGISTRY["x23_interval_join"].fn(spark, sf_dir)
    batch_set = {(r.user_id, r.p_ts, r.a_ts) for r in batch.collect()}
    assert got_set == batch_set


def test_checkpointed_file_sink_is_exactly_once(spark, sf_dir, events, tmp_path_factory):
    """Durable sink semantics: a parquet sink driven by a checkpoint must
    not re-emit rows when the same stream is restarted over unchanged
    input -- the recovery property a production pipeline relies on."""
    base = tmp_path_factory.mktemp("stream_sink")
    out, ckpt = str(base / "out"), str(base / "ckpt")

    def run_once():
        sdf = read_event_stream(spark, sf_dir).select("event_id", "user_id")
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first == events.count()
    run_once()  # restart over the same input: checkpoint says all consumed
    assert spark.read.parquet(out).count() == n_first


def test_stream_static_enrichment_matches_batch_and_is_stateless(
    spark, sf_dir, events
):
    """Stream-static join: every event enriched with the static profile
    dim, exact batch parity, and NO streaming state (the property that
    distinguishes it from a stream-stream join)."""
    from conecta_spark.streaming.events import (
        read_event_stream,
        streaming_enrich,
        user_profile_dim,
    )

    dim = user_profile_dim(events)
    sdf = streaming_enrich(
        read_event_stream(spark, sf_dir).select("event_id", "user_id"), dim
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # stateless: no state store operators registered for the query
    assert all(
        not p["stateOperators"] for p in q.recentProgress
    ), q.recentProgress
    out = spark.table("enriched")
    batch = streaming_enrich(events.select("event_id", "user_id"), dim)
    assert out.count() == events.count()  # left join: nothing dropped
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b


# -- streaming corpus ingest with incremental dedup --------------------------


def _doc_rows(spark, rows):
    from pyspark.sql import Row

    return spark.createDataFrame(
        [Row(doc_id=i, text=t, source=s) for i, t, s in rows]
    )


def _run_ingest(spark, stage, snap, ckpt):
    from conecta_spark.streaming.ingest import stream_ingest

    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .format("parquet")
        .load(stage)
    )
    q = stream_ingest(stream, snap, ckpt)
    q.awaitTermination(120)


def test_stream_ingest_dedups_across_batches(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("ingest")
    stage, snap, ckpt = str(base / "stage"), str(base / "snap"), str(base / "ckpt")

    # batch 1: two docs, one internal duplicate (kept once, min id wins)
    _doc_rows(
        spark, [(1, "alpha", "a"), (2, "beta", "a"), (3, "alpha", "b")]
    ).write.mode("append").parquet(stage)
    _run_ingest(spark, stage, snap, ckpt)
    got = {
        (r.doc_id, r.text) for r in spark.read.parquet(snap).collect()
    }
    assert got == {(1, "alpha"), (2, "beta")}

    # batch 2: one replayed content, one novel -- only the novel lands
    _doc_rows(spark, [(9, "alpha", "c"), (10, "gamma", "c")]).write.mode(
        "append"
    ).parquet(stage)
    _run_ingest(spark, stage, snap, ckpt)
    got = {
        (r.doc_id, r.text) for r in spark.read.parquet(snap).collect()
    }
    assert got == {(1, "alpha"), (2, "beta"), (10, "gamma")}


def test_ingest_replay_is_content_idempotent(spark, tmp_path_factory):
    from conecta_spark.streaming.ingest import ingest_batch

    base = tmp_path_factory.mktemp("replay")
    snap = str(base / "snap")
    batch = _doc_rows(spark, [(1, "alpha", "a"), (2, "beta", "a")])
    assert ingest_batch(batch, snap) == 2
    # a full at-least-once replay of the same batch appends nothing
    assert ingest_batch(batch, snap) == 0
    assert spark.read.parquet(snap).count() == 2


def test_ingest_written_hash_column_is_reused(spark, tmp_path_factory):
    from conecta_spark.streaming.ingest import ingest_batch, snapshot_hashes

    base = tmp_path_factory.mktemp("hashcol")
    snap = str(base / "snap")
    ingest_batch(_doc_rows(spark, [(1, "alpha", "a")]), snap)
    snap_df = spark.read.parquet(snap)
    assert "h" in snap_df.columns
    # the index read must use the stored column, not re-hash text
    import re

    idx = snapshot_hashes(spark, snap)
    p = idx._sc._jvm.PythonSQLUtils.explainString(
        idx._jdf.queryExecution(), "formatted"
    )
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "text" not in read_schema
    assert re.search(r"\bh\b", read_schema)


def test_stream_ingest_matches_batch_operator(spark, tmp_path_factory):
    """Replaying the same files through the batch incremental_dedup yields
    the same corpus content set as the streaming path."""
    from conecta_spark.operators.dedup import incremental_dedup

    base = tmp_path_factory.mktemp("parity")
    stage, snap, ckpt = str(base / "stage"), str(base / "snap"), str(base / "ckpt")
    b1 = [(1, "alpha", "a"), (2, "beta", "a")]
    b2 = [(9, "alpha", "c"), (10, "gamma", "c")]
    _doc_rows(spark, b1).write.mode("append").parquet(stage)
    _run_ingest(spark, stage, snap, ckpt)
    _doc_rows(spark, b2).write.mode("append").parquet(stage)
    _run_ingest(spark, stage, snap, ckpt)
    streamed = {r.text for r in spark.read.parquet(snap).collect()}

    snapshot = _doc_rows(spark, b1)
    novel2 = incremental_dedup(_doc_rows(spark, b2), snapshot)
    batch_ids = {r.doc_id for r in novel2.collect()}
    batched = {t for i, t, s in b1} | {t for i, t, s in b2 if i in batch_ids}
    assert streamed == batched


def test_stream_ingest_with_hygiene_prepare_matches_batch_pipeline(
    spark, tmp_path_factory
):
    """The batch corpus pipeline's hygiene stages (gopher gate, PII
    redaction) drop into streaming ingest unchanged via ``prepare``; the
    resulting snapshot equals the batch pipeline's gate->redact->dedup
    output over the same documents."""
    from conecta_spark.functions.quality import gopher_pass
    from conecta_spark.functions.scrub import redact_pii
    from conecta_spark.streaming.ingest import stream_ingest

    good = "the quick brown fox jumps over the lazy dog again and again "
    pii = good + "mail me at someone@example.com please " + good
    junk = "!!!"  # fails the gopher gate
    b1 = [(1, good * 3, "a"), (2, junk, "a"), (3, pii, "a")]
    b2 = [(9, good * 3, "b"), (10, good * 5, "b"), (11, junk, "b")]

    base = tmp_path_factory.mktemp("hygiene")
    stage, snap, ckpt = str(base / "stage"), str(base / "snap"), str(base / "ckpt")
    prepare = lambda b: redact_pii(b.where(gopher_pass("text")))

    for rows in (b1, b2):
        _doc_rows(spark, rows).write.mode("append").parquet(stage)
        stream = (
            spark.readStream.schema("doc_id long, text string, source string")
            .format("parquet")
            .load(stage)
        )
        q = stream_ingest(stream, snap, ckpt, text_col="text_redacted", prepare=prepare)
        q.awaitTermination(120)

    got = {
        (r.doc_id, r.text_redacted)
        for r in spark.read.parquet(snap).collect()
    }
    # batch twin: gate -> redact -> exact dedup (min id wins) over all docs
    allb = _doc_rows(spark, b1 + b2)
    gated = redact_pii(allb.where(gopher_pass("text")))
    from pyspark.sql.window import Window

    w = Window.partitionBy("text_redacted").orderBy("doc_id")
    want = {
        (r.doc_id, r.text_redacted)
        for r in gated.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    }
    assert got == want
    # the junk docs were gated out, the PII doc was redacted before hashing
    assert all("example.com" not in t for _, t in got)
    assert {i for i, _ in got} == {1, 3, 10}


def test_watermark_drops_late_events_in_append_mode(spark, tmp_path_factory):
    """An event arriving in a later microbatch, older than the advanced
    watermark, must not reopen its (already-emitted) window -- the state
    bound that makes a windowed aggregation runnable forever at 100 TB.
    File-source microbatches advance the watermark between batches, so
    staging two files reproduces the late arrival exactly."""
    import datetime as dt

    from pyspark.sql import Row

    from conecta_spark.streaming.events import streaming_hourly_rollup

    base = tmp_path_factory.mktemp("late")
    stage, out, ckpt = str(base / "stage"), str(base / "out"), str(base / "ckpt")

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    mk = lambda eid, ts, et: Row(
        event_id=eid, ts=ts, user_id=1, event_type=et, value=1.0
    )
    # batch 1: one event at 00:30 and one far ahead at 12:30 -- after this
    # batch the watermark is ~10:30 (12:30 - 2h), sealing the 00:00 window
    spark.createDataFrame(
        [mk(1, t0, "a"), mk(2, t0 + dt.timedelta(hours=12), "a")]
    ).write.mode("append").parquet(stage)

    def run():
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double"
            )
            .format("parquet")
            .load(stage)
        )
        q = (
            streaming_hourly_rollup(stream)
            .writeStream.trigger(availableNow=True)
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.awaitTermination(120)

    run()
    # batch 2: a LATE event for the sealed 00:00 window
    spark.createDataFrame([mk(3, t0 + dt.timedelta(minutes=5), "a")]).write.mode(
        "append"
    ).parquet(stage)
    run()

    got = spark.read.parquet(out)
    rows = got.where(F.col("hour_start") == t0.replace(minute=0)).collect()
    # the sealed window was emitted from batch 1 only: count 1, late event dropped
    assert [r.c for r in rows] == [1]


def test_streaming_interval_left_outer_emits_absence_rows(spark, sf_dir):
    """The left-outer stream-stream join must (a) keep every inner pair,
    (b) emit null-padded rows ONLY for purchases with no error in radius,
    and (c) actually emit such absence rows once the watermark passes
    (purchases near the stream's end may legitimately stay unclosed)."""
    from conecta_spark.queries import REGISTRY, _load_extensions
    from conecta_spark.streaming.events import streaming_interval_pairs

    _load_extensions()

    sdf = streaming_interval_pairs(
        read_event_stream(spark, sf_dir), how="left_outer"
    )
    got = _run_stream(spark, sdf, "interval_outer").collect()
    inner = {(r.user_id, r.p_ts, r.a_ts) for r in got if r.a_ts is not None}
    outer_p = {(r.user_id, r.p_ts) for r in got if r.a_ts is None}
    batch = REGISTRY["x23_interval_join"].fn(spark, sf_dir).collect()
    batch_pairs = {(r.user_id, r.p_ts, r.a_ts) for r in batch}
    matched_p = {(r.user_id, r.p_ts) for r in batch}
    # (a) exact inner parity
    assert inner == batch_pairs
    # (b) no absence row for a purchase that actually has a match
    assert not (outer_p & matched_p)
    # (c) the watermark did close and emit real absence rows
    assert outer_p


def test_streaming_dedup_state_matches_batch(spark, sf_dir):
    """x71: the drained streaming dedup state must equal the batch
    content-hash GROUP BY exactly (hash, min id, count)."""
    from conecta_spark.operators.dedup import dedup_exact
    from conecta_spark.queries import REGISTRY, t

    got = sorted(
        map(
            tuple,
            REGISTRY["x71_streaming_dedup_state"].fn(spark, sf_dir).collect(),
        )
    )
    want = sorted(map(tuple, dedup_exact(t(spark, sf_dir, "documents")).collect()))
    assert got == want and got


def test_streaming_dedup_state_accumulates_across_microbatches(
    spark, tmp_path
):
    """The state must genuinely MERGE across micro-batches: stream two
    parquet files one per trigger (maxFilesPerTrigger=1) where the same
    content appears in both files with a smaller id in the SECOND -- the
    final state row must count both occurrences and keep the second
    file's min id, which only happens if batch 2's partial aggregate
    merged into batch 1's stored state."""
    import pandas as pd

    from conecta_spark.streaming.events import streaming_dedup_state

    d = str(tmp_path / "docs_stream")
    import os

    os.makedirs(d)
    pd.DataFrame({"doc_id": [10, 11], "text": ["aaa", "bbb"]}).to_parquet(
        f"{d}/part-0.parquet"
    )
    pd.DataFrame({"doc_id": [2, 12], "text": ["aaa", "ccc"]}).to_parquet(
        f"{d}/part-1.parquet"
    )
    schema = spark.read.parquet(d).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        streaming_dedup_state(stream)
        .writeStream.format("memory")
        .queryName("x71_multibatch")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    # at least two micro-batches actually ran (one per file)
    assert len(q.recentProgress) >= 2
    rows = {
        r.content_hash: (r.keep_doc_id, r.n_dups)
        for r in spark.table("x71_multibatch").collect()
    }
    from pyspark.sql import functions as F

    h = {
        r.t: r.h
        for r in spark.createDataFrame(
            [("aaa",), ("bbb",), ("ccc",)], "t string"
        )
        .select("t", F.sha2("t", 256).alias("h"))
        .collect()
    }
    assert rows[h["aaa"]] == (2, 2)  # min id from batch 2, count across both
    assert rows[h["bbb"]] == (11, 1)
    assert rows[h["ccc"]] == (12, 1)


def test_streaming_session_window_matches_batch(spark, sf_dir):
    """x72: the drained native session_window aggregation must equal the
    batch gap-sessionization (start, end = last event + gap, count)."""
    from conecta_spark.queries import REGISTRY, t
    from conecta_spark.streaming.events import (
        SESSION_GAP_US,
        sessionize_batch,
    )

    got = sorted(
        (r.user_id, r.start_us, r.end_us, r.n_events)
        for r in REGISTRY["x72_streaming_session_window"]
        .fn(spark, sf_dir)
        .collect()
    )
    want = sorted(
        (r.user_id, r.start_us, r.end_us + SESSION_GAP_US, r.n_events)
        for r in sessionize_batch(t(spark, sf_dir, "events")).collect()
    )
    assert got == want and got


def test_session_window_exact_gap_boundary_merges(spark):
    """An event at exactly prev_ts + gap must MERGE into the open session
    (end-inclusive), matching the batch rule `ts - prev_ts > gap` starting
    a new session -- the boundary case that makes the x16-style oracle
    transfer to session_window unchanged.  One microsecond later splits."""
    gap_us = 1_800_000_000
    rows = [
        (1, 0),
        (1, gap_us),  # exactly at boundary: merges
        (2, 0),
        (2, gap_us + 1),  # one us past: splits
    ]
    df = spark.createDataFrame(rows, "user_id long, tsu long").withColumn(
        "ts", F.timestamp_micros("tsu")
    )
    out = {
        (r.user_id, r.s, r.e, r.n)
        for r in df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("s"),
            F.unix_micros("session_window.end").alias("e"),
            "n",
        )
        .collect()
    }
    assert (1, 0, 2 * gap_us, 2) in out  # merged single session
    assert (2, 0, gap_us, 1) in out  # split: first alone
    assert (2, gap_us + 1, 2 * gap_us + 1, 1) in out


def test_session_window_merges_across_microbatches(spark, tmp_path):
    """The session state must genuinely MERGE across micro-batches: two
    files streamed one per trigger, same user, second file's event within
    the gap of the first file's session -- the final state must be ONE
    session spanning both, which only happens if batch 2's partial
    session merged into batch 1's stored session."""
    import os

    import pandas as pd

    from conecta_spark.streaming.events import streaming_session_windows

    gap_us = 1_800_000_000
    d = str(tmp_path / "events_stream")
    os.makedirs(d)
    base = 1_700_000_000_000_000  # stay far from the epoch
    pd.DataFrame(
        {"user_id": [7, 8], "tsu": [base, base]}
    ).to_parquet(f"{d}/part-0.parquet")
    pd.DataFrame(
        # user 7: within gap of batch-1 session -> must merge;
        # user 8: past the gap -> second session
        {"user_id": [7, 8], "tsu": [base + gap_us, base + gap_us + 1]}
    ).to_parquet(f"{d}/part-1.parquet")
    schema = "user_id long, tsu long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withColumn("ts", F.timestamp_micros("tsu"))
    )
    q = (
        streaming_session_windows(stream)
        .writeStream.format("memory")
        .queryName("x72_multibatch")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert len(q.recentProgress) >= 2
    got = {
        (r.user_id, r.start_us, r.end_us, r.n_events)
        for r in spark.table("x72_multibatch").collect()
    }
    assert (7, base, base + 2 * gap_us, 2) in got  # merged across batches
    assert (8, base, base + gap_us, 1) in got
    assert (8, base + gap_us + 1, base + 2 * gap_us + 1, 1) in got
    assert len(got) == 3


# -- r10: state-partition derivation + staging atomicity ---------------------


def test_derive_state_partitions_ladder():
    """Pin the derivation at the two measured corpus sizes (sf0.1 derives
    the ladder-optimal 8; sf0.01's ~4k state rows derive 1) and the
    large-state clamp (a 10M-event rung saturates the parallelism cap)."""
    from conecta_spark.streaming.events import derive_state_partitions

    assert derive_state_partitions(39894, max_partitions=32) == 8
    assert derive_state_partitions(3995, max_partitions=32) == 1
    assert derive_state_partitions(4_000_000, max_partitions=32) == 32
    # power-of-two stability: nearby sizes don't thrash the count
    assert derive_state_partitions(35000, max_partitions=32) == 8
    assert derive_state_partitions(45000, max_partitions=32) == 8
    assert derive_state_partitions(0, max_partitions=32) == 1


def test_x76_does_not_leak_shuffle_partitions(spark, sf_dir):
    """The state-partition override must not escape into the parent
    session (ADVICE r9: session-global conf mutation leaks into any
    concurrently planned query)."""
    from conecta_spark.queries import queries

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    queries()["x76_streaming_interval_join"](spark, sf_dir).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_state_partition_conversion_does_not_leak(spark, sf_dir):
    """x65/x71/x72 now run in derived-state-partition child sessions
    (the x76 pattern, r12 optimization); the override must not escape
    the parent session and the entries must still return rows through
    the child-session memory sink."""
    from conecta_spark.queries import REGISTRY

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    for name in (
        "x65_streaming_hourly_parity",
        "x71_streaming_dedup_state",
        "x72_streaming_session_window",
    ):
        assert REGISTRY[name].fn(spark, sf_dir).count() > 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev


@pytest.mark.parametrize(
    "name",
    [
        "x65_streaming_hourly_parity",
        "x71_streaming_dedup_state",
        "x72_streaming_session_window",
        "x75_streaming_enrich",
        "x76_streaming_interval_join",
    ],
)
def test_streaming_entry_leaves_no_sink_view(spark, sf_dir, name):
    """A streaming registry entry drops its memory-sink view before it
    returns, in the caller's session and in the child session alike; the
    returned DataFrame still holds the drained rows after a second call."""
    from collections import Counter

    from conecta_spark.queries import REGISTRY
    from conecta_spark.streaming.events import _STREAM_SESSIONS

    def temp_views():
        return {
            (id(s), t.name)
            for s in (spark, *_STREAM_SESSIONS.values())
            for t in s.catalog.listTables()
            if t.isTemporary
        }

    fn = REGISTRY[name].fn
    before = temp_views()
    first = fn(spark, sf_dir)
    rows = Counter(map(tuple, first.collect()))
    assert rows
    assert temp_views() <= before
    second = fn(spark, sf_dir)
    assert temp_views() <= before
    assert Counter(map(tuple, first.collect())) == rows
    assert Counter(map(tuple, second.collect())) == rows


def test_stream_schema_cache_hits_and_invalidates(spark, tmp_path):
    """_stream_schema must serve repeats from the cache (no footer
    re-read per invocation) yet re-read when the source content
    fingerprint changes (r12 optimization)."""
    import os

    from conecta_spark.sources.parquet import table_fingerprint
    from conecta_spark.streaming import events as ev

    src = str(tmp_path / "schema_cache.parquet")
    spark.createDataFrame([(1,)], "a long").coalesce(1).write.parquet(src)
    s1 = ev._stream_schema(spark, str(tmp_path), "schema_cache")
    key = table_fingerprint(src)
    sentinel = object()
    ev._STREAM_SCHEMA_CACHE[key] = sentinel
    # same content -> cache hit, the sentinel proves no re-read happened
    assert ev._stream_schema(spark, str(tmp_path), "schema_cache") is sentinel
    # content rewrite (same names, new mtime) -> fresh footer read
    part = next(p for p in os.listdir(src) if p.endswith(".parquet"))
    os.utime(os.path.join(src, part), ns=(1, 1))
    assert ev._stream_schema(spark, str(tmp_path), "schema_cache") == s1


def test_stage_dir_rebuilds_when_targets_change(spark, tmp_path):
    """Same part COUNT but different part filenames (a Spark rewrite with
    fresh UUID names) must repoint the stage -- staleness is detected by
    symlink targets, not generated names (ADVICE r9)."""
    import os

    import pandas as pd

    from conecta_spark.streaming.events import _stage_stream_dir

    src = str(tmp_path / "src")
    os.makedirs(src)
    pd.DataFrame({"x": [1]}).to_parquet(f"{src}/part-aaaa.parquet")
    s1 = _stage_stream_dir(src, "events")
    v1 = os.readlink(s1)
    t1 = os.readlink(os.path.join(s1, "events-00000.parquet"))
    # rewrite: same count, different part name
    os.unlink(f"{src}/part-aaaa.parquet")
    pd.DataFrame({"x": [2]}).to_parquet(f"{src}/part-bbbb.parquet")
    s2 = _stage_stream_dir(src, "events")
    assert s2 == s1
    v2 = os.readlink(s2)
    t2 = os.readlink(os.path.join(s2, "events-00000.parquet"))
    assert v2 != v1 and t2 != t1 and t2.endswith("part-bbbb.parquet")
    # idempotent when nothing changed; old version dir still intact for
    # any concurrent stream mid-listing (nothing is ever unlinked)
    assert os.readlink(_stage_stream_dir(src, "events")) == v2
    assert os.path.isdir(v1)


def test_stage_dir_rejects_a_partitioned_source(tmp_path):
    """Flat symlinks would drop a hive-partitioned source's partition
    values, which live in directory names: staging one raises instead
    of streaming rows without them."""
    import os

    import pandas as pd

    from conecta_spark.streaming.events import _stage_stream_dir

    src = str(tmp_path / "src")
    os.makedirs(f"{src}/k=1")
    pd.DataFrame({"x": [1]}).to_parquet(f"{src}/k=1/part-0.parquet")
    with pytest.raises(ValueError, match="hive-partitioned"):
        _stage_stream_dir(src, "events")


def test_incremental_minhash_rejects_shared_ids(spark):
    from conecta_spark.operators.dedup import incremental_minhash_pairs

    corpus = spark.createDataFrame(
        [(1, "aaaa bbbb cccc"), (2, "dddd eeee ffff")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "gggg hhhh iiii")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="share doc ids"):
        incremental_minhash_pairs(corpus, new)


def test_stream_session_cache_keeps_same_app_entries(spark):
    """Alternating derived partition counts within one app must reuse
    cached child sessions, not thrash a fresh newSession() per call --
    the blanket clear() evicted same-app siblings and orphaned their
    undropped memory-sink views (r10 advice)."""
    from conecta_spark.streaming.events import (
        _STREAM_SESSIONS,
        _stream_session,
    )

    s4 = _stream_session(spark, 4)
    s8 = _stream_session(spark, 8)
    assert s4 is not s8
    # both keys survive; a repeat call is a cache hit, not a rebuild
    assert _stream_session(spark, 4) is s4
    assert _stream_session(spark, 8) is s8
    app = spark.sparkContext.applicationId
    assert {(app, 4), (app, 8)} <= set(_STREAM_SESSIONS)
    # a dead-app entry IS evicted
    _STREAM_SESSIONS[("dead-app", 4)] = s4
    _stream_session(spark, 16)
    assert ("dead-app", 4) not in _STREAM_SESSIONS


def test_event_stream_sets_nanos_conf_only_for_nanos_files(spark, sf_dir):
    """The testdata's ``events.ts`` is ``timestamp[us]``: opening the
    stream leaves ``nanosAsLong`` unset on the caller's session."""
    s = spark.newSession()
    read_event_stream(s, sf_dir)
    assert s.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None


def test_source_fingerprint_sees_part_rewrite(spark, tmp_path):
    """An in-place part rewrite with identical filenames must change the
    source fingerprint: the x76 state probe sized state partitions from
    one os.stat of the top-level dir, which misses exactly that (r10
    advice)."""
    import os

    from conecta_spark.sources.parquet import table_fingerprint

    src = str(tmp_path / "events.parquet")
    spark.createDataFrame([(1,)], "a long").coalesce(1).write.parquet(src)
    fp1 = table_fingerprint(src)
    part = next(
        p for p in os.listdir(src) if p.endswith(".parquet")
    )
    os.utime(os.path.join(src, part), ns=(1, 1))  # same name, same size
    assert table_fingerprint(src) != fp1
