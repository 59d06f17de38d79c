"""Persisted MinHash signature store (operators/minhash_store.py, x77).

The frozen-DF registry semantics are pinned cross-engine by the x77
DuckDB oracle (test_oracle.py runs every registry entry); these tests pin
the store mechanics the oracle can't see: recompute-equivalence when DF
statistics coincide, append-then-mine (the actual daily loop), id
hygiene, and manifest crash-safety.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


@pytest.fixture()
def corpus(spark):
    # 30 unique-text docs + 3 near-dup partners of docs 0-2: no shingle
    # reaches the 10% DF threshold, so frozen-DF == union-DF and the
    # store must reproduce the recompute path exactly
    base = [
        (i, f"document number {i} about topic-{i % 7} with unique tail "
            f"{'x' * (i % 5)}{i * 1234567}")
        for i in range(30)
    ]
    return _docs(spark, base)


@pytest.fixture()
def batch(spark):
    return _docs(
        spark,
        [
            (100, "document number 0 about topic-0 with unique tail 0"),
            (101, "document number 1 about topic-1 with unique tail x1234567"),
            (102, "completely unrelated fresh text nothing shared qqq"),
        ],
    )


@pytest.mark.parametrize("max_band_width", [None, 2, "auto"])
def test_store_matches_recompute(
    spark, corpus, batch, tmp_path, max_band_width
):
    """When no shingle crosses the DF threshold, the stored-incremental
    mine must equal the full-recompute incremental mine pair-for-pair --
    the store changes WHERE signatures come from, not what they are --
    uncapped and through the one width cap both miners share.  A second
    clone of doc 0 (doc 103) widens doc 0's four band buckets to 3;
    cap 2 drops them, and the "auto" budget (10 candidates: the
    batch-driven volume is 4 pairs in doc 1's width-2 buckets plus 12 in
    doc 0's width-3 ones) resolves to the same cap."""
    from conecta_spark.operators.dedup import (
        CANDIDATE_BYTES,
        incremental_minhash_pairs,
    )
    from conecta_spark.operators.minhash_store import (
        incremental_pairs_stored,
        write_signature_store,
    )

    clone = "document number 0 about topic-0 with unique tail 0"
    batch = batch.unionByName(_docs(spark, [(103, clone)]))
    cap = dict(
        max_band_width=max_band_width,
        mine_disk_budget_bytes=10 * CANDIDATE_BYTES,
    )
    path = str(tmp_path / "store")
    m = write_signature_store(corpus, path)
    assert m["n_docs"] == 30
    stored = _pairs(
        incremental_pairs_stored(spark, path, batch, threshold=0.3, **cap)
    )
    recompute = _pairs(
        incremental_minhash_pairs(corpus, batch, threshold=0.3, **cap)
    )
    assert stored == recompute and stored  # non-vacuous
    # the width-3 buckets of docs 0/100/103 survive only uncapped
    assert ((0, 100) in stored) == (max_band_width is None)


def test_append_then_mine_next_batch(spark, corpus, batch, tmp_path):
    """The daily loop: mine batch-1, append it, then batch-2's mine must
    find pairs against batch-1 docs read from the store."""
    from conecta_spark.operators.minhash_store import (
        append_batch,
        incremental_pairs_stored,
        read_manifest,
        write_signature_store,
    )

    path = str(tmp_path / "store")
    write_signature_store(corpus, path)
    append_batch(spark, path, batch)
    assert read_manifest(path)["n_appended"] == 3
    batch2 = _docs(
        spark,
        [(200, "completely unrelated fresh text nothing shared qqq")],
    )
    pairs = _pairs(
        incremental_pairs_stored(spark, path, batch2, threshold=0.3)
    )
    # doc 200 duplicates batch-1's doc 102, now served from the store
    assert (102, 200) in pairs
    # corpus x corpus / batch1-internal pairs are NOT re-emitted: every
    # pair has the new side in it
    assert all(b == 200 or a == 200 for a, b in pairs)


def test_store_rejects_overlapping_ids(spark, corpus, batch, tmp_path):
    from conecta_spark.operators.minhash_store import (
        append_batch,
        incremental_pairs_stored,
        write_signature_store,
    )

    path = str(tmp_path / "store")
    write_signature_store(corpus, path)
    append_batch(spark, path, batch)
    with pytest.raises(ValueError, match="share doc ids"):
        incremental_pairs_stored(spark, path, batch)


def test_half_built_store_reads_as_absent(spark, corpus, tmp_path):
    """The manifest is written last: a build that died mid-write leaves
    parquet dirs but no manifest, and consumers must see no store."""
    from conecta_spark.operators.minhash_store import (
        MANIFEST,
        read_manifest,
        write_signature_store,
    )

    path = str(tmp_path / "store")
    write_signature_store(corpus, path)
    os.remove(os.path.join(path, MANIFEST))
    with pytest.raises(FileNotFoundError):
        read_manifest(path)


def test_batch_is_signed_against_frozen_common_set(spark, tmp_path):
    """A batch doc made entirely of corpus boilerplate (every shingle in
    the frozen common set) must produce no bands and no pairs -- the
    frozen DF table really is applied to the batch side."""
    from conecta_spark.operators.minhash_store import (
        incremental_pairs_stored,
        write_signature_store,
    )

    boiler = "subscribe to our newsletter for updates "
    corpus = _docs(
        spark,
        [(i, boiler + f"unique trailer {i * 999331}") for i in range(20)],
    )
    path = str(tmp_path / "store")
    write_signature_store(corpus, path)
    batch = _docs(spark, [(100, boiler.strip())])
    out = incremental_pairs_stored(spark, path, batch, threshold=0.1)
    assert out.count() == 0


def test_append_updates_size_gate_inputs(spark, corpus, batch, tmp_path):
    """append_batch must keep tot_hashes/n_appended current: the verify
    join's broadcast-vs-shuffle gate sizes the WHOLE stored shingle
    relation from the manifest, and a stale estimate under-counts the
    corpus until the broadcast blows past its 64 MB bound at scale."""
    from conecta_spark.operators.minhash_store import (
        append_batch,
        read_manifest,
        write_signature_store,
    )

    path = str(tmp_path / "store")
    before = write_signature_store(corpus, path)
    after = append_batch(spark, path, batch)
    assert after["n_appended"] == 3
    assert after["tot_hashes"] > before["tot_hashes"]
    assert read_manifest(path)["tot_hashes"] == after["tot_hashes"]


def test_append_batch_is_idempotent_by_batch_id(spark, corpus, batch, tmp_path):
    """Retrying an applied batch_id must be a no-op (no double counting,
    no duplicated rows for the verify join), and a batch dir that exists
    WITHOUT a manifest entry (crash between rename and commit) must be
    invisible to readers until a retry adopts and commits it."""
    from conecta_spark.operators.store import relation as _store_relation
    from conecta_spark.operators.minhash_store import (
        append_batch,
        read_manifest,
        write_signature_store,
    )

    path = str(tmp_path / "store")
    write_signature_store(corpus, path)
    m1 = append_batch(spark, path, batch, batch_id="day-001")
    m2 = append_batch(spark, path, batch, batch_id="day-001")
    assert m1["n_appended"] == m2["n_appended"] == 3
    assert m2["applied_batches"] == ["day-001"]
    m = read_manifest(path)
    sh = _store_relation(spark, path, m, "shingles")
    assert sh.where(sh.doc_id >= 100).count() == 3  # once, not twice

    # simulate the crash window: batch dir present, manifest behind
    import os
    import shutil

    shutil.copytree(
        os.path.join(path, "batches", "day-001"),
        os.path.join(path, "batches", "day-002"),
    )
    m = read_manifest(path)
    assert "day-002" not in m["applied_batches"]
    # invisible until committed
    assert _store_relation(spark, path, m, "shingles").count() == 33
    # retry with the same id adopts the completed dir and commits it
    m3 = append_batch(spark, path, batch, batch_id="day-002")
    assert m3["applied_batches"] == ["day-001", "day-002"]
    assert m3["n_appended"] == 6


def test_concurrent_appends_both_commit(spark, corpus, tmp_path):
    """Two appends racing on one store must BOTH land in
    applied_batches: the manifest commit is a read-modify-write, and
    without the store flock each racer reads the old list and the last
    writer silently drops the other's committed batch forever (r10
    advice, medium)."""
    import threading

    from conecta_spark.operators.minhash_store import (
        append_batch,
        read_manifest,
        write_signature_store,
    )

    path = str(tmp_path / "store")
    write_signature_store(corpus, path)
    batches = {
        "day-a": _docs(spark, [(300, "racer text alpha unique aaaa")]),
        "day-b": _docs(spark, [(301, "racer text beta unique bbbb")]),
    }
    errors = []

    def _run(bid):
        try:
            append_batch(spark, path, batches[bid], batch_id=bid)
        except Exception as e:  # surfaced below; a swallowed raise
            errors.append(e)  # would vacuously pass the assert

    threads = [
        threading.Thread(target=_run, args=(b,)) for b in batches
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    m = read_manifest(path)
    assert sorted(m["applied_batches"]) == ["day-a", "day-b"]
    assert m["n_appended"] == 2


def test_prune_stale_stores_respects_grace(tmp_path):
    """Retention for the content-addressed registry cache: superseded
    fingerprint dirs are pruned only past the grace period, so a mine
    in flight against the old corpus never has its parquet yanked."""
    import os
    import time

    from conecta_spark.operators.store import (
        _SWEEP_GRACE_NS as _STALE_STORE_GRACE_NS,
        _prune_stale_stores,
    )

    root = tmp_path / "cfgkey"
    current = root / "fp-current"
    fresh = root / "fp-fresh"
    stale = root / "fp-stale"
    for d in (current, fresh, stale):
        d.mkdir(parents=True)
    old = time.time_ns() - _STALE_STORE_GRACE_NS - 10**9
    os.utime(stale, ns=(old, old))
    _prune_stale_stores(str(current))
    assert current.exists()  # never prunes itself
    assert fresh.exists()  # inside the grace window
    assert not stale.exists()  # superseded and aged out


def test_compaction_preserves_pairs(spark, corpus, batch, tmp_path):
    """Compaction is purely physical: after folding applied batches into
    a new generation, a mine returns pair-for-pair what the uncompacted
    batch-dir union returned, and the manifest flips to generation 1
    with an empty applied_batches.  The superseded dirs are NOT removed
    at commit time (readers take no lock and may be mid-scan on the old
    manifest); they age out of a later sweep once past the grace
    window."""
    from conecta_spark.operators import store as ms
    from conecta_spark.operators.minhash_store import (
        append_batch,
        compact_store,
        incremental_pairs_stored,
        write_signature_store,
    )

    path = str(tmp_path / "store")
    write_signature_store(corpus, path)
    append_batch(spark, path, batch, batch_id="day-001")
    batch2 = _docs(
        spark, [(200, "completely unrelated fresh text nothing shared qqq")]
    )
    append_batch(spark, path, batch2, batch_id="day-002")
    probe = _docs(
        spark,
        [
            (300, "document number 0 about topic-0 with unique tail 0"),
            (301, "completely unrelated fresh text nothing shared qqq"),
        ],
    )
    before = _pairs(
        incremental_pairs_stored(spark, path, probe, threshold=0.3)
    )
    m = compact_store(spark, path)
    assert m["generation"] == 1
    assert m["applied_batches"] == []
    assert m["compacted_batches"] == ["day-001", "day-002"]
    # counters keep their drift-signal meaning across compaction
    assert m["n_appended"] == 4 and m["n_docs"] == 30
    assert os.path.isdir(os.path.join(path, "shingles-g1"))
    # reader safety: the just-superseded generation and folded batch
    # dirs survive the commit (grace window), so a mine that loaded the
    # pre-compaction manifest keeps scanning intact files
    assert os.path.isdir(os.path.join(path, "shingles"))
    assert os.path.isdir(os.path.join(path, "batches", "day-001"))
    after = _pairs(
        incremental_pairs_stored(spark, path, probe, threshold=0.3)
    )
    assert after == before and after  # non-vacuous: probe hits both sides
    # sweep-eventually: once the grace window has elapsed, the next
    # compaction (sweep-only here) removes every unreferenced dir
    orig = ms._SWEEP_GRACE_NS
    ms._SWEEP_GRACE_NS = 0
    try:
        compact_store(spark, path)
    finally:
        ms._SWEEP_GRACE_NS = orig
    assert not os.path.exists(os.path.join(path, "shingles"))
    assert not os.path.exists(os.path.join(path, "banded"))
    assert not os.path.exists(os.path.join(path, "batches", "day-001"))
    assert not os.path.exists(os.path.join(path, "batches", "day-002"))
    assert os.path.isdir(os.path.join(path, "shingles-g1"))
    assert os.path.isdir(os.path.join(path, "common"))  # still referenced


def test_compact_store_without_batches_is_noop(spark, corpus, tmp_path):
    from conecta_spark.operators.minhash_store import (
        compact_store,
        write_signature_store,
    )

    path = str(tmp_path / "store")
    m0 = write_signature_store(corpus, path)
    m1 = compact_store(spark, path)
    assert m1.get("generation", 0) == 0
    assert m1["n_docs"] == m0["n_docs"]
    assert os.path.isdir(os.path.join(path, "shingles"))


def test_append_after_compaction(spark, corpus, batch, tmp_path):
    """The lifecycle keeps cycling: an append after a compaction lands
    in the new generation's applied_batches and is served on reads, and
    a SECOND compaction folds it into generation 2."""
    from conecta_spark.operators.store import relation as _store_relation
    from conecta_spark.operators.minhash_store import (
        append_batch,
        compact_store,
        incremental_pairs_stored,
        read_manifest,
        write_signature_store,
    )

    path = str(tmp_path / "store")
    write_signature_store(corpus, path)
    append_batch(spark, path, batch, batch_id="day-001")
    compact_store(spark, path)
    batch2 = _docs(
        spark, [(200, "completely unrelated fresh text nothing shared qqq")]
    )
    append_batch(spark, path, batch2, batch_id="day-002")
    m = read_manifest(path)
    assert m["generation"] == 1 and m["applied_batches"] == ["day-002"]
    assert _store_relation(spark, path, m, "shingles").count() == 34
    probe = _docs(
        spark, [(300, "completely unrelated fresh text nothing shared qqq")]
    )
    pairs = _pairs(
        incremental_pairs_stored(spark, path, probe, threshold=0.3)
    )
    assert (102, 300) in pairs and (200, 300) in pairs
    m2 = compact_store(spark, path)
    assert m2["generation"] == 2
    assert os.path.isdir(os.path.join(path, "shingles-g2"))
    # the superseded g1 survives the commit (reader grace); it ages out
    # of a later sweep, pinned in test_compaction_preserves_pairs
    assert os.path.isdir(os.path.join(path, "shingles-g1"))
    assert _store_relation(spark, path, m2, "shingles").count() == 34


def test_stream_ingestion_matches_batch_loop(spark, corpus, tmp_path):
    """foreachBatch ingestion: a 2-micro-batch streaming run must mine
    and append exactly what the hand-written batch loop does (union of
    per-epoch pair sets, store contents), and a RESTART of the completed
    run must append zero new batches (epoch-derived batch ids + the
    manifest guard make replay a no-op)."""
    import glob
    import shutil

    from conecta_spark.operators.minhash_store import (
        append_batch,
        incremental_pairs_stored,
        read_manifest,
        stream_mine_and_append,
        write_signature_store,
    )

    path_stream = str(tmp_path / "store_stream")
    path_batch = str(tmp_path / "store_batch")
    write_signature_store(corpus, path_stream)
    write_signature_store(corpus, path_batch)

    slices = [
        [(100, "document number 0 about topic-0 with unique tail 0"),
         (101, "completely unrelated fresh text nothing shared qqq")],
        [(200, "completely unrelated fresh text nothing shared qqq"),
         (201, "document number 1 about topic-1 with unique tail x1234567")],
    ]
    staging = tmp_path / "staging"
    staging.mkdir()
    for i, rows in enumerate(slices):
        tmp = str(tmp_path / f"slice{i}")
        _docs(spark, rows).coalesce(1).write.parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        dst = staging / f"{i:04d}.parquet"
        shutil.move(os.path.join(tmp, part), dst)
        os.utime(dst, ns=(i * 10**9, i * 10**9))  # arrival order

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(staging))
    )
    pairs_path = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    stream_mine_and_append(
        stream, path_stream, pairs_path, ckpt, threshold=0.3
    )
    from conecta_spark.operators.minhash_store import stream_batch_id

    m = read_manifest(path_stream)
    assert m["applied_batches"] == [
        stream_batch_id(ckpt, 0), stream_batch_id(ckpt, 1)
    ]
    assert m["n_appended"] == 4
    epoch_dirs = sorted(glob.glob(os.path.join(pairs_path, "epoch-*")))
    assert len(epoch_dirs) == 2
    streamed = set()
    for d in epoch_dirs:
        streamed |= _pairs(spark.read.parquet(d))

    batch_union = set()
    for i, rows in enumerate(slices):
        batch_df = _docs(spark, rows)
        batch_union |= _pairs(
            incremental_pairs_stored(
                spark, path_batch, batch_df, threshold=0.3
            )
        )
        append_batch(spark, path_batch, batch_df, batch_id=f"day-{i}")
    assert streamed == batch_union and streamed  # non-vacuous

    # restart with the same checkpoint: nothing replays, nothing appends
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(staging))
    )
    stream_mine_and_append(
        stream2, path_stream, pairs_path, ckpt, threshold=0.3
    )
    m2 = read_manifest(path_stream)
    assert m2["applied_batches"] == m["applied_batches"]
    assert m2["n_appended"] == 4


def test_append_racing_compaction_commits_safely(spark, corpus, batch, tmp_path):
    """The lock claim, exercised: an append racing a compaction either
    commits before the fold (its batch is compacted in) or re-reads the
    post-compaction manifest under the lock and lands in the fresh
    applied_batches -- never dropped, never double-counted.  Whichever
    interleaving the scheduler picks, the final store must hold base +
    batch1 + batch2 exactly once each."""
    import threading

    from conecta_spark.operators.store import relation as _store_relation
    from conecta_spark.operators.minhash_store import (
        append_batch,
        compact_store,
        read_manifest,
        write_signature_store,
    )

    path = str(tmp_path / "store")
    write_signature_store(corpus, path)
    append_batch(spark, path, batch, batch_id="day-001")
    batch2 = _docs(
        spark, [(200, "completely unrelated fresh text nothing shared qqq")]
    )
    errors = []

    def _append():
        try:
            append_batch(spark, path, batch2, batch_id="day-002")
        except Exception as e:
            errors.append(e)

    def _compact():
        try:
            compact_store(spark, path)
        except Exception as e:
            errors.append(e)

    threads = [
        threading.Thread(target=_append),
        threading.Thread(target=_compact),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    m = read_manifest(path)
    # day-002 is either folded (compaction won the lock after its
    # commit) or pending in applied_batches (compaction ran first)
    folded = m.get("compacted_batches", [])
    assert ("day-002" in folded) ^ ("day-002" in m["applied_batches"])
    assert m["n_appended"] == 4  # 3 + 1, each booked exactly once
    sh = _store_relation(spark, path, m, "shingles")
    assert sh.count() == 34  # 30 base + 3 batch1 + 1 batch2
    assert sh.where(sh.doc_id == 200).count() == 1


def test_rebuild_over_compacted_store_sweeps_generations(
    spark, corpus, batch, tmp_path
):
    """A rebuild writes generation-0 dir names; a prior compaction's
    generation-suffixed relations must be swept, not orphaned (they are
    never referenced by the fresh manifest and compaction's own sweep
    only runs on stores with batches to fold)."""
    from conecta_spark.operators.minhash_store import (
        append_batch,
        compact_store,
        read_manifest,
        write_signature_store,
    )

    path = str(tmp_path / "store")
    write_signature_store(corpus, path)
    append_batch(spark, path, batch, batch_id="day-001")
    compact_store(spark, path)
    assert os.path.isdir(os.path.join(path, "shingles-g1"))
    write_signature_store(corpus, path)
    m = read_manifest(path)
    assert m.get("generation", 0) == 0 and m["n_docs"] == 30
    assert os.path.isdir(os.path.join(path, "shingles"))
    assert not os.path.exists(os.path.join(path, "shingles-g1"))
    assert not os.path.exists(os.path.join(path, "banded-g1"))


def test_replayed_batch_after_compaction_is_noop(
    spark, corpus, batch, tmp_path
):
    """The exactly-once guard must outlive compaction: after a batch id
    moves to compacted_batches (and its dir is eventually swept), a
    heal-retry or replayed streaming epoch with the same id must be a
    no-op -- re-appending would duplicate its docs in the store and
    double-count n_appended."""
    from conecta_spark.operators import store as ms
    from conecta_spark.operators.store import relation as _store_relation
    from conecta_spark.operators.minhash_store import (
        append_batch,
        compact_store,
        write_signature_store,
    )

    path = str(tmp_path / "store")
    write_signature_store(corpus, path)
    append_batch(spark, path, batch, batch_id="day-001")
    m1 = compact_store(spark, path)
    assert "day-001" in m1["compacted_batches"]
    # age the folded dir out so the replay can't shortcut on dir presence
    orig = ms._SWEEP_GRACE_NS
    ms._SWEEP_GRACE_NS = 0
    try:
        compact_store(spark, path)
    finally:
        ms._SWEEP_GRACE_NS = orig
    assert not os.path.exists(os.path.join(path, "batches", "day-001"))
    m2 = append_batch(spark, path, batch, batch_id="day-001")
    assert m2["applied_batches"] == []
    assert m2["n_appended"] == 3  # booked once, not twice
    sh = _store_relation(spark, path, m2, "shingles")
    assert sh.count() == 33
    assert sh.where(sh.doc_id == 100).count() == 1


def test_reader_mid_mine_survives_concurrent_compaction(
    spark, corpus, batch, tmp_path
):
    """Readers take no lock: a mine that loaded the pre-compaction
    manifest must complete across a concurrent compact_store with its
    pair set unchanged -- the grace-deferred sweep keeps the superseded
    generation and folded batch dirs on disk under its scan."""
    from conecta_spark.operators.minhash_store import (
        append_batch,
        compact_store,
        incremental_pairs_stored,
        write_signature_store,
    )

    path = str(tmp_path / "store")
    write_signature_store(corpus, path)
    append_batch(spark, path, batch, batch_id="day-001")
    probe = _docs(
        spark,
        [
            (300, "document number 0 about topic-0 with unique tail 0"),
            (301, "completely unrelated fresh text nothing shared qqq"),
        ],
    )
    expected = _pairs(
        incremental_pairs_stored(spark, path, probe, threshold=0.3)
    )
    # the reader's plan snapshots the PRE-compaction manifest here (lazy:
    # nothing materialized yet)
    reader = incremental_pairs_stored(spark, path, probe, threshold=0.3)
    m = compact_store(spark, path)
    assert m["generation"] == 1
    got = _pairs(reader)  # materializes against the old generation's dirs
    assert got == expected and got  # non-vacuous


def test_refreeze_equals_fresh_build(spark, tmp_path):
    """refreeze_common recomputes the DF table (and re-bands) from the
    STORED shingle relation: afterwards the store must mine exactly like
    one freshly built over the full current corpus, with the drift clock
    reset.  The fixture makes DF genuinely drift: a boilerplate phrase
    sits in 3/30 base docs (below the 10% build threshold) and in all 10
    appended docs (13/40 > 10% after the append)."""
    from conecta_spark.operators.minhash_store import (
        append_batch,
        incremental_pairs_stored,
        refreeze_common,
        write_signature_store,
    )

    phrase = "the boilerplate banner that every crawled page carries "
    base = _docs(
        spark,
        [
            (
                i,
                (phrase if i < 3 else "")
                + f"document number {i} about topic-{i % 7} with unique "
                f"tail {'x' * (i % 5)}{i * 1234567}",
            )
            for i in range(30)
        ],
    )
    batch_df = _docs(
        spark,
        [(100 + i, phrase + f"fresh crawl doc {i} tail {i * 7919}")
         for i in range(10)],
    )
    path = str(tmp_path / "store")
    fresh_path = str(tmp_path / "fresh")
    m0 = write_signature_store(base, path)
    append_batch(spark, path, batch_df, batch_id="day-001")
    m = refreeze_common(spark, path)
    assert m["n_docs"] == 40 and m["n_appended"] == 0
    assert m["generation"] == 1 and m["common_generation"] == 1
    assert m["compacted_batches"] == ["day-001"]
    # DF actually drifted: the phrase's shingles crossed the threshold
    common_old = spark.read.parquet(os.path.join(path, "common"))
    common_new = spark.read.parquet(os.path.join(path, "common-g1"))
    assert common_new.count() > common_old.count()
    assert m0["n_docs"] == 30  # build-time manifest untouched semantics

    write_signature_store(base.unionByName(batch_df), fresh_path)
    probe = _docs(
        spark,
        [
            (300, phrase + "fresh crawl doc 3 tail 23757"),
            (
                301,
                "document number 7 about topic-0 with unique tail "
                "xx8641969",
            ),
        ],
    )
    got = _pairs(
        incremental_pairs_stored(spark, path, probe, threshold=0.3)
    )
    want = _pairs(
        incremental_pairs_stored(spark, fresh_path, probe, threshold=0.3)
    )
    assert got == want and got  # non-vacuous
    # both sides of the lifecycle hit: a batch-side and a base-side dup
    assert (103, 300) in got and (7, 301) in got


def test_fresh_checkpoint_over_same_store_appends(spark, corpus, tmp_path):
    """Batch ids are scoped to the checkpoint lineage: a NEW stream
    (fresh checkpoint) over the same store restarts at epoch 0, and its
    micro-batches must NOT collide with a previous lineage's applied
    epoch ids (the unscoped form silently dropped them as replays)."""
    import shutil

    from conecta_spark.operators.minhash_store import (
        read_manifest,
        stream_batch_id,
        stream_mine_and_append,
        write_signature_store,
    )

    # unit shape: stable per checkpoint, distinct across checkpoints
    assert stream_batch_id("/tmp/ck-a", 0) == stream_batch_id("/tmp/ck-a", 0)
    assert stream_batch_id("/tmp/ck-a", 0) != stream_batch_id("/tmp/ck-b", 0)

    path = str(tmp_path / "store")
    write_signature_store(corpus, path)

    def run(tag: str, rows) -> None:
        staging = tmp_path / f"staging-{tag}"
        staging.mkdir()
        tmpd = str(tmp_path / f"slice-{tag}")
        _docs(spark, rows).coalesce(1).write.parquet(tmpd)
        part = next(p for p in os.listdir(tmpd) if p.endswith(".parquet"))
        shutil.move(os.path.join(tmpd, part), staging / "0000.parquet")
        stream = spark.readStream.schema(
            "doc_id long, text string"
        ).parquet(str(staging))
        stream_mine_and_append(
            stream,
            path,
            str(tmp_path / f"pairs-{tag}"),
            str(tmp_path / f"ckpt-{tag}"),
            threshold=0.3,
        )

    run("a", [(100, "completely unrelated fresh text nothing shared qqq")])
    run("b", [(200, "completely unrelated fresh text nothing shared vvv")])
    m = read_manifest(path)
    # lineage b's epoch 0 was appended, not skipped as a replay of a's
    assert m["n_appended"] == 2
    assert len(m["applied_batches"]) == 2


def test_footer_row_count_equals_spark_count(spark, sf_dir, tmp_path):
    """The O9 footer probe must equal a real Spark count bit-for-bit --
    it feeds the x73/x77-x81 slice cuts, so a drift here silently changes
    declared-query results.  Checked on the single-file testdata layout
    AND a multi-part Spark-written directory."""
    from conecta_spark.operators.minhash_store import footer_row_count

    n_spark = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).count()
    assert footer_row_count(spark, sf_dir, "documents") == n_spark

    multi = tmp_path / "multi" / "docs.parquet"
    spark.range(0, 1234, numPartitions=7).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text"
    ).write.parquet(str(multi))
    assert footer_row_count(spark, str(tmp_path / "multi"), "docs") == 1234
