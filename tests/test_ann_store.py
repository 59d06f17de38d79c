"""Persisted IVF ANN index (operators/ann_store.py, x79).

The x79 DuckDB oracle pins the exact-panel half cross-engine; these
tests pin the store mechanics the oracle can't see: search parity with
the in-memory engine (the r11 verdict's "oracle-equal search vs
in-memory IVF" criterion), frozen-centroid append semantics, id
hygiene, replay guards across compaction, and manifest crash-safety --
the same contract matrix as test_minhash_store.py, for the ANN layout.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

DIM = 64


def _vecs(spark, ids, seed=7):
    rng = np.random.RandomState(seed)
    rows = []
    for i in ids:
        rng_i = np.random.RandomState(seed * 100003 + i)
        v = rng_i.randn(DIM)
        v = v / np.linalg.norm(v)
        rows.append((int(i), [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def _rows(df):
    return {
        (r.query_id, r.vec_id, r.score, r.rank)
        for r in df.select("query_id", "vec_id", "score", "rank").collect()
    }


@pytest.fixture()
def corpus(spark):
    return _vecs(spark, range(80))


@pytest.fixture()
def batch(spark):
    return _vecs(spark, range(100, 120))


def test_store_search_equals_in_memory(spark, corpus, tmp_path):
    """A freshly built store searched with ann_store_search must return
    row-for-row what build_ivf_index + ivf_search_batch return on the
    same corpus and seed: the persisted assignment IS the in-memory
    assignment, written down."""
    from conecta_spark.operators.ann_store import (
        ann_store_search,
        write_ann_store,
    )
    from conecta_spark.operators.simsearch import (
        build_ivf_index,
        ivf_search_batch,
    )

    path = str(tmp_path / "ann")
    m = write_ann_store(corpus, path, n_clusters=8)
    assert m["n_vecs"] == 80 and m["n_appended"] == 0
    got = _rows(
        ann_store_search(spark, path, [0, 1, 2], k=5, n_probe=3)
    )
    index = build_ivf_index(corpus, n_clusters=8)
    try:
        want = _rows(ivf_search_batch(index, [0, 1, 2], k=5, n_probe=3))
    finally:
        index.unpersist()
    assert got == want and got  # non-vacuous


def test_append_assigns_against_stored_centroids(spark, corpus, batch, tmp_path):
    """Frozen-centroid semantics: an appended batch's cell assignments
    must equal assign_cells against the stored centroid matrix (no
    retrain), and a search over the appended store must equal the
    in-memory engine over base-assigned + batch-assigned unioned."""
    from conecta_spark.operators.ann_store import (
        _assigned_relation,
        append_ann_batch,
        ann_store_search,
        read_ann_manifest,
        read_centroids,
        write_ann_store,
    )
    from conecta_spark.operators.simsearch import (
        IVFIndex,
        assign_cells,
        build_ivf_index,
        ivf_search_batch,
    )

    path = str(tmp_path / "ann")
    write_ann_store(corpus, path, n_clusters=8)
    m = append_ann_batch(spark, path, batch, batch_id="day-001")
    assert m["applied_batches"] == ["day-001"]
    assert m["n_appended"] == 20 and m["n_vecs"] == 80  # drift signal

    centers = read_centroids(path)
    stored = _assigned_relation(spark, path, read_ann_manifest(path))
    stored_batch = {
        (r.vec_id, r.cell)
        for r in stored.where(F.col("vec_id") >= 100).collect()
    }
    new_vecs = batch.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    direct = {
        (r.vec_id, r.cell)
        for r in assign_cells(new_vecs, centers, "vec_id").collect()
    }
    assert stored_batch == direct and len(stored_batch) == 20

    # search parity: in-memory twin = base index + batch assigned with
    # the SAME (stored == base-trained) centroids
    index = build_ivf_index(corpus, n_clusters=8)
    try:
        twin = IVFIndex(
            index.assigned.unionByName(
                assign_cells(new_vecs, index.centers, "vec_id")
            ),
            index.centers,
            "vec_id",
        )
        want = _rows(ivf_search_batch(twin, [0, 101], k=5, n_probe=3))
    finally:
        index.unpersist()
    got = _rows(ann_store_search(spark, path, [0, 101], k=5, n_probe=3))
    assert got == want and got
    # the batch side is actually searchable (query 101 lives in it)
    assert any(q == 101 for q, *_ in got)


def test_append_rejects_overlapping_ids(spark, corpus, tmp_path):
    from conecta_spark.operators.ann_store import (
        append_ann_batch,
        write_ann_store,
    )

    path = str(tmp_path / "ann")
    write_ann_store(corpus, path, n_clusters=8)
    with pytest.raises(ValueError, match="share vector ids"):
        append_ann_batch(spark, path, corpus.limit(3))


def test_replay_guards_survive_compaction(spark, corpus, batch, tmp_path):
    """append is idempotent by batch_id, including after a compaction
    moved the id to compacted_batches and the dir aged out -- the same
    exactly-once matrix as the signature store."""
    from conecta_spark.operators import store as mod
    from conecta_spark.operators.ann_store import (
        _assigned_relation,
        append_ann_batch,
        compact_ann_store,
        read_ann_manifest,
        write_ann_store,
    )

    path = str(tmp_path / "ann")
    write_ann_store(corpus, path, n_clusters=8)
    append_ann_batch(spark, path, batch, batch_id="day-001")
    m1 = append_ann_batch(spark, path, batch, batch_id="day-001")
    assert m1["n_appended"] == 20  # booked once

    m2 = compact_ann_store(spark, path)
    assert m2["generation"] == 1
    assert m2["applied_batches"] == []
    assert m2["compacted_batches"] == ["day-001"]
    # grace: the superseded base and folded batch dir survive the commit
    assert os.path.isdir(os.path.join(path, "assigned"))
    assert os.path.isdir(os.path.join(path, "batches", "day-001"))
    # age them out, sweep-only pass removes them
    orig = mod._SWEEP_GRACE_NS
    mod._SWEEP_GRACE_NS = 0
    try:
        compact_ann_store(spark, path)
    finally:
        mod._SWEEP_GRACE_NS = orig
    assert not os.path.exists(os.path.join(path, "assigned"))
    assert not os.path.exists(os.path.join(path, "batches", "day-001"))
    # replay of the folded id: still a no-op
    m3 = append_ann_batch(spark, path, batch, batch_id="day-001")
    assert m3["n_appended"] == 20
    rel = _assigned_relation(spark, path, read_ann_manifest(path))
    assert rel.count() == 100
    assert rel.where(F.col("vec_id") == 100).count() == 1


def test_compaction_preserves_search(spark, corpus, batch, tmp_path):
    """Compaction is purely physical: search results are row-identical
    before and after the fold."""
    from conecta_spark.operators.ann_store import (
        ann_store_search,
        append_ann_batch,
        compact_ann_store,
        write_ann_store,
    )

    path = str(tmp_path / "ann")
    write_ann_store(corpus, path, n_clusters=8)
    append_ann_batch(spark, path, batch, batch_id="day-001")
    before = _rows(ann_store_search(spark, path, [0, 101], k=5, n_probe=3))
    compact_ann_store(spark, path)
    after = _rows(ann_store_search(spark, path, [0, 101], k=5, n_probe=3))
    assert after == before and after


def test_recluster_equals_fresh_build(spark, corpus, batch, tmp_path):
    """recluster_ann_store retrains from the STORED vectors through
    build_ivf_index's own code path, so centroids, assignments, and
    search results must be BIT-IDENTICAL to write_ann_store over the
    same corpus -- the source embeddings are never re-read."""
    from conecta_spark.operators.ann_store import (
        _assigned_relation,
        ann_store_search,
        append_ann_batch,
        read_ann_manifest,
        read_centroids,
        recluster_ann_store,
        write_ann_store,
    )

    path = str(tmp_path / "ann")
    fresh = str(tmp_path / "fresh")
    write_ann_store(corpus, path, n_clusters=8)
    append_ann_batch(spark, path, batch, batch_id="day-001")
    m = recluster_ann_store(spark, path)
    # drift clock reset at a generation bump
    assert m["n_appended"] == 0 and m["n_vecs"] == 100
    assert m["generation"] == 1 and m["centroid_generation"] == 1
    assert m["applied_batches"] == []
    assert m["compacted_batches"] == ["day-001"]

    write_ann_store(corpus.unionByName(batch), fresh, n_clusters=8)
    assert read_centroids(path) == read_centroids(fresh)
    stored = {
        (r.vec_id, r.cell)
        for r in _assigned_relation(
            spark, path, read_ann_manifest(path)
        ).collect()
    }
    want = {
        (r.vec_id, r.cell)
        for r in _assigned_relation(
            spark, fresh, read_ann_manifest(fresh)
        ).collect()
    }
    assert stored == want and len(stored) == 100
    got = _rows(ann_store_search(spark, path, [0, 101], k=5, n_probe=3))
    ref = _rows(ann_store_search(spark, fresh, [0, 101], k=5, n_probe=3))
    assert got == ref and got


def test_recluster_keeps_old_routing_for_grace(spark, corpus, batch, tmp_path):
    """Readers take no lock: after a recluster, the OLD centroid file
    and OLD assignment generation must survive the commit (a reader
    holding the pre-recluster manifest keeps routing old centroids
    against the old cells), aging out only past the grace window."""
    from conecta_spark.operators import store as mod
    from conecta_spark.operators.ann_store import (
        append_ann_batch,
        compact_ann_store,
        recluster_ann_store,
        write_ann_store,
    )

    path = str(tmp_path / "ann")
    write_ann_store(corpus, path, n_clusters=8)
    append_ann_batch(spark, path, batch, batch_id="day-001")
    recluster_ann_store(spark, path)
    assert os.path.isfile(os.path.join(path, "centroids.json"))
    assert os.path.isfile(os.path.join(path, "centroids-g1.json"))
    assert os.path.isdir(os.path.join(path, "assigned"))
    assert os.path.isdir(os.path.join(path, "assigned-g1"))
    orig = mod._SWEEP_GRACE_NS
    mod._SWEEP_GRACE_NS = 0
    try:
        compact_ann_store(spark, path)  # sweep-only pass
    finally:
        mod._SWEEP_GRACE_NS = orig
    assert not os.path.exists(os.path.join(path, "centroids.json"))
    assert os.path.isfile(os.path.join(path, "centroids-g1.json"))
    assert not os.path.exists(os.path.join(path, "assigned"))
    assert os.path.isdir(os.path.join(path, "assigned-g1"))


def test_search_new_vectors_equals_panel_semantics(spark, corpus, batch, tmp_path):
    """ivf_search_new over EXTERNAL query vectors must score and rank
    exactly like ivf_search_batch does for in-index queries probing the
    same cells: append the batch, search it as a panel (the in-index
    path), and compare against ivf_search_new run BEFORE the append --
    the store contents the two paths see differ only by the batch
    itself, which the panel path excludes via the self/identity filter
    and the new path never had."""
    from conecta_spark.operators.ann_store import (
        ann_store_search,
        append_ann_batch,
        ivf_search_new,
        read_ann_manifest,
        read_centroids,
        write_ann_store,
        _assigned_relation,
    )
    from conecta_spark.operators.simsearch import IVFIndex

    path = str(tmp_path / "ann")
    write_ann_store(corpus, path, n_clusters=8)
    m = read_ann_manifest(path)
    qvecs = batch.select(
        F.col("vec_id").alias("query_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("qv"),
    )
    index = IVFIndex(
        _assigned_relation(spark, path, m), read_centroids(path, m), "vec_id"
    )
    got = _rows(ivf_search_new(index, qvecs, k=5, n_probe=3))
    assert got and len({q for q, *_ in got}) == 20  # every query answered
    # all neighbors come from the store, never from the batch itself
    assert all(v < 100 for _, v, _, _ in got)

    # in-index twin: after appending, the SAME query ids probed as a
    # panel must return the same stored neighbors (batch ids >= 100
    # excluded to keep the candidate sets comparable)
    append_ann_batch(spark, path, batch, batch_id="day-001")
    panel = ann_store_search(
        spark, path, [100, 105, 110], k=20, n_probe=3
    ).where(F.col("vec_id") < 100)
    want = {
        (q, v, s)
        for q, v, s, _ in _rows(panel)
    }
    got_sub = {
        (q, v, s) for q, v, s, r in got if q in (100, 105, 110)
    }
    # got has k=5 per query; the panel's top-5 stored neighbors must
    # match pair-for-pair
    from collections import defaultdict

    panel_top5 = defaultdict(list)
    for q, v, s in sorted(want, key=lambda t: (t[0], -t[2], t[1])):
        if len(panel_top5[q]) < 5:
            panel_top5[q].append((v, s))
    want_sub = {
        (q, v, s) for q, vs in panel_top5.items() for v, s in vs
    }
    assert got_sub == want_sub and got_sub


def test_stream_ingestion_matches_batch_loop(spark, corpus, tmp_path):
    """foreachBatch ANN ingestion: a 2-micro-batch streaming run must
    screen (top-k stored neighbors per arriving vector) and append
    exactly what the hand-written batch loop does, and a RESTART of the
    completed run must append zero new batches -- the signature store's
    exactly-once matrix, for the ANN layout."""
    import glob
    import shutil

    from conecta_spark.operators.ann_store import (
        _assigned_relation,
        append_ann_batch,
        ivf_search_new,
        read_ann_manifest,
        read_centroids,
        stream_assign_and_append,
        write_ann_store,
    )
    from conecta_spark.operators.minhash_store import stream_batch_id
    from conecta_spark.operators.simsearch import IVFIndex

    path_stream = str(tmp_path / "ann_stream")
    path_batch = str(tmp_path / "ann_batch")
    write_ann_store(corpus, path_stream, n_clusters=8)
    write_ann_store(corpus, path_batch, n_clusters=8)

    slices = [list(range(100, 110)), list(range(200, 210))]
    staging = tmp_path / "staging"
    staging.mkdir()
    for i, ids in enumerate(slices):
        tmp = str(tmp_path / f"slice{i}")
        _vecs(spark, ids).coalesce(1).write.parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        dst = staging / f"{i:04d}.parquet"
        shutil.move(os.path.join(tmp, part), dst)
        os.utime(dst, ns=(i * 10**9, i * 10**9))  # arrival order

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(staging))
    )
    nbrs_path = str(tmp_path / "nbrs")
    ckpt = str(tmp_path / "ckpt")
    stream_assign_and_append(
        stream, path_stream, nbrs_path, ckpt, k=5, n_probe=3
    )
    m = read_ann_manifest(path_stream)
    assert m["applied_batches"] == [
        stream_batch_id(ckpt, 0), stream_batch_id(ckpt, 1)
    ]
    assert m["n_appended"] == 20
    epoch_dirs = sorted(glob.glob(os.path.join(nbrs_path, "epoch-*")))
    assert len(epoch_dirs) == 2
    streamed = set()
    for d in epoch_dirs:
        streamed |= _rows(spark.read.parquet(d))

    batch_union = set()
    for i, ids in enumerate(slices):
        batch_df = _vecs(spark, ids)
        mb = read_ann_manifest(path_batch)
        index = IVFIndex(
            _assigned_relation(spark, path_batch, mb),
            read_centroids(path_batch, mb),
            "vec_id",
        )
        qvecs = batch_df.select(
            F.col("vec_id").alias("query_id"),
            F.expr(
                "transform(embedding, x -> CAST(x AS DOUBLE))"
            ).alias("qv"),
        )
        batch_union |= _rows(
            ivf_search_new(index, qvecs, k=5, n_probe=3)
        )
        append_ann_batch(spark, path_batch, batch_df, batch_id=f"day-{i}")
    assert streamed == batch_union and streamed  # non-vacuous
    # epoch-1 screening ran against base + epoch-0 (the growing store)
    assert any(v >= 100 for _, v, _, _ in streamed)

    # restart with the same checkpoint: nothing replays, nothing appends
    stream2 = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(staging))
    )
    stream_assign_and_append(
        stream2, path_stream, nbrs_path, ckpt, k=5, n_probe=3
    )
    m2 = read_ann_manifest(path_stream)
    assert m2["applied_batches"] == m["applied_batches"]
    assert m2["n_appended"] == 20


def test_half_built_store_reads_as_absent(spark, corpus, tmp_path):
    from conecta_spark.operators.ann_store import (
        ANN_MANIFEST,
        read_ann_manifest,
        write_ann_store,
    )

    path = str(tmp_path / "ann")
    write_ann_store(corpus, path, n_clusters=8)
    os.remove(os.path.join(path, ANN_MANIFEST))
    with pytest.raises(FileNotFoundError):
        read_ann_manifest(path)
