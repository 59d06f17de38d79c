"""The manifest-committed batch store protocol (operators/store.py),
driven directly with a few-row writer -- no MinHash, no k-means.

The signature and ANN stores' own tests pin their relations and mining
or search semantics; these pin the commit, heal, replay, sweep and
rebuild rules both stores share.
"""

from __future__ import annotations

import dataclasses
import os
import threading
import time

import pytest

from conecta_spark.operators import store

LAYOUT = store.Layout(
    label="test store",
    version=1,
    relations=("rows",),
    side="meta.json",
    side_key="meta_generation",
    cache_root="/nonexistent",
)


def _ids(spark, path):
    m = store.read_manifest(LAYOUT, path)
    return sorted(r.id for r in store.relation(spark, path, m, "rows").collect())


def _build(spark, path, n=5):
    def write(out):
        spark.range(n).write.mode("overwrite").parquet(out["rows"])
        store.write_json(out["meta.json"], {"n": n})
        return {"n_rows": n, "n_appended": 0}

    return store.build(LAYOUT, path, write)


def _append(spark, path, batch_id, ids, calls=None, book=None):
    def write(m, batch_dir):
        if calls is not None:
            calls.append(batch_id)
        spark.createDataFrame([(i,) for i in ids], "id long").write.parquet(
            os.path.join(batch_dir, "rows")
        )

    def count(batch_dir):
        rows = spark.read.parquet(os.path.join(batch_dir, "rows")).count()
        return {"n_appended": rows}

    return store.append(LAYOUT, path, batch_id, write, book or count)


def _fold(spark, path, new_side=False):
    def write(m, out):
        store.relation(spark, path, m, "rows").write.parquet(out["rows"])
        if new_side:
            store.write_json(out["meta.json"], {"refolded": True})

    return store.fold(LAYOUT, path, write, new_side=new_side)


def _age(p):
    old = time.time_ns() - store._SWEEP_GRACE_NS - 10**9
    os.utime(p, ns=(old, old))


def test_concurrent_appends_both_commit(spark, tmp_path):
    """The manifest commit is a read-modify-write of applied_batches;
    two racing appends must both land, each booked once."""
    path = str(tmp_path / "s")
    _build(spark, path)
    errors = []

    def run(batch_id, ids):
        try:
            _append(spark, path, batch_id, ids)
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [
        threading.Thread(target=run, args=("a", [10])),
        threading.Thread(target=run, args=("b", [11, 12])),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    m = store.read_manifest(LAYOUT, path)
    assert sorted(m["applied_batches"]) == ["a", "b"]
    assert m["n_appended"] == 3
    assert _ids(spark, path) == [0, 1, 2, 3, 4, 10, 11, 12]


def test_renamed_uncommitted_batch_heals_on_retry(spark, tmp_path):
    """A crash between the rename and the manifest commit leaves a
    complete but unlisted batch dir; a retry with the same id adopts it
    without rewriting and books it exactly once."""
    path = str(tmp_path / "s")
    _build(spark, path)
    calls = []

    def crash(batch_dir):
        raise RuntimeError("crash after rename")

    with pytest.raises(RuntimeError, match="crash after rename"):
        _append(spark, path, "day-1", [10, 11], calls, book=crash)
    assert os.path.isdir(os.path.join(path, "batches", "day-1"))
    assert store.read_manifest(LAYOUT, path)["applied_batches"] == []
    assert _ids(spark, path) == [0, 1, 2, 3, 4]

    m = _append(spark, path, "day-1", [10, 11], calls)
    assert calls == ["day-1"]  # adopted, not rewritten
    assert m["applied_batches"] == ["day-1"] and m["n_appended"] == 2
    m = _append(spark, path, "day-1", [10, 11], calls)
    assert calls == ["day-1"] and m["n_appended"] == 2  # booked once
    assert _ids(spark, path) == [0, 1, 2, 3, 4, 10, 11]


def test_unlisted_batch_dir_is_invisible(spark, tmp_path):
    """Only manifest-listed batch dirs are read, and the sweep leaves an
    unlisted one alone however old it is: it may be an append between
    its rename and its commit, which a heal-retry will adopt."""
    path = str(tmp_path / "s")
    _build(spark, path)
    stray = os.path.join(path, "batches", "stray")
    spark.range(100, 103).write.parquet(os.path.join(stray, "rows"))
    assert _ids(spark, path) == [0, 1, 2, 3, 4]
    _age(stray)
    _fold(spark, path)  # sweep-only pass
    assert os.path.isdir(stray)
    assert _ids(spark, path) == [0, 1, 2, 3, 4]


def test_replaying_a_compacted_id_is_noop(spark, tmp_path):
    """A batch id stays committed after a fold moved it into the base,
    also once its dir is swept: a replay writes and books nothing."""
    path = str(tmp_path / "s")
    _build(spark, path)
    calls = []
    _append(spark, path, "day-1", [10], calls)
    m = _fold(spark, path)
    assert m["applied_batches"] == [] and m["compacted_batches"] == ["day-1"]
    _age(os.path.join(path, "batches", "day-1"))
    _fold(spark, path)  # sweep-only pass removes the folded dir
    assert not os.path.exists(os.path.join(path, "batches", "day-1"))
    m = _append(spark, path, "day-1", [10], calls)
    assert calls == ["day-1"]
    assert m["applied_batches"] == [] and m["n_appended"] == 1
    assert _ids(spark, path) == [0, 1, 2, 3, 4, 10]


def test_sweep_keeps_fresh_superseded_dirs_and_removes_aged(spark, tmp_path):
    """Readers take no lock, so a fold keeps what it superseded -- the
    old generation and the folded batch dir -- until they are older
    than the grace window; the next fold's sweep then removes them and
    keeps everything the manifest references."""
    path = str(tmp_path / "s")
    _build(spark, path)
    _append(spark, path, "day-1", [10])
    m = _fold(spark, path)
    assert m["generation"] == 1
    _fold(spark, path)  # sweep-only: everything superseded is fresh
    assert os.path.isdir(os.path.join(path, "rows"))
    assert os.path.isdir(os.path.join(path, "batches", "day-1"))
    _age(os.path.join(path, "rows"))
    _age(os.path.join(path, "batches", "day-1"))
    _fold(spark, path)
    assert not os.path.exists(os.path.join(path, "rows"))
    assert not os.path.exists(os.path.join(path, "batches", "day-1"))
    assert os.path.isdir(os.path.join(path, "rows-g1"))
    assert os.path.isfile(os.path.join(path, "meta.json"))  # current side
    assert _ids(spark, path) == [0, 1, 2, 3, 4, 10]


def test_sweep_removes_aged_crash_leftovers(spark, tmp_path):
    """A crashed append's ``batches/.tmp-*`` dir and a crashed manifest
    write's ``.manifest.json.tmp-*`` file go once past the grace window;
    fresh ones (possibly an append still writing) stay."""
    path = str(tmp_path / "s")
    _build(spark, path)
    old_dir = os.path.join(path, "batches", ".tmp-0123456789ab")
    new_dir = os.path.join(path, "batches", ".tmp-ba9876543210")
    old_file = os.path.join(path, ".manifest.json.tmp-0123abcd")
    new_file = os.path.join(path, ".manifest.json.tmp-dcba3210")
    for d in (old_dir, new_dir):
        os.makedirs(os.path.join(d, "rows"))
    for f in (old_file, new_file):
        with open(f, "w") as fh:
            fh.write("{")
    _age(old_dir)
    _age(old_file)
    _fold(spark, path)  # sweep-only pass
    assert not os.path.exists(old_dir)
    assert not os.path.exists(old_file)
    assert os.path.isdir(new_dir)
    assert os.path.isfile(new_file)
    assert store.read_manifest(LAYOUT, path)["n_rows"] == 5


def test_rebuild_over_compacted_store_removes_old_generations(spark, tmp_path):
    """A rebuild writes generation 0; the relations and side artifact a
    prior fold wrote as later generations must go with the old batches,
    not be orphaned."""
    path = str(tmp_path / "s")
    _build(spark, path)
    _append(spark, path, "day-1", [10])
    m = _fold(spark, path, new_side=True)
    assert m["generation"] == 1 and m["meta_generation"] == 1
    assert store.side_path(LAYOUT, path, m).endswith("meta-g1.json")
    assert os.path.isdir(os.path.join(path, "rows-g1"))
    m = _build(spark, path, n=3)
    assert m.get("generation", 0) == 0 and m["applied_batches"] == []
    assert not os.path.exists(os.path.join(path, "rows-g1"))
    assert not os.path.exists(os.path.join(path, "meta-g1.json"))
    assert not os.path.exists(os.path.join(path, "batches"))
    assert _ids(spark, path) == [0, 1, 2]


def test_cached_store_builds_once_per_fingerprint(tmp_path):
    """The registry cache builds a store once per corpus fingerprint,
    builds a regenerated corpus into a new directory, and prunes the
    superseded one once it is past the grace window."""
    layout = dataclasses.replace(LAYOUT, cache_root=str(tmp_path / "cache"))
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    (sf_dir / "t.parquet").write_bytes(b"v1")
    builds = []

    def build_fn(path, manifest_extra):
        builds.append(path)
        store.build(layout, path, lambda out: {"n_rows": 0}, manifest_extra)

    def cached():
        return store.cached_store(
            layout, "key", str(sf_dir), "t", lambda m: True, build_fn
        )

    first = cached()
    assert cached() == first and builds == [first]
    (sf_dir / "t.parquet").write_bytes(b"v2!")  # regenerated corpus
    _age(first)
    second = cached()
    assert second != first and builds == [first, second]
    assert os.path.dirname(second) == os.path.dirname(first)
    assert not os.path.exists(first)
