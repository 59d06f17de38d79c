"""PersistSlot: the evict-first cache every operator holds its persisted
intermediates in.  Stub frames pin the slot's own contract without a
session; the operator tests check that a second call releases the first
call's cache instead of adding to it."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark import StorageLevel

from conecta_spark.operators import dedup, simsearch
from conecta_spark.queries import t
from conecta_spark.session import PersistSlot


class _Frame:
    """The DataFrame surface a slot touches, with a stoppable context."""

    def __init__(self, live: bool = True, unpersist_error: Exception | None = None):
        self.sparkSession = SimpleNamespace(
            sparkContext=SimpleNamespace(_jsc=object() if live else None)
        )
        self.storageLevel = StorageLevel.NONE
        self.unpersisted = 0
        self._error = unpersist_error

    def persist(self, level):
        self.storageLevel = level
        return self

    def unpersist(self):
        if self._error is not None:
            raise self._error
        self.unpersisted += 1
        self.storageLevel = StorageLevel.NONE
        return self


def test_evict_unpersists_every_held_frame():
    slot = PersistSlot()
    a, b = _Frame(), _Frame()
    assert slot.hold(a) is a and slot.hold(b) is b
    assert a.storageLevel == StorageLevel.MEMORY_AND_DISK
    slot.evict()
    assert (a.unpersisted, b.unpersisted) == (1, 1)
    assert slot._held == []


def test_frame_of_a_stopped_context_is_forgotten_without_unpersist():
    slot = PersistSlot()
    dead = _Frame(live=False, unpersist_error=RuntimeError("stopped"))
    slot.hold(dead, key="k")
    # its storageLevel still reads as cached, but the cache died with the
    # context: no hit, and eviction drops it without calling unpersist
    assert dead.storageLevel.useMemory
    assert slot.get("k") is None
    slot.evict()
    assert slot._held == []


def test_unpersist_error_on_a_live_frame_propagates():
    slot = PersistSlot()
    slot.hold(_Frame(unpersist_error=RuntimeError("boom")))
    with pytest.raises(RuntimeError, match="boom"):
        slot.evict()


def test_get_returns_a_keyed_frame_only_while_cached():
    slot = PersistSlot()
    f = slot.hold(_Frame(), StorageLevel.MEMORY_AND_DISK_DESER, key=("app", 1))
    assert slot.get(("app", 1)) is f
    assert slot.get(("app", 2)) is None
    f.storageLevel = StorageLevel.NONE  # what clearCache() leaves behind
    assert slot.get(("app", 1)) is None


def _cached_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _ngram(spark, sf_dir, n):
    docs = t(spark, sf_dir, "documents").where(f"doc_id < {n}")
    return dedup.ngram_jaccard_pairs(docs, threshold=0.8, k=3)


def _minhash_ml(spark, sf_dir, n):
    docs = t(spark, sf_dir, "documents").where(f"doc_id < {n}")
    return dedup.minhash_lsh_ml(docs, threshold=0.5)


def _semantic_dedup(spark, sf_dir, n):
    emb = t(spark, sf_dir, "embeddings").where(f"vec_id < {n}")
    return simsearch.semantic_dedup(emb, k=4, threshold=0.35)


@pytest.mark.parametrize(
    "call, slot",
    [
        (_ngram, dedup._NGRAM),
        (_minhash_ml, dedup._ML_FEAT),
        (_semantic_dedup, simsearch._SEMDEDUP),
    ],
    ids=["ngram_jaccard_pairs", "minhash_lsh_ml", "semantic_dedup"],
)
def test_second_call_releases_the_first_calls_cache(
    spark, sf_dir, call, slot
):
    """Two calls on different inputs leave one call's cache: the second
    call's persist replaces the first's instead of adding an entry that
    lives until clearCache or session end."""
    slot.evict()
    before = _cached_rdds(spark)
    call(spark, sf_dir, 200).count()
    first = _cached_rdds(spark)
    assert first > before
    call(spark, sf_dir, 150).count()
    assert _cached_rdds(spark) == first
