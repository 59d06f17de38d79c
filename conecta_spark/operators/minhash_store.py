"""Persisted MinHash signature store: the daily-ingest contract for
incremental near-dup mining at 100 TB.

:func:`..operators.dedup.incremental_minhash_pairs` (x73) drives candidate
generation from the new batch, so corpus x corpus pairs are never
generated -- but it still RECOMPUTES the corpus's shingle hashes, DF
filter, and MinHash signatures every run, an O(corpus) CPU pass that
dwarfs the batch at a steady 100 TB corpus with a small daily crawl.
This module persists that work once:

* :func:`write_signature_store` -- one full mining front-half over the
  corpus, written as parquet relations plus a params manifest;
* :func:`incremental_pairs_stored` -- signs ONLY the new batch (against
  the store's frozen DF table), band-joins it against the stored banded
  relation, and exact-verifies with shingle arrays read from the store;
* :func:`append_batch` -- folds the batch's banded/shingle rows into the
  store so tomorrow's batch mines against today's corpus;
* :func:`compact_store` -- rewrites base + applied batch dirs into one
  well-partitioned relation per store, so read-side cost stays flat as
  daily appends accumulate;
* :func:`refreeze_common` -- recomputes the frozen DF table from the
  stored shingles when appends have drifted it.

Every mining stage is the inline miners' own (:mod:`.dedup`): shingle
hashing, corpus stats, the DF filter, signing and banding, the
verify-broadcast gate, the ``max_band_width`` cap and the
new-side-driven candidate join and verify.  The store changes only
where the DF table and the corpus relations come from: frozen at build
or refreeze and read back from parquet.

Frozen-DF semantics -- the one deliberate divergence from x73: the
document-frequency statistics (boilerplate set and the ``max_df``
denominator) are computed at store-build time over the CORPUS and reused
verbatim for every batch, instead of recomputed over corpus-union-batch.
That is what makes the batch pass O(batch): a union-DF would re-aggregate
the corpus's token relation every day.  The trade is bounded and
monitorable -- a shingle drifts across the threshold only when batch
volume shifts its corpus-wide frequency past ``max_df``, so refreeze (or
rebuild) the store when cumulative appends exceed ~10-20% of the corpus
(the manifest tracks ``n_docs`` at build vs ``n_appended``).  The DuckDB
oracle twin (``_duck_mh_sigs(df_pred=...)``) mirrors frozen-DF exactly,
so the semantics are pinned cross-engine, not hand-waved.

Store layout (all paths under ``path/``; generations, batch dirs and the
crash discipline are :mod:`.store`'s)::

    manifest.json   params (k, num_perms, bands, max_df, id_col,
                    text_col), n_docs and tot_hashes at build or last
                    refreeze, n_appended since
    banded/         (id, band_idx, band_key) parquet, repartitioned by
                    (band_idx, band_key) so candidate-join buckets are
                    file-clustered
    shingles/       (id, sh array<bigint>) parquet, sorted by id within
                    partitions so the verify join's row-group stats
                    enable runtime skipping on selective candidates
    common/         (h bigint) -- the frozen boilerplate shingle set
                    (the side artifact)
    batches/<id>/   per-append shingles/banded dirs

Reference parity note: the reference engine has no incremental mining;
this extends its dedup surface with the operation a training-data
pipeline actually runs daily (SURVEY.md section 2.4 extension family).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store
from .dedup import (
    MINING,
    _common_shingles,
    _corpus_stats,
    _new_driven_pairs,
    _require_disjoint_ids,
    _resolve_broadcast_verify,
    _sign_and_band,
    hashed_shingles,
)
from .store import MANIFEST, footer_row_count, stream_batch_id  # noqa: F401

from ..queries import register, t
from ..sources.parquet import table_files

STORE_VERSION = 1

_LAYOUT = store.Layout(
    label="signature store",
    version=STORE_VERSION,
    relations=("shingles", "banded"),
    side="common",
    side_key="common_generation",
    cache_root="/tmp/conecta_spark_sigstore",
)


def read_manifest(path: str) -> dict:
    return store.read_manifest(_LAYOUT, path)


def _link_fold(dst: str, src_dirs: list) -> None:
    """Fold parquet relations at the FILE level: hard-link every part
    file of ``src_dirs`` into a fresh ``dst`` (copy on filesystems that
    refuse the link).  Zero data pass -- the union of the sources' rows
    IS the folded relation (ids are disjoint by append validation), and
    each source keeps the locality its own write gave it.  ``dst`` is
    cleared first so a crashed earlier fold into the same generation
    can't leave stale extras; until the manifest swap commits it, the
    dir is unreferenced and invisible to readers."""
    import shutil

    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for i, src in enumerate(src_dirs):
        for f in table_files(src).files:
            target = os.path.join(dst, f"f{i:04d}-{os.path.basename(f.path)}")
            try:
                os.link(f.path, target)
            except OSError:
                shutil.copy2(f.path, target)


def _write_shingles(hashed: DataFrame, id_col: str, dst: str) -> None:
    hashed.repartition(
        hashed.sparkSession.sparkContext.defaultParallelism, id_col
    ).sortWithinPartitions(id_col).write.mode("overwrite").parquet(dst)


def _write_banded(banded: DataFrame, dst: str) -> None:
    banded.repartition(
        banded.sparkSession.sparkContext.defaultParallelism,
        "band_idx",
        "band_key",
    ).write.mode("overwrite").parquet(dst)


def _freeze_common(
    hashed: DataFrame, id_col: str, max_df: float, n_docs: int, dst: str
) -> DataFrame:
    """Write the frozen DF table (the inline miners' boilerplate set,
    :func:`..operators.dedup._common_shingles`) to ``dst`` and return it
    re-read."""
    _common_shingles(hashed, id_col, max_df, n_docs).coalesce(1).write.mode(
        "overwrite"
    ).parquet(dst)
    return hashed.sparkSession.read.parquet(dst)


def write_signature_store(
    df: DataFrame,
    path: str,
    k: int = 5,
    num_perms: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: float = 0.1,
    manifest_extra: dict | None = None,
) -> dict:
    """Build the corpus's signature store at ``path`` (parquet + manifest)
    and return the manifest.  One pass of the mining front-half -- the
    same relations the inline miner persists in memory, written durable.
    Rebuilding over an existing store drops its batches (stale appends
    signed against the old corpus's DF table) and its generations."""
    spark = df.sparkSession

    def write(out: dict) -> dict:
        _write_shingles(
            hashed_shingles(df, k, text_col, id_col), id_col, out["shingles"]
        )
        # re-read rather than recompute: the shingle pass is the expensive
        # CPU; everything downstream derives from the written relation,
        # which also guarantees the store is self-consistent even if df is
        # nondeterministic upstream
        hashed = spark.read.parquet(out["shingles"])
        n_docs, tot_hashes = _corpus_stats(hashed)
        common = _freeze_common(hashed, id_col, max_df, n_docs, out["common"])
        _write_banded(
            _sign_and_band(hashed, common, num_perms, bands, id_col),
            out["banded"],
        )
        return {
            "k": k,
            "num_perms": num_perms,
            "bands": bands,
            "max_df": max_df,
            "id_col": id_col,
            "text_col": text_col,
            "n_docs": n_docs,
            "tot_hashes": tot_hashes,
            "n_appended": 0,
        }

    return store.build(_LAYOUT, path, write, manifest_extra)


def incremental_pairs_stored(
    spark: SparkSession,
    store_path: str,
    new_df: DataFrame,
    threshold: float = 0.5,
    broadcast_verify: bool | str = "auto",
    max_band_width: int | str | None = None,
    mine_disk_budget_bytes: int | None = None,
    validate_ids: bool = True,
) -> DataFrame:
    """Exact-Jaccard-verified near-dup pairs with at least one side in
    ``new_df``, mining against the persisted store: the batch side is
    hashed/signed/banded fresh (against the store's frozen DF table),
    the corpus side is READ, never recomputed.

    Per-run work: O(batch) CPU (shingle hashing, signatures) + one scan
    of the skinny stored banded relation (the candidate join's big side)
    + the verify join against stored shingle arrays.  Corpus x corpus
    candidates are never generated -- the candidate join is driven by
    the batch's banded rows, exactly like
    :func:`..operators.dedup.incremental_minhash_pairs`.

    ``max_band_width`` behaves as in the inline miner, including
    ``"auto"`` (priced over stored-plus-batch band widths).  Width is
    evaluated over the UNION, so a batch that lands in an already-wide
    stored bucket is capped consistently with a from-scratch mine."""
    m = read_manifest(store_path)
    id_col = m["id_col"]
    stored_banded = store.relation(spark, store_path, m, "banded")
    stored_sh = store.relation(spark, store_path, m, "shingles")
    common = spark.read.parquet(store.side_path(_LAYOUT, store_path, m))

    if validate_ids:
        _require_disjoint_ids(
            stored_sh,
            new_df,
            id_col,
            f"incremental_pairs_stored: store at {store_path} and new_df",
            why=" (append_batch after mining keeps them so)",
        )

    MINING.evict()
    hashed_new = MINING.hold(
        hashed_shingles(new_df, m["k"], m["text_col"], id_col)
    )
    n_new, tot_new = _corpus_stats(hashed_new)
    # the gate must size the WHOLE shingle relation the verify join
    # builds from: base corpus + every appended batch + this batch
    # (append_batch keeps tot_hashes current for exactly this)
    broadcast_verify = _resolve_broadcast_verify(
        broadcast_verify,
        lambda: (
            m["n_docs"] + m.get("n_appended", 0) + n_new,
            m["tot_hashes"] + tot_new,
        ),
    )
    banded_new = MINING.hold(_sign_and_band(
        hashed_new, common, m["num_perms"], m["bands"], id_col
    ))
    return _new_driven_pairs(
        banded_new,
        stored_banded.unionByName(banded_new),
        stored_sh.unionByName(hashed_new),
        threshold,
        id_col,
        broadcast_verify,
        max_band_width,
        mine_disk_budget_bytes,
    )


def append_batch(
    spark: SparkSession,
    store_path: str,
    new_df: DataFrame,
    batch_id: str | None = None,
) -> dict:
    """Fold a mined batch into the store: its shingle and banded rows
    (signed against the frozen DF table -- identical to what
    :func:`incremental_pairs_stored` just banded) land as ONE batch
    directory, committed by the manifest with ``n_appended`` and
    ``tot_hashes`` (the verify-broadcast size gate's input) booked from
    the committed files.  Idempotent by ``batch_id``
    (:func:`.store.append`).  The DF table stays frozen; refreeze or
    rebuild the store when ``n_appended`` approaches ~10-20% of
    ``n_docs``."""
    from pyspark import StorageLevel

    def write(m: dict, batch_dir: str) -> None:
        id_col = m["id_col"]
        hashed_new = hashed_shingles(
            new_df, m["k"], m["text_col"], id_col
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            hashed_new.write.mode("overwrite").parquet(
                os.path.join(batch_dir, "shingles")
            )
            common = spark.read.parquet(
                store.side_path(_LAYOUT, store_path, m)
            )
            _sign_and_band(
                hashed_new, common, m["num_perms"], m["bands"], id_col
            ).write.mode("overwrite").parquet(
                os.path.join(batch_dir, "banded")
            )
        finally:
            hashed_new.unpersist()

    def book(batch_dir: str) -> dict:
        n, tot = _corpus_stats(
            spark.read.parquet(os.path.join(batch_dir, "shingles"))
        )
        return {"n_appended": n, "tot_hashes": tot}

    return store.append(_LAYOUT, store_path, batch_id, write, book)


def stream_mine_and_append(
    stream_df: DataFrame,
    store_path: str,
    pairs_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    max_band_width: int | str | None = None,
    await_seconds: int = 1800,
    trigger: dict | None = None,
):
    """Structured-Streaming ingestion for the signature store: each
    micro-batch is mined against the current store (new-side-driven, the
    x77 path) and appended, inside one ``foreachBatch`` sink -- the
    daily loop of daily_loop_rung.py driven by a stream source instead
    of a hand-written loop.  The default trigger is ``availableNow`` +
    the file source's ``maxFilesPerTrigger`` shaping the micro-batches;
    pass ``trigger={"processingTime": "..."}`` for a continuous run over
    a growing directory (the 100 TB shape) -- the call then RETURNS the
    live StreamingQuery for the caller to stop (measured in
    SF10_RUNG.json's ``stream_store_triggered_500k`` block).

    The mined pair sets land one parquet subdirectory per epoch
    (``pairs_path/epoch-*/``); a replayed epoch is skipped and a restart
    of a completed run appends ZERO new batches, while a FRESH
    checkpoint over the same store gets non-colliding ids
    (:func:`.store.stream_batches`)."""

    def mine(sess: SparkSession, m: dict, batch_df: DataFrame) -> DataFrame:
        return incremental_pairs_stored(
            sess,
            store_path,
            batch_df,
            threshold=threshold,
            max_band_width=max_band_width,
        )

    return store.stream_batches(
        _LAYOUT,
        stream_df,
        store_path,
        pairs_path,
        checkpoint,
        mine,
        append_batch,
        await_seconds,
        trigger,
        "stream_mine_and_append",
    )


def compact_store(spark: SparkSession, store_path: str) -> dict:
    """Fold every applied batch into the base relations -- the retention
    half of the daily-ingest contract.  :func:`append_batch` accumulates
    one directory per batch and every read unions them all, so after
    months of daily appends a mine pays N-dir scan overhead (file
    listing, footer reads, small-file parquet scans) that compaction
    folds back to one well-partitioned relation per store.  Run it on
    the same cadence you'd vacuum any LSM-shaped store -- e.g. every ~10
    appends (the SF10 rung records read-side wall flat after compaction
    at exactly that point).

    Semantics are purely physical: the folded relations hold exactly the
    union of base + applied batches (pinned by the equality test), the
    frozen DF table (``common/``) is untouched, and ``n_docs`` /
    ``n_appended`` keep their meanings (appends since DF freeze -- the
    rebuild-the-store drift signal must survive compaction, so
    compaction does NOT fold ``n_appended`` into ``n_docs``).  The fold,
    its grace sweep and its commit are :func:`.store.fold`'s; on a store
    with no applied batches this is a sweep-only pass."""

    def write(m: dict, out: dict) -> None:
        _write_shingles(
            store.relation(spark, store_path, m, "shingles"),
            m["id_col"],
            out["shingles"],
        )
        _write_banded(
            store.relation(spark, store_path, m, "banded"), out["banded"]
        )

    return store.fold(_LAYOUT, store_path, write)


def refreeze_common(spark: SparkSession, store_path: str) -> dict:
    """Recompute the frozen DF table from the STORED shingle relation --
    the drift half of the store lifecycle.  The boilerplate set and the
    ``max_df`` denominator freeze at build time over the then-corpus;
    as appends accumulate, a shingle's true corpus-wide frequency can
    drift across the threshold (the manifest's ``n_appended`` vs
    ``n_docs`` is the monitor).  The r11 guidance was a full store
    rebuild -- an O(corpus) re-SHINGLE over raw text.  But the shingle
    rows are already persisted: this recomputes ``common/`` by one
    aggregation over the stored relation and re-signs/re-bands from the
    same stored arrays, skipping the text pass entirely (shingling is
    the dominant CPU; signing is numeric work on the hashed arrays).

    A refreeze is a LOGICAL fold plus a DF recompute: the banded
    relation embeds the boilerplate filter, so a new ``common`` forces
    one re-band, written as the next generation with the next
    ``common-g<N>`` (:func:`.store.fold`).  The shingle fold is done
    at the FILE level (:func:`_link_fold`: every part file of the base
    and batch shingle dirs hard-linked into the new generation dir) --
    zero data pass, because the union of those files IS the folded
    relation (append validation keeps ids disjoint) and each source dir
    keeps the locality its own write gave it; physical re-layout stays
    :func:`compact_store`'s job.  ``n_docs``/``tot_hashes`` come from
    the manifest (append_batch books exact deltas from the committed
    files), so the only data the refreeze reads is the one cached
    shingle pass feeding the DF aggregation and the re-band.  After it,
    the store is byte-equivalent in mining behavior to one freshly
    built over the full current corpus (pinned by
    test_refreeze_equals_fresh_build): ``n_docs`` becomes the full
    count, ``n_appended`` resets to 0, and the drift clock restarts."""
    from pyspark import StorageLevel

    def write(m: dict, out: dict) -> dict:
        id_col = m["id_col"]
        _link_fold(
            out["shingles"], store.relation_dirs(store_path, m, "shingles")
        )
        # exact by construction: build counted its corpus, every append
        # booked the committed batch's delta under the flock
        n_docs = int(m["n_docs"]) + int(m["n_appended"])
        hashed = spark.read.parquet(out["shingles"]).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            common = _freeze_common(
                hashed, id_col, m["max_df"], n_docs, out["common"]
            )
            _write_banded(
                _sign_and_band(
                    hashed, common, m["num_perms"], m["bands"], id_col
                ),
                out["banded"],
            )
        finally:
            hashed.unpersist()
        return {"n_docs": n_docs, "n_appended": 0}

    return store.fold(_LAYOUT, store_path, write, new_side=True)


# -- registry -----------------------------------------------------------------

from .dedup import _duck_mh_sigs, _X73_CUT  # noqa: E402


def _stored_pairs(spark, sf_dir, fold=None, variant: str = "") -> DataFrame:
    """Mine the newest fifth of doc ids against a cached store.  Without
    ``fold`` the store is built on the oldest four fifths (x77); with it,
    on the oldest three fifths, the fourth fifth is appended as
    ``day-001`` and ``fold(spark, path)`` folds it (x78, x80).
    ``variant`` separates entries that share the base cut but drive the
    store to incompatible end states."""
    docs = t(spark, sf_dir, "documents")
    n = footer_row_count(spark, sf_dir, "documents")
    new_cut = (4 * n) // 5
    base_cut = new_cut if fold is None else (3 * n) // 5
    doc_id = F.col("doc_id")

    def build(path: str, manifest_extra: dict) -> None:
        write_signature_store(
            docs.where(doc_id < base_cut), path, manifest_extra=manifest_extra
        )
        if fold is not None:
            append_batch(
                spark,
                path,
                docs.where((doc_id >= base_cut) & (doc_id < new_cut)),
                batch_id="day-001",
            )
            fold(spark, path)

    path = store.cached_store(
        _LAYOUT,
        f"{sf_dir}|{n}|{base_cut}|v{STORE_VERSION}{variant}",
        sf_dir,
        "documents",
        lambda m: fold is None or "day-001" in store.folded_batches(m),
        build,
    )
    # validate_ids=False: store and batch are disjoint id slices of ONE
    # keyed table, so overlap is impossible by construction -- the
    # guard's documented escape hatch (the x73 precedent); skips a
    # per-run stored-shingle scan
    return incremental_pairs_stored(
        spark, path, docs.where(doc_id >= new_cut), threshold=0.5,
        validate_ids=False,
    )


@register(
    "x77_stored_incremental_near_dup",
    _duck_mh_sigs(
        cand_pred=(
            f" AND (a.doc_id >= {_X73_CUT} OR b.doc_id >= {_X73_CUT})"
        ),
        df_pred=f"doc_id < {_X73_CUT}",
    ),
    "PERSISTED-STORE incremental near-dup mining: the corpus's banded "
    "signatures, shingle arrays, and frozen DF table are built once and "
    "written as a parquet signature store; the 'new batch' (newest fifth "
    "of doc ids) is hashed/signed/banded fresh against the frozen DF "
    "table and band-joined against the STORED relation -- corpus "
    "signatures are read, never recomputed (the r9 verdict's daily-"
    "ingest contract; x73 recomputes both sides every run).  Oracle = "
    "the x07 pipeline with DF statistics scoped to the corpus slice "
    "(frozen-DF semantics, df_pred) and the x73 cross-side candidate "
    "predicate",
)
def x77_stored_incremental(spark, sf_dir) -> DataFrame:
    return _stored_pairs(spark, sf_dir)


#: x78's store is built on the OLDEST three fifths of doc ids, one
#: "day-1" batch (the fourth fifth) is appended and compacted, and the
#: newest fifth is the mined batch -- the full store lifecycle (build,
#: append, compact, mine) behind one oracle-checked pair set.  The DF
#: table freezes at build time over the 3/5 base slice; the pair
#: predicate is x73/x77's "at least one side in the newest fifth".
_X78_BASE_CUT = "(3 * (SELECT COUNT(*) FROM documents)) // 5"


@register(
    "x78_compacted_store_near_dup",
    _duck_mh_sigs(
        cand_pred=(
            f" AND (a.doc_id >= {_X73_CUT} OR b.doc_id >= {_X73_CUT})"
        ),
        df_pred=f"doc_id < {_X78_BASE_CUT}",
    ),
    "COMPACTED-STORE incremental near-dup mining -- the full daily-"
    "ingest lifecycle: the signature store is built on the oldest three "
    "fifths of doc ids (DF table frozen there), a day-1 batch (the "
    "fourth fifth) is appended as a batch dir and then COMPACTED into "
    "the base relations (generation swap, manifest-last), and the "
    "newest fifth is mined against the folded store -- pinning that "
    "compaction is purely physical: the pair set equals what the "
    "uncompacted union of base + batch dirs yields.  Oracle = the x07 "
    "pipeline with DF statistics scoped to the 3/5 base slice "
    "(frozen-DF semantics) and the x73 cross-side candidate predicate",
)
def x78_compacted_store(spark, sf_dir) -> DataFrame:
    return _stored_pairs(spark, sf_dir, fold=compact_store)


@register(
    "x80_refrozen_store_near_dup",
    _duck_mh_sigs(
        cand_pred=(
            f" AND (a.doc_id >= {_X73_CUT} OR b.doc_id >= {_X73_CUT})"
        ),
        df_pred=f"doc_id < {_X73_CUT}",
    ),
    "REFROZEN-STORE incremental near-dup mining -- the drift half of "
    "the store lifecycle: the signature store is built on the oldest "
    "three fifths of doc ids (DF table frozen there), the fourth fifth "
    "is appended, and refreeze_common recomputes the DF table and "
    "re-bands FROM THE STORED SHINGLE RELATION (no re-shingle of raw "
    "text), resetting the drift clock; the newest fifth is then mined "
    "against the refrozen store.  The oracle is EXACTLY x77's (DF "
    "statistics frozen over the oldest 4/5, x73 cross-side candidate "
    "predicate): a refrozen 3/5+append store must mine identically to "
    "a store built directly on the 4/5 corpus -- refreeze equals "
    "rebuild, at O(signing) instead of O(shingling) cost",
)
def x80_refrozen_store(spark, sf_dir) -> DataFrame:
    return _stored_pairs(
        spark, sf_dir, fold=refreeze_common, variant="|refreeze"
    )
