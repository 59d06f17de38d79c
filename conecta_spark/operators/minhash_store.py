"""Persisted MinHash signature store: the daily-ingest contract for
incremental near-dup mining at 100 TB.

:func:`..operators.dedup.incremental_minhash_pairs` (x73) drives candidate
generation from the new batch, so corpus x corpus pairs are never
generated -- but it still RECOMPUTES the corpus's shingle hashes, DF
filter, and MinHash signatures every run, an O(corpus) CPU pass that
dwarfs the batch at a steady 100 TB corpus with a small daily crawl.
This module persists that work once:

* :func:`write_signature_store` -- one full mining front-half over the
  corpus (shared code path with the inline miner: ``hashed_shingles``,
  DF filter, ``minhash_signatures``, ``band_signatures``), written as
  parquet relations plus a params manifest;
* :func:`incremental_pairs_stored` -- signs ONLY the new batch (against
  the store's frozen DF table), band-joins it against the stored banded
  relation, and exact-verifies with shingle arrays read from the store;
* :func:`append_batch` -- folds the batch's banded/shingle rows into the
  store so tomorrow's batch mines against today's corpus;
* :func:`compact_store` -- rewrites base + applied batch dirs into one
  well-partitioned relation per store (generation-suffixed, manifest-
  swapped), so read-side cost stays flat as daily appends accumulate.

Frozen-DF semantics -- the one deliberate divergence from x73: the
document-frequency statistics (boilerplate set and the ``max_df``
denominator) are computed at store-build time over the CORPUS and reused
verbatim for every batch, instead of recomputed over corpus-union-batch.
That is what makes the batch pass O(batch): a union-DF would re-aggregate
the corpus's token relation every day.  The trade is bounded and
monitorable -- a shingle drifts across the threshold only when batch
volume shifts its corpus-wide frequency past ``max_df``, so rebuild the
store when cumulative appends exceed ~10-20% of the corpus (the manifest
tracks ``n_docs`` at build vs appended).  The DuckDB oracle twin
(``_duck_mh_sigs(df_pred=...)``) mirrors frozen-DF exactly, so the
semantics are pinned cross-engine, not hand-waved.

Store layout (all paths under ``path/``)::

    manifest.json   params (k, num_perms, bands, max_df), n_docs at
                    build, n_appended, applied_batches, generation,
                    schema version
    banded/         (id, band_idx, band_key) parquet, repartitioned by
                    (band_idx, band_key) so candidate-join buckets are
                    file-clustered; named banded-g<N> after N compactions
    shingles/       (id, sh array<bigint>) parquet, sorted by id within
                    partitions so the verify join's row-group stats
                    enable runtime skipping on selective candidates;
                    named shingles-g<N> after N compactions
    common/         (h bigint) -- the frozen boilerplate shingle set
    batches/<id>/   per-append shingles/banded dirs, unioned on read
                    until a compaction folds them into the base

Reference parity note: the reference engine has no incremental mining;
this extends its dedup surface with the operation a training-data
pipeline actually runs daily (SURVEY.md section 2.4 extension family).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import (
    VERIFY_BROADCAST_MAX_BYTES,
    _drop_wide_buckets,
    _estimate_shingle_bytes,
    _evict_mine_live,
    _MINE_LIVE,
    _new_driven_pairs,
    auto_band_width,
    band_signatures,
    hashed_shingles,
    minhash_signatures,
)

from ..queries import register, t

MANIFEST = "manifest.json"
STORE_VERSION = 1
LOCKFILE = ".store.lock"


def _manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST)


from contextlib import contextmanager  # noqa: E402


@contextmanager
def _store_lock(path: str):
    """Exclusive flock serializing store MUTATORS (build, append,
    compact) on one store directory.  The manifest commit is a
    read-modify-write of ``applied_batches``: two unserialized appends
    would each read the old list and the last writer would silently drop
    the other's committed batch forever.  Readers don't take the lock --
    appends add NEW batch dirs and compaction writes NEW generation
    dirs, so a reader's manifest snapshot keeps pointing at intact
    files.  The one in-place mutator is a REBUILD
    (:func:`write_signature_store` over an existing store), which can
    still race a reader mid-scan; the registry entries avoid that
    entirely by content-addressing the store path on the corpus
    fingerprint (a changed corpus builds into a fresh directory), and
    direct API users rebuilding a shared path owe their readers the
    same discipline."""
    import fcntl

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, LOCKFILE), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        yield


def _write_manifest(path: str, m: dict) -> None:
    """Atomic manifest replace (tmp + os.replace): the manifest is the
    store's commit record -- a torn write must never be readable."""
    import uuid

    tmp = os.path.join(path, f".{MANIFEST}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(m, f, indent=1)
    os.replace(tmp, _manifest_path(path))


def _rel_dir(path: str, m: dict, name: str) -> str:
    """Base relation directory for the manifest's current generation:
    ``name`` for generation 0 (the layout every pre-compaction store
    has), ``name-g<N>`` after N compactions.  Generation-suffixed names
    let :func:`compact_store` write the folded relation NEXT TO the old
    one and commit by manifest swap -- os.replace can't atomically swap
    non-empty directories, but a manifest that names its generation
    can."""
    gen = m.get("generation", 0)
    return os.path.join(path, name if gen == 0 else f"{name}-g{gen}")


def _common_dir(path: str, m: dict) -> str:
    """The frozen-DF boilerplate relation for the manifest's current
    ``common_generation``: ``common`` at build time, ``common-g<N>``
    after N refreezes (:func:`refreeze_common` follows the same
    write-next-to + manifest-swap discipline as compaction; its own
    counter because compactions bump ``generation`` without touching the
    DF table)."""
    cg = m.get("common_generation", 0)
    return os.path.join(path, "common" if cg == 0 else f"common-g{cg}")


def _committed_batches(m: dict) -> set:
    """Every batch id the store has EVER committed: currently-applied
    dirs plus batches a compaction already folded into the base.  Both
    replay guards (append heal-retry, streaming epoch replay) must check
    this set, not ``applied_batches`` alone -- after a compaction moves
    a batch to ``compacted_batches`` and sweeps its dir, a replayed
    epoch with the same id would otherwise re-append the same docs as
    new rows (duplicate pair emissions, double-counted ``n_appended``),
    silently breaking the exactly-once contract."""
    return set(m.get("applied_batches", [])) | set(
        m.get("compacted_batches", [])
    )


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
        for f in sorted(os.listdir(src)):
            if not f.endswith(".parquet"):
                continue
            target = os.path.join(dst, f"f{i:04d}-{f}")
            try:
                os.link(os.path.join(src, f), target)
            except OSError:
                shutil.copy2(os.path.join(src, f), target)


def _store_relation(spark: SparkSession, path: str, m: dict, name: str):
    """Read a store relation: the current generation's base parquet plus
    every APPLIED batch directory (manifest-listed -- a batch dir that
    exists but is not in ``applied_batches`` is an uncommitted append
    and must be invisible, exactly like data written before a crashed
    manifest update)."""
    paths = [_rel_dir(path, m, name)] + [
        os.path.join(path, "batches", b, name)
        for b in m.get("applied_batches", [])
    ]
    return spark.read.parquet(*paths)


def read_manifest(path: str) -> dict:
    with open(_manifest_path(path)) as f:
        m = json.load(f)
    if m.get("version") != STORE_VERSION:
        raise ValueError(
            f"signature store at {path}: version {m.get('version')} "
            f"!= supported {STORE_VERSION}"
        )
    return m


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

    The manifest is written LAST, so a crashed build leaves no manifest
    and the store reads as absent rather than half-built.  Rebuilding
    over an EXISTING store first removes its manifest (the old manifest
    must not vouch for half-overwritten data) and its batch dirs (stale
    appends signed against the old corpus's DF table)."""
    import shutil

    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism

    # serialized with appends/compactions on the same path: a rebuild
    # racing an in-flight append would otherwise interleave overwrite
    # writes with the append's manifest commit
    with _store_lock(path):
        if os.path.exists(_manifest_path(path)):
            os.remove(_manifest_path(path))
        shutil.rmtree(os.path.join(path, "batches"), ignore_errors=True)
        # a rebuild writes generation-0 dir names; generation-suffixed
        # relations left by a prior compaction would otherwise orphan
        # (never referenced again, never swept -- compaction's sweep
        # only runs on stores WITH batches to fold)
        import re as _re

        for entry in os.listdir(path) if os.path.isdir(path) else []:
            if _re.match(r"^(shingles|banded|common)-g\d+$", entry):
                shutil.rmtree(
                    os.path.join(path, entry), ignore_errors=True
                )

        hashed = hashed_shingles(df, k, text_col, id_col)
        hashed.repartition(parallelism, id_col).sortWithinPartitions(
            id_col
        ).write.mode("overwrite").parquet(os.path.join(path, "shingles"))
        # re-read rather than recompute: the shingle pass is the expensive
        # CPU; everything downstream derives from the written relation,
        # which also guarantees the store is self-consistent even if df is
        # nondeterministic upstream
        hashed = spark.read.parquet(os.path.join(path, "shingles"))
        stats = hashed.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.size("sh")).alias("tot")
        ).first()
        n_docs, tot_hashes = stats["n"], stats["tot"] or 0

        tok = hashed.select(F.col(id_col), F.explode("sh").alias("h"))
        common = (
            tok.groupBy("h")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") > F.lit(max_df) * F.lit(n_docs))
            .select("h")
        )
        common.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "common")
        )
        common = spark.read.parquet(os.path.join(path, "common"))

        banded = _sign_and_band(
            hashed, common, num_perms, bands, id_col
        )
        banded.repartition(parallelism, "band_idx", "band_key").write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "banded"))

        manifest = {
            "version": STORE_VERSION,
            "k": k,
            "num_perms": num_perms,
            "bands": bands,
            "max_df": max_df,
            "id_col": id_col,
            "text_col": text_col,
            "n_docs": int(n_docs),
            "tot_hashes": int(tot_hashes),
            "n_appended": 0,
            "applied_batches": [],
            **(manifest_extra or {}),
        }
        _write_manifest(path, manifest)
    return manifest


def _sign_and_band(
    hashed: DataFrame,
    common: DataFrame,
    num_perms: int,
    bands: int,
    id_col: str,
) -> DataFrame:
    """Signature + banding back-half shared by store build and batch-side
    signing: subtract the boilerplate set (broadcast 1-row array, the
    same zero-extra-shuffle form as the inline miner), drop
    boilerplate-only docs, MinHash, band."""
    common_arr = common.agg(F.collect_list("h").alias("common_hs"))
    filtered = (
        hashed.crossJoin(F.broadcast(common_arr))
        .select(
            F.col(id_col), F.array_except("sh", "common_hs").alias("shf")
        )
        .where(F.size("shf") > 0)
    )
    return band_signatures(
        minhash_signatures(filtered, num_perms, id_col),
        num_perms,
        bands,
        id_col,
    )


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
    from pyspark import StorageLevel

    m = read_manifest(store_path)
    id_col = m["id_col"]
    stored_banded = _store_relation(spark, store_path, m, "banded")
    stored_sh = _store_relation(spark, store_path, m, "shingles")
    common = spark.read.parquet(_common_dir(store_path, m))

    if validate_ids:
        overlap = stored_sh.select(id_col).join(
            F.broadcast(new_df.select(id_col).distinct()),
            id_col,
            "left_semi",
        )
        if not overlap.isEmpty():
            sample = [r[0] for r in overlap.limit(5).collect()]
            raise ValueError(
                f"incremental_pairs_stored: store at {store_path} and "
                f"new_df share doc ids (e.g. {sample}); ids must be "
                "disjoint (append_batch after mining keeps them so)"
            )

    _evict_mine_live()
    hashed_new = hashed_shingles(
        new_df, m["k"], m["text_col"], id_col
    ).persist(StorageLevel.MEMORY_AND_DISK)
    _MINE_LIVE.append(hashed_new)
    new_stats = hashed_new.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.size("sh")).alias("tot")
    ).first()
    if broadcast_verify == "auto":
        # the gate must size the WHOLE shingle relation the verify join
        # builds from: base corpus + every appended batch + this batch
        # (append_batch keeps tot_hashes current for exactly this)
        broadcast_verify = (
            _estimate_shingle_bytes(
                m["n_docs"] + m.get("n_appended", 0) + new_stats["n"],
                m["tot_hashes"] + (new_stats["tot"] or 0),
            )
            <= VERIFY_BROADCAST_MAX_BYTES
        )

    banded_new = _sign_and_band(
        hashed_new, common, m["num_perms"], m["bands"], id_col
    ).persist(StorageLevel.MEMORY_AND_DISK)
    _MINE_LIVE.append(banded_new)
    banded_all = stored_banded.unionByName(banded_new)
    if max_band_width == "auto":
        # price the batch-driven candidate shape (wn*(w-wn) + wn-choose-2
        # per bucket), not the self-join's w-choose-2 -- a huge store
        # with a small batch would otherwise spuriously raise or over-cap
        max_band_width = auto_band_width(
            banded_all, mine_disk_budget_bytes, new_banded=banded_new
        )
    if max_band_width is not None:
        banded_all, banded_new = _drop_wide_buckets(
            banded_all, max_band_width, banded_new
        )

    sh_all = stored_sh.unionByName(hashed_new)
    return _new_driven_pairs(
        banded_new, banded_all, sh_all, threshold, id_col, broadcast_verify
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
    directory, committed by the manifest.  The DF table stays frozen;
    rebuild the store when ``n_appended`` approaches ~10-20% of
    ``n_docs``.

    Crash-safe and idempotent (the write_signature_store manifest-last
    discipline, extended to appends): the batch is built in a temp dir,
    atomically renamed to ``batches/<batch_id>/``, and only then listed
    in the manifest's ``applied_batches`` (readers ignore unlisted batch
    dirs).  A crash mid-build leaves an invisible temp dir; a crash
    between rename and manifest is healed by retrying with the SAME
    ``batch_id`` -- the completed dir is adopted and just committed; a
    retry of an already-applied id is a no-op.  Callers wanting retry
    safety must therefore pass a stable ``batch_id`` (e.g. the ingest
    date); the default is a fresh UUID (no retry identity).  The
    manifest commit itself re-reads and merges ``applied_batches`` under
    the store's exclusive flock, so two concurrent appends never drop
    each other's committed batch in a last-writer-wins overwrite."""
    import shutil
    import uuid

    from pyspark import StorageLevel

    m = read_manifest(store_path)
    if batch_id is None:
        batch_id = uuid.uuid4().hex[:12]
    if batch_id in _committed_batches(m):
        return m  # already committed (applied OR since folded by a
        # compaction): idempotent no-op -- re-appending a compacted
        # batch would duplicate its docs in the store
    id_col = m["id_col"]
    batches_root = os.path.join(store_path, "batches")
    final_dir = os.path.join(batches_root, batch_id)
    if not os.path.isdir(final_dir):
        tmp = os.path.join(batches_root, f".tmp-{uuid.uuid4().hex[:12]}")
        hashed_new = hashed_shingles(
            new_df, m["k"], m["text_col"], id_col
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            hashed_new.write.mode("overwrite").parquet(
                os.path.join(tmp, "shingles")
            )
            common = spark.read.parquet(_common_dir(store_path, m))
            _sign_and_band(
                hashed_new, common, m["num_perms"], m["bands"], id_col
            ).write.mode("overwrite").parquet(os.path.join(tmp, "banded"))
        finally:
            hashed_new.unpersist()
        try:
            os.rename(tmp, final_dir)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(final_dir):
                raise
    # stats from the COMMITTED files, so a heal-retry (dir present,
    # manifest behind) books exactly what the store actually holds
    stats = (
        spark.read.parquet(os.path.join(final_dir, "shingles"))
        .agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.size("sh")).alias("tot")
        )
        .first()
    )
    # the manifest commit is a read-modify-write of applied_batches:
    # re-read and merge UNDER the store lock, so a concurrent append (or
    # a compaction that just folded earlier batches) committed between
    # our opening read and now is never silently dropped by a stale
    # last-writer-wins overwrite
    with _store_lock(store_path):
        m = read_manifest(store_path)
        if batch_id in _committed_batches(m):
            return m  # a racing retry committed first (or a compaction
            # folded this id between our opening read and now): no-op
        m["applied_batches"] = list(m.get("applied_batches", [])) + [
            batch_id
        ]
        m["n_appended"] = int(m["n_appended"]) + int(stats["n"])
        # keep the verify-broadcast size gate honest as the store grows
        m["tot_hashes"] = int(m["tot_hashes"]) + int(stats["tot"] or 0)
        _write_manifest(store_path, m)
    return m


def stream_batch_id(checkpoint: str, epoch_id: int) -> str:
    """Store batch id for a streaming micro-batch: the epoch id scoped
    by a stable hash of the checkpoint path.  Epoch ids are unique only
    per checkpoint LINEAGE -- a new stream (fresh checkpoint) over the
    same store restarts at epoch 0, and an unscoped ``epoch-0`` would
    collide with a previously applied id and be silently skipped as a
    replay, dropping genuinely new data.  Hashing the checkpoint path
    (not the query runId, which changes on every restart) keeps the id
    STABLE across restarts of the same checkpoint, so crash-replay
    idempotency still holds."""
    import hashlib

    lineage = hashlib.md5(
        os.path.abspath(checkpoint).encode()
    ).hexdigest()[:8]
    return f"epoch-{lineage}-{epoch_id:09d}"


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
    a growing directory (the 100 TB shape) -- the sink body is
    trigger-agnostic and the call then RETURNS the live StreamingQuery
    for the caller to stop (measured in SF10_RUNG.json's
    ``stream_store_triggered_500k`` block).

    Idempotency rides on the streaming epoch scoped to the checkpoint
    lineage (:func:`stream_batch_id`): a micro-batch replayed after a
    crash/restart (foreachBatch's at-least-once contract) is recognized
    among the manifest's committed batches -- applied OR already folded
    by a compaction -- and skipped entirely, and a restart of a
    completed run appends ZERO new batches (the checkpoint replays
    nothing; even if it did, the manifest guard holds), while a FRESH
    checkpoint over the same store gets non-colliding ids.  The mined
    pair sets land one parquet subdirectory per epoch
    (``pairs_path/epoch-*/``, mode=overwrite), so a replay that died
    between the pairs write and the append commit rewrites the same
    directory instead of double-appending rows -- the pairs sink is
    exactly-once BY PATH, the store append exactly-once by manifest.
    """

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        batch_id = stream_batch_id(checkpoint, epoch_id)
        if batch_id in _committed_batches(read_manifest(store_path)):
            return  # replayed epoch: already mined AND appended
        pairs = incremental_pairs_stored(
            sess,
            store_path,
            batch_df,
            threshold=threshold,
            max_band_width=max_band_width,
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_path, batch_id)
        )
        append_batch(sess, store_path, batch_df, batch_id=batch_id)

    q = (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger if trigger is not None else {"availableNow": True}))
        .start()
    )
    if trigger is not None and "availableNow" not in trigger:
        return q  # continuous run: the caller owns the stop
    if not q.awaitTermination(await_seconds):
        q.stop()
        raise RuntimeError(
            f"stream_mine_and_append did not terminate in {await_seconds}s"
        )
    return None


#: Superseded generation dirs and folded batch dirs survive this long
#: after a compaction/refreeze before the NEXT sweep removes them.
#: Mutators serialize on the store flock but readers deliberately take
#: no lock (:func:`_store_lock`): a mine that loaded a pre-compaction
#: manifest may scan old-generation parquet for minutes, and an
#: immediate rmtree would yank files mid-job (FileNotFoundException).
#: One hour bounds any plausible in-flight mine -- the same bound as
#: :data:`_STALE_STORE_GRACE_NS` for superseded sibling stores.
_SWEEP_GRACE_NS = 3600 * 1_000_000_000


def _sweep_unreferenced(store_path: str, m: dict) -> None:
    """Remove store dirs no manifest references anymore, once they are
    older than :data:`_SWEEP_GRACE_NS`: generation-suffixed relation
    dirs of non-current generations, and batch dirs whose ids a
    compaction already folded (listed in ``compacted_batches`` -- batch
    dirs in NEITHER list are left alone: they are crash garbage or an
    in-flight append between its rename and its manifest commit, and
    deleting those would break append's heal-retry).  Grace is judged on
    the dir mtime, which a superseded dir stops accumulating the moment
    it is superseded.  Runs under the store flock (callers hold it)."""
    import re
    import shutil
    import time

    now_ns = time.time_ns()

    def _old(d: str) -> bool:
        try:
            return now_ns - os.stat(d).st_mtime_ns > _SWEEP_GRACE_NS
        except OSError:
            return False

    current = {
        os.path.basename(_rel_dir(store_path, m, "shingles")),
        os.path.basename(_rel_dir(store_path, m, "banded")),
        os.path.basename(_common_dir(store_path, m)),
    }
    gen_re = re.compile(r"^(shingles|banded|common)(-g\d+)?$")
    try:
        entries = os.listdir(store_path)
    except OSError:
        return
    for entry in entries:
        d = os.path.join(store_path, entry)
        if gen_re.match(entry) and entry not in current and _old(d):
            shutil.rmtree(d, ignore_errors=True)
    for b in m.get("compacted_batches", []):
        d = os.path.join(store_path, "batches", b)
        if os.path.isdir(d) and _old(d):
            shutil.rmtree(d, ignore_errors=True)


def compact_store(spark: SparkSession, store_path: str) -> dict:
    """Fold every applied batch into the base relations -- the retention
    half of the daily-ingest contract.  :func:`append_batch` accumulates
    one directory per batch and :func:`_store_relation` unions them all
    on every read, so after months of daily appends a mine pays N-dir
    scan overhead (file listing, footer reads, small-file parquet scans)
    that compaction folds back to one well-partitioned relation per
    store.  Run it on the same cadence you'd vacuum any LSM-shaped
    store -- e.g. every ~10 appends (the SF10 rung records read-side
    wall flat after compaction at exactly that point).

    Semantics are purely physical: the folded relations hold exactly the
    union of base + applied batches (pinned by the equality test), the
    frozen DF table (``common/``) is untouched, and ``n_docs`` /
    ``n_appended`` keep their meanings (appends since DF freeze -- the
    rebuild-the-store drift signal must survive compaction, so
    compaction does NOT fold ``n_appended`` into ``n_docs``).

    Same crash discipline as build/append, extended with generations:
    the folded relations are written to ``<name>-g<gen+1>`` NEXT TO the
    live ones, and the manifest -- rewritten last, atomically -- is what
    flips readers to the new generation and empties
    ``applied_batches``.  A crash before the manifest write leaves
    orphan next-gen dirs (swept by a later compaction once aged); a
    crash after it leaves superseded old-gen/batch dirs (ditto); neither
    is ever readable as data.  Superseded dirs are NOT removed at commit
    time: readers take no lock, so a mine that loaded the pre-compaction
    manifest may still be scanning them -- the sweep
    (:func:`_sweep_unreferenced`) runs at the start of every compaction
    and removes only dirs no manifest references that are older than
    :data:`_SWEEP_GRACE_NS`.  Calling ``compact_store`` on a store with
    no applied batches is therefore useful as a sweep-only pass.  The
    whole fold runs under the store's exclusive flock, serialized with
    builds and with append commits -- an append racing a compaction
    either commits first (its batch is folded) or re-reads the
    post-compaction manifest under the lock and lands in the fresh
    ``applied_batches``."""
    parallelism = spark.sparkContext.defaultParallelism
    with _store_lock(store_path):
        m = read_manifest(store_path)
        _sweep_unreferenced(store_path, m)
        if not m.get("applied_batches"):
            return m  # nothing to fold: sweep-only pass
        gen = m.get("generation", 0)
        new_gen = gen + 1
        id_col = m["id_col"]

        sh = _store_relation(spark, store_path, m, "shingles")
        sh.repartition(parallelism, id_col).sortWithinPartitions(
            id_col
        ).write.mode("overwrite").parquet(
            os.path.join(store_path, f"shingles-g{new_gen}")
        )
        banded = _store_relation(spark, store_path, m, "banded")
        banded.repartition(
            parallelism, "band_idx", "band_key"
        ).write.mode("overwrite").parquet(
            os.path.join(store_path, f"banded-g{new_gen}")
        )

        folded = list(m["applied_batches"])
        m["generation"] = new_gen
        m["applied_batches"] = []
        m["compacted_batches"] = m.get("compacted_batches", []) + folded
        _write_manifest(store_path, m)
    return m


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
    one re-band -- written as the next generation, committed by the same
    manifest-last swap under the store flock.  The shingle fold is done
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
    count, ``n_appended`` resets to 0, and the drift clock restarts.
    Superseded dirs age out via the compaction sweep's grace window."""
    from pyspark import StorageLevel

    parallelism = spark.sparkContext.defaultParallelism
    with _store_lock(store_path):
        m = read_manifest(store_path)
        _sweep_unreferenced(store_path, m)
        new_gen = m.get("generation", 0) + 1
        new_cg = m.get("common_generation", 0) + 1
        id_col = m["id_col"]

        sh_dst = os.path.join(store_path, f"shingles-g{new_gen}")
        _link_fold(
            sh_dst,
            [_rel_dir(store_path, m, "shingles")]
            + [
                os.path.join(store_path, "batches", b, "shingles")
                for b in m.get("applied_batches", [])
            ],
        )
        # exact by construction: build counted its corpus, every append
        # booked the committed batch's delta under the flock
        n_docs = int(m["n_docs"]) + int(m["n_appended"])
        tot_hashes = int(m["tot_hashes"])

        hashed = spark.read.parquet(sh_dst).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            tok = hashed.select(F.col(id_col), F.explode("sh").alias("h"))
            common = (
                tok.groupBy("h")
                .agg(F.count(F.lit(1)).alias("c"))
                .where(F.col("c") > F.lit(m["max_df"]) * F.lit(n_docs))
                .select("h")
            )
            common.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(store_path, f"common-g{new_cg}")
            )
            common = spark.read.parquet(
                os.path.join(store_path, f"common-g{new_cg}")
            )

            banded = _sign_and_band(
                hashed, common, m["num_perms"], m["bands"], id_col
            )
            banded.repartition(
                parallelism, "band_idx", "band_key"
            ).write.mode("overwrite").parquet(
                os.path.join(store_path, f"banded-g{new_gen}")
            )
        finally:
            hashed.unpersist()

        folded = list(m.get("applied_batches", []))
        m["generation"] = new_gen
        m["common_generation"] = new_cg
        m["applied_batches"] = []
        m["compacted_batches"] = (
            m.get("compacted_batches", []) + folded
        )
        m["n_docs"] = int(n_docs)
        m["tot_hashes"] = int(tot_hashes)
        m["n_appended"] = 0
        _write_manifest(store_path, m)
    return m


# -- registry -----------------------------------------------------------------

from .dedup import _duck_mh_sigs, _X73_CUT  # noqa: E402


def _part_files(sf_dir: str, table: str) -> list[str]:
    """Sorted parquet part files of ``table`` (recursive -- partitioned
    layouts keep part files in subdirectories).  Raises on an empty set."""
    import glob

    src = os.path.join(sf_dir, f"{table}.parquet")
    parts = (
        sorted(
            glob.glob(os.path.join(src, "**", "*.parquet"), recursive=True)
        )
        if os.path.isdir(src)
        else [src]
    )
    if not parts:
        raise ValueError(f"no parquet files under {src}")
    return parts


def _corpus_fingerprint(sf_dir: str, table: str = "documents") -> str:
    """Content fingerprint of ``table``'s parquet source: every file
    with its size and mtime.  Raises on an empty file set rather than
    degenerating to a fingerprint that can't detect regeneration.
    (The ANN store fingerprints ``embeddings`` through the same code.)"""
    import hashlib

    stats = []
    for p in _part_files(sf_dir, table):
        st = os.stat(p)
        stats.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(stats).encode()).hexdigest()[:16]


#: Above this many part files, a serial driver-side footer walk stops
#: being "metadata-cheap"; hand the count to a distributed Spark job.
_FOOTER_COUNT_MAX_FILES = 256


def footer_row_count(spark: SparkSession, sf_dir: str, table: str) -> int:
    """COUNT(*) of an unfiltered base table from parquet footer metadata
    alone (reference O9: count answered from metadata, not a data pass).
    ``num_rows`` is part of the parquet footer contract, so this equals
    ``t(spark, sf_dir, table).count()`` exactly -- but costs a few
    driver-side footer reads instead of a full Spark job (~0.15 s fixed
    overhead per bench entry).  O(#files) on the driver: past
    ``_FOOTER_COUNT_MAX_FILES`` part files (the 100 TB layout) it falls
    back to the distributed count rather than serializing a huge file
    walk on the driver."""
    parts = _part_files(sf_dir, table)
    if len(parts) > _FOOTER_COUNT_MAX_FILES:
        from ..queries import t

        return t(spark, sf_dir, table).count()
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in parts)


#: Stale sibling stores (older corpus fingerprints of the same config)
#: are pruned only past this age: an in-flight mine against the old
#: corpus must not have its parquet yanked mid-scan by a rebuild.
_STALE_STORE_GRACE_NS = 3600 * 1_000_000_000


def _store_path(
    spark: SparkSession,
    sf_dir: str,
    n_docs: int,
    cut: int,
    fp: str,
    variant: str = "",
) -> str:
    """Cache path for the registry's corpus store: CONTENT-ADDRESSED --
    the corpus fingerprint is part of the directory name, so regenerated
    testdata builds into a NEW directory instead of rebuilding in place
    under a concurrent reader mid-mine (a reader's store is immutable
    for its lifetime).  Superseded fingerprints of the same config are
    pruned after :data:`_STALE_STORE_GRACE_NS` by :func:`_prune_stale_stores`.
    ``variant`` separates entries that share (sf_dir, n, cut) but drive
    the store through different lifecycles (x78 compacts where x80
    refreezes -- same base cut, incompatible end states)."""
    import hashlib

    key = hashlib.md5(
        f"{sf_dir}|{n_docs}|{cut}|v{STORE_VERSION}{variant}".encode()
    ).hexdigest()[:12]
    return os.path.join("/tmp/conecta_spark_sigstore", key, fp)


def _prune_stale_stores(path: str) -> None:
    """Remove sibling fingerprint dirs of ``path`` untouched for longer
    than the grace period -- retention for the content-addressed cache
    (without it every testdata regeneration would orphan a store
    forever).  Age is judged on the dir mtime; a store being BUILT right
    now is fresh and skipped, and one hour bounds any plausible
    in-flight mine against a superseded corpus."""
    import shutil
    import time

    parent = os.path.dirname(path)
    now_ns = time.time_ns()
    try:
        siblings = os.listdir(parent)
    except OSError:
        return
    for name in siblings:
        sib = os.path.join(parent, name)
        if sib == path or not os.path.isdir(sib):
            continue
        try:
            if now_ns - os.stat(sib).st_mtime_ns > _STALE_STORE_GRACE_NS:
                shutil.rmtree(sib, ignore_errors=True)
        except OSError:
            continue


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
    docs = t(spark, sf_dir, "documents")
    n = footer_row_count(spark, sf_dir, "documents")
    cut = (4 * n) // 5
    id_col = "doc_id"
    corpus = docs.where(F.col(id_col) < cut)
    new = docs.where(F.col(id_col) >= cut)
    fp = _corpus_fingerprint(sf_dir)
    path = _store_path(spark, sf_dir, n, cut, fp)

    def _current() -> bool:
        try:
            return read_manifest(path).get("corpus_fingerprint") == fp
        except (OSError, ValueError):
            return False

    if not _current():  # absent or half-built: build (the path is
        # content-addressed, so "stale" cannot happen -- a regenerated
        # corpus lands in a fresh directory and never overwrites a store
        # a concurrent reader is mid-mining)
        # flock serializes concurrent sessions on the shared cache path
        # (bench alongside pytest): the loser of the race re-checks
        # under the lock and adopts the winner's store instead of
        # racing mode("overwrite") writes into the same directory
        import fcntl

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, ".build.lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if not _current():
                write_signature_store(
                    corpus, path, manifest_extra={"corpus_fingerprint": fp}
                )
        _prune_stale_stores(path)
    # validate_ids=False: store base and batch are two disjoint id
    # slices of ONE keyed table (doc_id < cut vs >= cut), so overlap
    # is impossible by construction -- the guard's documented escape
    # hatch (the x73 precedent); skips a per-run stored-shingle scan
    return incremental_pairs_stored(
        spark, path, new, threshold=0.5, validate_ids=False
    )


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
    docs = t(spark, sf_dir, "documents")
    n = footer_row_count(spark, sf_dir, "documents")
    base_cut = (3 * n) // 5
    new_cut = (4 * n) // 5
    id_col = "doc_id"
    base = docs.where(F.col(id_col) < base_cut)
    day1 = docs.where(
        (F.col(id_col) >= base_cut) & (F.col(id_col) < new_cut)
    )
    day2 = docs.where(F.col(id_col) >= new_cut)
    fp = _corpus_fingerprint(sf_dir)
    path = _store_path(spark, sf_dir, n, base_cut, fp)

    def _ready() -> bool:
        try:
            mm = read_manifest(path)
            return (
                mm.get("corpus_fingerprint") == fp
                and mm.get("generation", 0) >= 1
                and not mm.get("applied_batches")
            )
        except (OSError, ValueError):
            return False

    if not _ready():
        import fcntl

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, ".build.lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if not _ready():
                write_signature_store(
                    base, path, manifest_extra={"corpus_fingerprint": fp}
                )
                append_batch(spark, path, day1, batch_id="day-001")
                compact_store(spark, path)
        _prune_stale_stores(path)
    # validate_ids=False: same disjoint-slice construction as x77
    return incremental_pairs_stored(
        spark, path, day2, threshold=0.5, validate_ids=False
    )


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
    docs = t(spark, sf_dir, "documents")
    n = footer_row_count(spark, sf_dir, "documents")
    base_cut = (3 * n) // 5
    new_cut = (4 * n) // 5
    id_col = "doc_id"
    base = docs.where(F.col(id_col) < base_cut)
    day1 = docs.where(
        (F.col(id_col) >= base_cut) & (F.col(id_col) < new_cut)
    )
    day2 = docs.where(F.col(id_col) >= new_cut)
    fp = _corpus_fingerprint(sf_dir)
    path = _store_path(spark, sf_dir, n, base_cut, fp, variant="|refreeze")

    def _ready() -> bool:
        try:
            mm = read_manifest(path)
            return (
                mm.get("corpus_fingerprint") == fp
                and mm.get("common_generation", 0) >= 1
                and mm.get("n_appended") == 0
            )
        except (OSError, ValueError):
            return False

    if not _ready():
        import fcntl

        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, ".build.lock"), "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            if not _ready():
                write_signature_store(
                    base, path, manifest_extra={"corpus_fingerprint": fp}
                )
                append_batch(spark, path, day1, batch_id="day-001")
                refreeze_common(spark, path)
        _prune_stale_stores(path)
    # validate_ids=False: same disjoint-slice construction as x77
    return incremental_pairs_stored(
        spark, path, day2, threshold=0.5, validate_ids=False
    )
