"""Manifest-committed batch store: the one crash-safe commit protocol
under the MinHash signature store (:mod:`.minhash_store`) and the IVF
ANN store (:mod:`.ann_store`).

A store is an immutable base -- one generation of parquet relations plus
one side artifact -- with committed batch directories merged on read,
and folds that write the next base generation: the base + deltas +
compaction shape of Krypton's (VLDB 2023) delta stores.  Each store
declares its :class:`Layout` and keeps only what differs: which
relations it writes and how they are partitioned, which counters an
append books, its side artifact, id validation, and mining or search.

Layout under ``path/``::

    manifest.json        the commit record: the store's params and
                         counters, plus the bookkeeping this module owns
                         (version, generation, the side artifact's
                         generation, applied_batches, compacted_batches)
    <rel>/               a base relation; <rel>-g<N> after N folds
    <side>               the side artifact (a dir, or a file such as
                         centroids.json); <side>-g<N> (centroids-g<N>.json)
                         after N folds that rewrote it
    batches/<id>/<rel>/  one directory per committed append

Crash and commit discipline:

* Every mutator (build, the append commit, fold) holds an exclusive
  flock on ``.store.lock``.  Readers take no lock: appends add NEW batch
  dirs and folds write NEW generation dirs, so a reader's manifest
  snapshot keeps pointing at intact files.
* Data is written first; the atomic manifest replace is the commit.  A
  crashed build leaves no manifest, so the store reads as absent.  A
  rebuild over an existing store first removes its manifest (it must not
  vouch for half-overwritten data), its batch dirs and its
  generation-suffixed entries.  A rebuild is the one in-place mutator
  and can race a reader mid-scan; the registry cache
  (:func:`cached_store`) avoids that by content-addressing store paths
  on the table fingerprint, and direct callers rebuilding a shared
  path owe their readers the same discipline.
* An append writes ``batches/.tmp-<uuid>/``, renames it to
  ``batches/<batch_id>/``, books its counters from the committed files,
  then re-reads and merges the manifest under the lock, so two
  concurrent appends (or an append racing a fold) never drop each
  other's batch.  A batch dir not listed in ``applied_batches`` is
  invisible to reads; a crash between rename and commit is healed by
  retrying with the same ``batch_id``, which adopts the dir and books it
  once.  Retry safety therefore needs a stable ``batch_id`` (e.g. the
  ingest date); the default is a fresh UUID.
* A batch id stays committed forever -- in ``applied_batches``, then in
  ``compacted_batches`` once a fold moved it into the base -- so a
  replayed id (a heal-retry, a streaming epoch) is a no-op.
* A fold writes ``<rel>-g<N+1>`` next to the live generation and commits
  by manifest swap.  Superseded generations, folded batch dirs and crash
  leftovers (``batches/.tmp-*`` dirs, ``.<file>.tmp-*`` files) are not
  removed at commit, because a reader holding the old manifest may still
  scan them: each fold first sweeps the ones older than
  :data:`_SWEEP_GRACE_NS`.  A fold with nothing to fold is a sweep-only
  pass.
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..sources.parquet import table_files, table_fingerprint

MANIFEST = "manifest.json"
LOCKFILE = ".store.lock"

#: Superseded generations, folded batch dirs and crash leftovers survive
#: this long before a fold's sweep removes them, and superseded sibling
#: stores of the registry cache this long before a build prunes them.
#: Readers take no lock: a mine or search that loaded an older manifest
#: may scan old files for minutes, and an immediate removal would yank
#: them mid-job (FileNotFoundException).  One hour bounds any plausible
#: in-flight reader.
_SWEEP_GRACE_NS = 3600 * 1_000_000_000

_TMP_FILE = re.compile(r"\..+\.tmp-[0-9a-f]+")


@dataclass(frozen=True)
class Layout:
    """What one store kind puts on disk."""

    label: str  # names the store in errors
    version: int  # the manifest version this code reads and writes
    relations: tuple  # base relations, merged with applied batches on read
    side: str  # the side artifact (a dir, or a file name with extension)
    side_key: str  # manifest key counting the side artifact's rewrites
    cache_root: str  # registry cache root (:func:`cached_store`)


def _gen_name(name: str, gen: int) -> str:
    stem, ext = os.path.splitext(name)
    return name if gen == 0 else f"{stem}-g{gen}{ext}"


def _listdir(path: str) -> list:
    try:
        return os.listdir(path)
    except OSError:
        return []


def _remove(p: str) -> None:
    if os.path.isdir(p):
        shutil.rmtree(p, ignore_errors=True)
    else:
        with contextlib.suppress(OSError):
            os.remove(p)


# -- manifest -----------------------------------------------------------------


def read_manifest(layout: Layout, path: str) -> dict:
    with open(os.path.join(path, MANIFEST)) as f:
        m = json.load(f)
    if m.get("version") != layout.version:
        raise ValueError(
            f"{layout.label} at {path}: version {m.get('version')} "
            f"!= supported {layout.version}"
        )
    return m


def write_json(dst: str, obj, **dump_kw) -> None:
    """Atomic JSON replace (temp file + os.replace): a torn write is
    never readable."""
    tmp = os.path.join(
        os.path.dirname(dst),
        f".{os.path.basename(dst)}.tmp-{uuid.uuid4().hex[:8]}",
    )
    with open(tmp, "w") as f:
        json.dump(obj, f, **dump_kw)
    os.replace(tmp, dst)


def _write_manifest(path: str, m: dict) -> None:
    write_json(os.path.join(path, MANIFEST), m, indent=1)


@contextlib.contextmanager
def _flock(lockfile: str):
    os.makedirs(os.path.dirname(lockfile), exist_ok=True)
    with open(lockfile, "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        yield


def _lock(path: str):
    return _flock(os.path.join(path, LOCKFILE))


# -- reads --------------------------------------------------------------------


def committed_batches(m: dict) -> set:
    """Every batch id the store has ever committed: applied ones plus
    the ones a fold already moved into the base.  Replay guards must
    check this set, not ``applied_batches`` alone: after a fold, a
    replayed id would otherwise re-append its rows as new ones."""
    return set(m.get("applied_batches", [])) | folded_batches(m)


def folded_batches(m: dict) -> set:
    """Batch ids a fold has moved into the base."""
    return set(m.get("compacted_batches", []))


def relation_dirs(path: str, m: dict, name: str) -> list:
    """The current generation's base dir of relation ``name`` plus the
    dir of every APPLIED batch (an unlisted batch dir is an uncommitted
    append and stays invisible)."""
    return [os.path.join(path, _gen_name(name, m.get("generation", 0)))] + [
        os.path.join(path, "batches", b, name)
        for b in m.get("applied_batches", [])
    ]


def relation(spark: SparkSession, path: str, m: dict, name: str) -> DataFrame:
    return spark.read.parquet(*relation_dirs(path, m, name))


def side_path(layout: Layout, path: str, m: dict) -> str:
    """The side artifact of the manifest's current side generation."""
    return os.path.join(
        path, _gen_name(layout.side, m.get(layout.side_key, 0))
    )


# -- mutators -----------------------------------------------------------------


def _generation_entries(layout: Layout, path: str) -> list:
    """Top-level entries named after a relation or the side artifact, of
    any generation."""
    pat = re.compile(
        "|".join(
            re.escape(stem) + r"(?:-g\d+)?" + re.escape(ext)
            for stem, ext in map(
                os.path.splitext, layout.relations + (layout.side,)
            )
        )
    )
    return [e for e in _listdir(path) if pat.fullmatch(e)]


def build(
    layout: Layout,
    path: str,
    write: Callable[[dict], dict],
    manifest_extra: dict | None = None,
) -> dict:
    """(Re)build the store at ``path`` and return its manifest.
    ``write(out)`` writes generation 0 of every relation and of the side
    artifact to the paths ``out`` maps their names to, and returns the
    store's params and counters in manifest order."""
    with _lock(path):
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(path, MANIFEST))
        shutil.rmtree(os.path.join(path, "batches"), ignore_errors=True)
        names = layout.relations + (layout.side,)
        for entry in _generation_entries(layout, path):
            if entry not in names:
                _remove(os.path.join(path, entry))
        fields = write({n: os.path.join(path, n) for n in names})
        m = {
            "version": layout.version,
            **fields,
            "applied_batches": [],
            **(manifest_extra or {}),
        }
        _write_manifest(path, m)
    return m


def append(
    layout: Layout,
    path: str,
    batch_id: str | None,
    write: Callable[[dict, str], None],
    book: Callable[[str], dict],
) -> dict:
    """Commit one batch and return the manifest.  ``write(m, dir)``
    writes the batch's relations under ``dir`` (called only when no
    completed dir for ``batch_id`` exists yet -- a heal-retry adopts the
    one it finds); ``book(dir)`` returns the counter deltas to add, read
    from the committed files so a heal-retry books exactly what the
    store holds.  An already-committed ``batch_id`` is a no-op."""
    m = read_manifest(layout, path)
    if batch_id is None:
        batch_id = uuid.uuid4().hex[:12]
    if batch_id in committed_batches(m):
        return m
    final_dir = os.path.join(path, "batches", batch_id)
    if not os.path.isdir(final_dir):
        tmp = os.path.join(path, "batches", f".tmp-{uuid.uuid4().hex[:12]}")
        write(m, tmp)
        try:
            os.rename(tmp, final_dir)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(final_dir):
                raise
    deltas = book(final_dir)
    with _lock(path):
        m = read_manifest(layout, path)
        if batch_id in committed_batches(m):
            return m  # a racing retry committed first, or a fold took it
        m["applied_batches"] = list(m.get("applied_batches", [])) + [
            batch_id
        ]
        for key, delta in deltas.items():
            m[key] = int(m.get(key, 0)) + int(delta)
        _write_manifest(path, m)
    return m


def fold(
    layout: Layout,
    path: str,
    write: Callable[[dict, dict], dict | None],
    new_side: bool = False,
) -> dict:
    """Sweep, then fold every applied batch into the next base
    generation and return the manifest.  ``write(m, out)`` writes the
    next generation of every relation (and, with ``new_side``, of the
    side artifact) to the paths ``out`` maps their names to, and may
    return counter updates.  A fold that rewrites the side artifact
    re-derives the store from its rows, so it runs even with no applied
    batches; a plain fold with none is a sweep-only pass."""
    with _lock(path):
        m = read_manifest(layout, path)
        _sweep(layout, path, m)
        if not new_side and not m.get("applied_batches"):
            return m
        gen = m.get("generation", 0) + 1
        out = {
            n: os.path.join(path, _gen_name(n, gen)) for n in layout.relations
        }
        if new_side:
            side_gen = m.get(layout.side_key, 0) + 1
            out[layout.side] = os.path.join(
                path, _gen_name(layout.side, side_gen)
            )
        updates = write(m, out)
        m["generation"] = gen
        if new_side:
            m[layout.side_key] = side_gen
        m["compacted_batches"] = m.get("compacted_batches", []) + list(
            m.get("applied_batches", [])
        )
        m["applied_batches"] = []
        m.update(updates or {})
        _write_manifest(path, m)
    return m


def _sweep(layout: Layout, path: str, m: dict) -> None:
    """Remove what no manifest references once it is older than
    :data:`_SWEEP_GRACE_NS`: non-current generations, batch dirs a fold
    already moved into the base, and crash leftovers (temp batch dirs,
    temp manifest and side files).  Batch dirs in neither manifest list
    are left alone: they are an in-flight append between its rename and
    its commit, and a heal-retry adopts them.  Grace is judged on the
    mtime, which an entry stops accumulating once it is superseded or
    abandoned.  Runs under the store lock."""
    now_ns = time.time_ns()
    current = {
        _gen_name(n, m.get("generation", 0)) for n in layout.relations
    } | {os.path.basename(side_path(layout, path, m))}
    batches = os.path.join(path, "batches")
    stale = [
        os.path.join(path, e)
        for e in _generation_entries(layout, path)
        if e not in current
    ]
    stale += [
        os.path.join(path, e) for e in _listdir(path) if _TMP_FILE.fullmatch(e)
    ]
    stale += [
        os.path.join(batches, e)
        for e in _listdir(batches)
        if e.startswith(".tmp-")
    ]
    stale += [
        os.path.join(batches, b) for b in m.get("compacted_batches", [])
    ]
    for p in stale:
        try:
            aged = now_ns - os.stat(p).st_mtime_ns > _SWEEP_GRACE_NS
        except OSError:
            continue
        if aged:
            _remove(p)


# -- streaming ----------------------------------------------------------------


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
    lineage = hashlib.md5(
        os.path.abspath(checkpoint).encode()
    ).hexdigest()[:8]
    return f"epoch-{lineage}-{epoch_id:09d}"


def stream_batches(
    layout: Layout,
    stream_df: DataFrame,
    path: str,
    out_path: str,
    checkpoint: str,
    screen: Callable[[SparkSession, dict, DataFrame], DataFrame],
    append_fn: Callable,
    await_seconds: int,
    trigger: dict | None,
    caller: str,
):
    """The ``foreachBatch`` driver shared by both stores' streaming
    ingestion.  Each non-empty micro-batch gets the id
    :func:`stream_batch_id`; a replayed epoch (foreachBatch is
    at-least-once) whose id the manifest already committed is skipped.
    Otherwise ``screen(session, manifest, batch)`` -- a mine or search
    against the store BEFORE the batch joins it -- is written to
    ``out_path/<batch_id>/`` with mode=overwrite (exactly-once by path:
    a replay that died before the append rewrites the same dir), and
    ``append_fn(session, path, batch, batch_id=...)`` commits the batch
    (exactly-once by manifest).

    The default trigger is ``availableNow``, awaited for up to
    ``await_seconds``; any other trigger returns the live StreamingQuery
    for the caller to stop."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        batch_id = stream_batch_id(checkpoint, epoch_id)
        m = read_manifest(layout, path)
        if batch_id in committed_batches(m):
            return  # replayed epoch: already screened AND appended
        screen(sess, m, batch_df).write.mode("overwrite").parquet(
            os.path.join(out_path, batch_id)
        )
        append_fn(sess, path, batch_df, batch_id=batch_id)

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
        raise RuntimeError(f"{caller} did not terminate in {await_seconds}s")
    return None


# -- registry cache -----------------------------------------------------------
#
# Every registry cache over a testdata table -- the stores below, the
# shared mined pairs, the panel prep, the streaming probes -- keys on
# ``sources.parquet.table_fingerprint``, the same ``os.stat`` walk
# the catalog refreshes its views on.  A table rewritten in place is a
# miss everywhere at once; a hit costs no Spark job.


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
    walk on the driver.  Hive-partitioned tables count too: their
    partition values add columns, not rows."""
    files = table_files(os.path.join(sf_dir, f"{table}.parquet")).files
    if len(files) > _FOOTER_COUNT_MAX_FILES:
        from ..queries import t

        return t(spark, sf_dir, table).count()
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f.path).num_rows for f in files)


def _prune_stale_stores(path: str) -> None:
    """Remove sibling fingerprint dirs of ``path`` untouched for longer
    than :data:`_SWEEP_GRACE_NS` -- retention for the content-addressed
    cache (without it every testdata regeneration would orphan a store
    forever).  Age is judged on the dir mtime; a store being BUILT right
    now is fresh and skipped."""
    parent = os.path.dirname(path)
    now_ns = time.time_ns()
    for name in _listdir(parent):
        sib = os.path.join(parent, name)
        if sib == path or not os.path.isdir(sib):
            continue
        try:
            if now_ns - os.stat(sib).st_mtime_ns > _SWEEP_GRACE_NS:
                shutil.rmtree(sib, ignore_errors=True)
        except OSError:
            continue


def cached_store(
    layout: Layout,
    key: str,
    sf_dir: str,
    table: str,
    ready: Callable[[dict], bool],
    build_fn: Callable[[str, dict], None],
) -> str:
    """Path of a registry entry's store over ``table`` of ``sf_dir``,
    built on first use.  The path is CONTENT-ADDRESSED --
    ``<cache_root>/<md5(key)>/<table fingerprint>`` -- so regenerated
    testdata builds into a NEW directory instead of rebuilding in place
    under a concurrent reader mid-mine.  ``ready(manifest)`` says whether
    a store already reached the entry's lifecycle end state;
    ``build_fn(path, manifest_extra)`` drives a fresh one there.
    Concurrent sessions (a bench beside pytest) serialize on
    ``.build.lock``: the loser re-checks under it and adopts the
    winner's store.  Superseded fingerprints of the same key are pruned
    once past the grace window."""
    fp = table_fingerprint(os.path.join(sf_dir, f"{table}.parquet"))
    path = os.path.join(
        layout.cache_root, hashlib.md5(key.encode()).hexdigest()[:12], fp
    )

    def _ready() -> bool:
        try:
            m = read_manifest(layout, path)
        except (OSError, ValueError):
            return False  # absent or half-built
        return m.get("table_fingerprint") == fp and ready(m)

    if not _ready():
        with _flock(os.path.join(path, ".build.lock")):
            if not _ready():
                build_fn(path, {"table_fingerprint": fp})
        _prune_stale_stores(path)
    return path
