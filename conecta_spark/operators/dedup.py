"""Deduplication operators (extension surface, SURVEY 2.4): exact,
n-gram-Jaccard, MinHash+LSH banding, SimHash -- each as a reusable
DataFrame transform plus a registered oracle-checked query over
``documents``.

Determinism & parity: the hash family is the engine's polyhash
(``(acc*31+cp) % 1e9+7``, functions/text.py) with multiplicative-mixed
permutations ``h -> (a_p*h + p*p+7) % M`` (``a_p`` Knuth-constant derived)
-- pure integer arithmetic, so Spark and DuckDB produce bit-identical
signatures and the LSH pipeline itself is oracle-checkable end-to-end
(rare for LSH implementations), document-frequency filter included.

Scale notes (100 TB):

* exact/minhash/simhash signatures are per-row JVM codegen maps -- no
  Python, no shuffle until the band join.
* the LSH candidate join shuffles on (band_idx, band_key): small keys,
  uniformly distributed by md5, so no skew; candidate pairs then re-join to
  the docs relation for exact verification rather than carrying shingle
  arrays through the shuffle.
* brute-force n-gram Jaccard is quadratic and kept only as the
  verify/baseline path, length-blocked to bound the pair count; at scale
  MinHash-LSH (here) or :func:`minhash_lsh_ml` (ml.feature, band-join under
  the hood via approxSimilarityJoin) is the real path.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import MOD, duck_polyhash, polyhash
from ..queries import register, t
from ..session import PersistSlot
from ..sources.parquet import table_fingerprint

# -- expression builders (Spark SQL + DuckDB twins) -------------------------


def duck_shingles(col: str = "text", k: int = 5) -> str:
    return (
        f"list_distinct(list_transform(range(1, greatest(length(lower({col}))-{k - 1}, 1) + 1), "
        f"i -> substr(lower({col}), i, {k})))"
    )


def hashed_shingles(
    df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, sh: array<bigint>)`` -- distinct polyhashes of the k-char
    shingles, computed in numpy over Arrow batches.

    Value-identical to the DuckDB oracle's ``_DUCK_SH_HASHES`` (the
    ``duck_shingles`` set hashed with ``duck_polyhash``: same integer
    recurrence, same short-text fold), chosen over a Spark SQL twin for
    two physical reasons:

    * a SQL form is a deeply nested higher-order lambda -- it never enters
      whole-stage codegen, and its one-time Janino compile alone costs
      ~10s+, which a fresh session pays on every first run;
    * vectorized numpy does the k-fold over the whole batch's codepoints at
      memory speed (codepoints via UTF-32 decode, one ``%`` per fold step).

    Intermediate values stay < 2^63 (``MOD * 31 + 0x10FFFF``), so int64
    arithmetic reproduces the JVM/DuckDB result bit-for-bit -- the LSH
    oracle parity that makes the dedup pipeline checkable survives the
    Python detour.

    Parity caveat (same as ``fingerprints_pandas``): the lowercase step is
    Python ``str.lower()`` here vs SQL ``lower()`` in the oracle path.
    For ASCII text they agree codepoint-for-codepoint; for non-ASCII input
    (e.g. 'İ' -> 'i̇', locale/Unicode-version casing differences across
    Python, the JVM, and DuckDB) shingle sets -- and thus LSH signatures --
    can diverge between paths, so the bit-for-bit claim is scoped to ASCII.
    """
    import numpy as np
    import pandas as pd

    from ..plans.skew import spread

    schema = f"{id_col} long, sh array<long>"

    # Chunked fold: rows are grouped into ~64k-codepoint chunks and the
    # k-step polyhash runs once per CHUNK over the concatenated
    # codepoints (windows straddling row boundaries masked out by
    # per-doc offset slicing).  Two physical wins over the previous
    # row-at-a-time numpy (measured 2-3x on 20k docs):
    #   * ~25 small-array numpy calls per document collapse to ~10 per
    #     chunk -- call overhead dominated at corpus batch sizes;
    #   * the chunk (~0.5 MB of int64) stays L2-resident, where a
    #     whole-Arrow-batch fold thrashed DRAM (measured SLOWER than
    #     per-row: 72 MB temporaries per fold step).
    # The modulo is deferred to ONE ``%`` after the k multiply-adds:
    # codes < 0x110000 so the k=5 window polynomial is < 2^41 (general
    # bound: MOD * 31^(k-1) overflow-checked below), and x % M ==
    # polynomial-mod-M however the reduction is staged, so results stay
    # bit-identical to the expr/oracle recurrence.
    defer_mod = MOD * 31 ** (k - 1) < (1 << 62)
    _CHUNK_CP = 65536

    def _fold_chunk(lowered, idxs, out):
        codes = np.frombuffer(
            "".join(lowered).encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64)
        lens = np.fromiter(map(len, lowered), dtype=np.int64, count=len(lowered))
        offs = np.zeros(len(lowered), dtype=np.int64)
        np.cumsum(lens[:-1], out=offs[1:])
        total = codes.size
        m = total - k + 1
        if m > 0:
            if defer_mod:
                acc = codes[0:m].copy()
                for j in range(1, k):
                    acc *= 31
                    acc += codes[j : m + j]
                acc %= MOD
            else:
                acc = np.zeros(m, dtype=np.int64)
                for j in range(k):
                    acc = (acc * 31 + codes[j : m + j]) % MOD
        else:
            acc = np.zeros(0, dtype=np.int64)
        for i, o, n in zip(idxs, offs, lens):
            if n >= k:
                out[i] = np.unique(acc[o : o + n - k + 1])
            else:  # short text: one fold over everything (expr's slice)
                a2 = np.array([0], dtype=np.int64)
                for c in codes[o : o + n]:
                    a2 = (a2 * 31 + c) % MOD
                out[i] = np.unique(a2)

    def batches(it):
        for pdf in it:
            out = [None] * len(pdf)
            lowered, idxs, tot = [], [], 0
            for i, s in enumerate(pdf[text_col]):
                if s is None:  # expr semantics: null text -> null shingles
                    continue
                t = s.lower()
                lowered.append(t)
                idxs.append(i)
                tot += len(t)
                if tot >= _CHUNK_CP:
                    _fold_chunk(lowered, idxs, out)
                    lowered, idxs, tot = [], [], 0
            if lowered:
                _fold_chunk(lowered, idxs, out)
            yield pd.DataFrame({id_col: pdf[id_col], "sh": out})

    return spread(df.select(id_col, text_col)).mapInPandas(batches, schema)


#: Per-permutation multiplier: Knuth's multiplicative constant mixed with the
#: permutation index, reduced mod M.  A weak multiplier like ``2p+1`` barely
#: wraps the modulus, leaving the "permutation" order-preserving in segments
#: -- every minhash coordinate then correlates with the raw min shingle hash
#: and LSH bands collide for *any* overlapping pair (measured: 800k candidate
#: pairs from 5k docs; with this mixing: ~hundreds).
_PERM_A = f"((2654435761 * (p + 1)) % {MOD})"


def minhash_expr(shingle_hashes: str, num_perms: int = 16) -> str:
    """array<bigint> of MinHash signature values."""
    return (
        f"transform(sequence(0, {num_perms - 1}), p -> "
        f"array_min(transform({shingle_hashes}, h -> "
        f"({_PERM_A} * h + p * p + 7) % {MOD})))"
    )


def minhash_signatures(
    filtered: DataFrame, num_perms: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """``(id, mh: array<bigint>)`` -- MinHash signatures over the ``shf``
    column, vectorized in numpy over Arrow batches.

    Value-identical to ``F.expr(minhash_expr("shf", n))``: same
    ``(a_p*h + p*p+7) % MOD`` recurrence (products stay < (MOD)^2 < 2^63,
    so int64 is exact), same per-permutation minimum.  Chosen for the same
    physical reasons as :func:`hashed_shingles`: the nested
    higher-order-lambda SQL never enters whole-stage codegen and pays a
    multi-second Janino compile per fresh session; numpy evaluates all
    permutations of a document in one (perms x hashes) broadcasted matrix
    op."""
    import numpy as np
    import pandas as pd

    a = np.array(
        [(2654435761 * (p + 1)) % MOD for p in range(num_perms)],
        dtype=np.int64,
    )
    b = np.array([p * p + 7 for p in range(num_perms)], dtype=np.int64)
    schema = f"{id_col} long, mh array<long>"

    # Chunked segment-reduce: rows grouped into ~64k-hash chunks; per
    # permutation, ONE in-place (a_p*H + b_p) % MOD pass over the
    # chunk's concatenated hashes + minimum.reduceat on the per-doc
    # offsets, replacing a per-document (perms x hashes) matrix op.
    # Per-row numpy call overhead dominated at corpus batch sizes
    # (measured ~1.6x on 20k docs); the chunk stays cache-resident
    # (same rationale as hashed_shingles' chunked fold).  Same
    # recurrence, same per-permutation minimum -- a_p*h + b_p <
    # MOD^2 + b < 2^63, so int64 stays exact.
    _CHUNK_H = 65536

    def _sig_chunk(arrs, idxs, out):
        if not all(x.size for x in arrs):
            # empty shf would break reduceat's segment contract; keep
            # the per-row form (and its empty-array ValueError) exactly
            for i, x in zip(idxs, arrs):
                out[i] = (
                    (a[:, None] * x[None, :] + b[:, None]) % MOD
                ).min(axis=1)
            return
        H = np.concatenate(arrs)
        starts = np.zeros(len(arrs), dtype=np.int64)
        np.cumsum(
            np.fromiter(
                (x.size for x in arrs[:-1]),
                dtype=np.int64,
                count=len(arrs) - 1,
            ),
            out=starts[1:],
        )
        v = np.empty_like(H)
        cols = []
        for p in range(num_perms):
            np.multiply(H, a[p], out=v)
            v += b[p]
            v %= MOD
            cols.append(np.minimum.reduceat(v, starts))
        mins = np.stack(cols, axis=1)  # (n_docs, num_perms)
        for r, i in enumerate(idxs):
            out[i] = mins[r]

    def batches(it):
        for pdf in it:
            out = [None] * len(pdf)
            arrs, idxs, tot = [], [], 0
            for i, x in enumerate(pdf["shf"]):
                arr = np.asarray(x, dtype=np.int64)
                arrs.append(arr)
                idxs.append(i)
                tot += arr.size
                if tot >= _CHUNK_H:
                    _sig_chunk(arrs, idxs, out)
                    arrs, idxs, tot = [], [], 0
            if arrs:
                _sig_chunk(arrs, idxs, out)
            yield pd.DataFrame({id_col: pdf[id_col], "mh": out})

    return filtered.mapInPandas(batches, schema)


def duck_minhash(shingle_hashes: str, num_perms: int = 16) -> str:
    return (
        f"list_transform(range(0, {num_perms}), p -> "
        f"list_min(list_transform({shingle_hashes}, h -> "
        f"({_PERM_A} * h + p * p + 7) % {MOD})))"
    )


SIMHASH_BITS = 32


def simhash_expr(col: str = "text") -> str:
    """32-bit SimHash over whitespace tokens of the lowercased text.

    The per-token polyhash is hoisted into a lambda variable so it is
    computed ONCE per document, not once per bit: the naive nesting
    re-hashed every token inside each of the 32 bit-votes (32x the string
    work; measured 11.4s -> ~1s for 5k docs).  Semantics identical."""
    tok_hashes = (
        rf"transform(split(trim(lower({col})), '\\s+'), "
        rf"tk -> {polyhash('tk')})"
    )
    bit_vote = (
        "aggregate(th, 0L, (a2, h) -> "
        "a2 + (2 * ((h div shiftleft(1L, b)) % 2) - 1))"
    )
    folded = (
        f"aggregate(transform(sequence(0, {SIMHASH_BITS - 1}), b -> "
        f"IF({bit_vote} > 0, shiftleft(1L, b), 0L)), 0L, (acc, x) -> acc + x)"
    )
    # transform over a 1-element array binds `th` once (SQL has no LET).
    return f"transform(array({tok_hashes}), th -> {folded})[0]"


def duck_simhash(col: str = "text") -> str:
    tok_hashes = (
        rf"list_transform(regexp_split_to_array(trim(lower({col})), '\s+'), "
        rf"tk -> {duck_polyhash('tk')})"
    )
    bit_vote = (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform({tok_hashes}, h -> "
        f"2 * ((h // (1::BIGINT << b)) % 2) - 1)), (a2, x) -> a2 + x)"
    )
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(range(0, {SIMHASH_BITS}), b -> "
        f"CASE WHEN {bit_vote} > 0 THEN 1::BIGINT << b ELSE 0::BIGINT END)), "
        f"(acc, x) -> acc + x)"
    )


# -- DataFrame transforms ----------------------------------------------------


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content-hash groupBy: one surviving row (min id) per
    distinct text, with the duplicate count.  Map-side partial aggregation
    makes this one shuffle of (hash -> partial min/count)."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


#: "auto" verification joins broadcast the per-doc shingle relation only when
#: its estimated footprint stays under this many bytes; beyond it (any real
#: corpus -- at 100 TB the relation is TBs) they fall back to a shuffled hash
#: join on doc_id, which scales with the cluster instead of OOMing the
#: driver/executors on the broadcast build.
VERIFY_BROADCAST_MAX_BYTES = 64 << 20


def _estimate_shingle_bytes(n_docs: int, total_hashes: int) -> int:
    """Rough in-memory size of the (id, sh, n_sh) relation: 8 bytes per
    BIGINT hash + per-row object overhead."""
    return total_hashes * 8 + n_docs * 48


def _corpus_stats(hashed: DataFrame) -> tuple[int, int]:
    """``(n_docs, total_hashes)`` of an ``(id, sh)`` shingle relation in
    one aggregate: the DF filter's denominator and the verify-broadcast
    gate's input.  Run over a just-persisted relation it also fills the
    cache (the hashing would run for the first consumer anyway)."""
    r = hashed.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.size("sh")).alias("tot")
    ).first()
    return int(r["n"]), int(r["tot"] or 0)


def _resolve_broadcast_verify(broadcast_verify: bool | str, stats) -> bool:
    """``broadcast_verify`` with ``"auto"`` resolved: broadcast the
    shingle relation the verify join builds from while its estimated
    footprint fits :data:`VERIFY_BROADCAST_MAX_BYTES`.  ``stats()``
    returns that relation's ``(n_docs, total_hashes)`` and is called only
    for ``"auto"``."""
    if broadcast_verify != "auto":
        return broadcast_verify
    return _estimate_shingle_bytes(*stats()) <= VERIFY_BROADCAST_MAX_BYTES


def _require_disjoint_ids(
    existing: DataFrame,
    new: DataFrame,
    id_col: str,
    who: str,
    ids: str = "doc ids",
    why: str = "",
) -> None:
    """Raise when ``new`` shares an ``id_col`` value with ``existing``:
    one broadcast semi-join of the existing ids against the (small) new
    batch's distinct ids, shared by the incremental miners and the ANN
    store's append."""
    overlap = existing.select(id_col).join(
        F.broadcast(new.select(id_col).distinct()), id_col, "left_semi"
    )
    if not overlap.isEmpty():
        sample = [r[0] for r in overlap.limit(5).collect()]
        raise ValueError(
            f"{who} share {ids} (e.g. {sample}); ids must be disjoint{why}"
        )


def _verify_exact_jaccard(
    cands: DataFrame,
    sh: DataFrame,
    threshold: float,
    id_col: str,
    broadcast_verify: bool,
) -> DataFrame:
    """Re-attach the hashed-shingle arrays to the candidate id pairs and keep
    pairs with exact Jaccard >= threshold.

    Jaccard over polyhashed shingles: intersect/union on BIGINT arrays is
    several times cheaper than on strings, and because Spark and DuckDB
    apply the identical hash, parity is exact whether or not a collision
    ever merges two shingles.  |a U b| is derived as |a|+|b|-|a ^ b| --
    the arrays are distinct-by-construction, so it's exact and saves
    materializing the union array per pair (~40% of verification cost).

    ``broadcast_verify`` picks the physical join: broadcast hash join when
    the shingle relation fits (small corpora -- zero shuffle of the
    candidates), else a shuffled hash join on doc_id (high-cardinality key,
    parallel, no driver-side build; ``shuffle_hash`` hint because sorting
    array-carrying rows for a merge join is wasted work)."""
    inter = F.size(F.array_intersect("sa.sh", "sb.sh")).cast("double")
    jac = inter / (F.col("sa.n_sh") + F.col("sb.n_sh") - inter)
    cands = _prune_by_size_ratio(
        cands, sh, threshold, id_col, broadcast_verify
    )
    sa, sb = sh.alias("sa"), sh.alias("sb")
    if broadcast_verify:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    else:
        sa, sb = sa.hint("shuffle_hash"), sb.hint("shuffle_hash")
    return (
        cands.join(sa, cands.doc_a == F.col(f"sa.{id_col}"))
        .join(sb, cands.doc_b == F.col(f"sb.{id_col}"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


#: ngram_jaccard_pairs' hashed-shingle relation.
_NGRAM = PersistSlot()


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple = ("lang",),
    length_band: int = 100,
    broadcast_verify: bool | str = "auto",
) -> DataFrame:
    """Brute-force near-dup pairs by character-``k``-gram Jaccard, blocked on
    ``block_cols`` + a text-length band (adjacent bands included so boundary
    pairs aren't lost).

    Shape matters more than the O(n^2) here.  Two traps this avoids:

    * **Skewed fat join**: joining rows that carry their shingle arrays on a
      ~5-value key (``lang``) serializes all pair work into 5 giant tasks.
      Instead the pair join runs on *skinny* (id, lang, band) rows -- cheap
      even when skewed -- and the arrays are re-attached afterwards by id.
    * **Array shuffle**: candidate pairs never drag shingle arrays through
      a shuffle; the shingle relation (one array per doc) is attached to the
      id pairs by hash join afterwards, so the expensive Jaccard evaluation
      is spread across the candidate partitions.

    The probe side is exploded to its 3 neighboring length bands, making the
    band part of the equi-key; each boundary pair is produced exactly once.
    ``broadcast_verify="auto"`` broadcasts the shingle relation only while
    it fits (:data:`VERIFY_BROADCAST_MAX_BYTES`); at real scale the
    re-attach flips to a shuffled hash join on doc_id (high-cardinality,
    parallel), and beyond that this baseline is superseded by
    :func:`minhash_lsh_pairs`."""
    skinny = df.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        (F.length(text_col) / F.lit(length_band)).cast("long").alias("lb"),
    )
    a = skinny.alias("a")
    b = skinny.withColumn(
        "lbx", F.explode(F.expr("array(lb - 1, lb, lb + 1)"))
    ).alias("b")
    cond = (F.col("a.lb") == F.col("b.lbx")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    for c in block_cols:
        cond &= F.col(f"a.{c}") == F.col(f"b.{c}")
    cands = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
    )
    # Spread the Jaccard evaluation across the cluster regardless of how few
    # (lang, band) buckets the candidate join produced.
    cands = cands.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "doc_a"
    )
    # Persisted: the verification join's two attach sides would otherwise
    # each re-run the shingle-hash stage (join subtrees don't share work).
    _NGRAM.evict()
    sh = _NGRAM.hold(
        hashed_shingles(df, k, text_col, id_col).withColumn(
            "n_sh", F.size("sh")
        )
    )
    broadcast_verify = _resolve_broadcast_verify(
        broadcast_verify, lambda: _corpus_stats(sh)
    )
    # Size-ratio prefilter (sound: J <= min/max since |a^b| <= min and
    # |aUb| >= max): prune disparate-size pairs on the SKINNY relation,
    # before any shingle array is attached.  Appending the ratio to the fat
    # join's condition instead is a trap: Catalyst keeps the pushed jaccard
    # conjunct first, so the intersect still runs for every pair and the
    # "prefilter" prunes nothing (measured; plan-confirmed).
    return _verify_exact_jaccard(cands, sh, threshold, id_col, broadcast_verify)


def _prune_by_size_ratio(
    cands: DataFrame,
    sh: DataFrame,
    threshold: float,
    id_col: str,
    broadcast: bool = True,
) -> DataFrame:
    """Drop (doc_a, doc_b) pairs that cannot reach ``threshold`` Jaccard by
    set size alone, joining only the skinny (id, n_sh) map -- two int
    comparisons per pair, no arrays touched.  The map is ~16 bytes/doc but
    still scales with corpus row count, so it follows the same
    broadcast-vs-shuffle gate as the array attach."""
    nsz = sh.select(F.col(id_col), F.col("n_sh"))
    ratio_ok = F.least("na.n_sh", "nb.n_sh").cast("double") >= F.lit(
        threshold
    ) * F.greatest("na.n_sh", "nb.n_sh")
    na, nb = nsz.alias("na"), nsz.alias("nb")
    if broadcast:
        na, nb = F.broadcast(na), F.broadcast(nb)
    else:
        na, nb = na.hint("shuffle_hash"), nb.hint("shuffle_hash")
    return (
        cands.join(na, cands.doc_a == F.col(f"na.{id_col}"))
        .join(nb, cands.doc_b == F.col(f"nb.{id_col}"))
        .where(ratio_ok)
        .select("doc_a", "doc_b")
    )


#: One mining pass's internal relations (hashed shingles, banded keys,
#: wide buckets, candidates), shared by the standing miner here and the
#: incremental miner in minhash_store.  The returned pair relation is
#: persisted by its callers (shared_minhash_pairs).
MINING = PersistSlot()


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 5,
    num_perms: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: float = 0.1,
    broadcast_verify: bool | str = "auto",
    max_band_width: int | str | None = None,
    mine_disk_budget_bytes: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs with exact Jaccard verification.

    shingle -> polyhash -> document-frequency filter -> ``num_perms``
    permutation minima -> ``bands`` band keys (md5 of each signature slice)
    -> band-key equi-join for candidates -> re-join to recompute exact
    Jaccard over the RAW shingle sets >= threshold.

    The DF filter is what makes this hold up on boilerplate-heavy corpora:
    shingles present in > ``max_df`` of documents (template/boilerplate
    text) otherwise dominate every document's minimum and collapse the
    signature space -- measured here: a single LSH band bucket holding 44%
    of the corpus and 2.5M candidate pairs for 5k docs; with the filter,
    signatures are built from discriminative shingles only and candidates
    drop to the genuinely-similar tail.  Verification still scores the raw
    shingle Jaccard, so surviving pairs mean exactly what the threshold
    says; pairs similar *only* through boilerplate are deliberately not
    recalled (and the DuckDB oracle mirrors the full pipeline, filter
    included).  The DF table is a corpus-wide aggregate that scales as the
    vocabulary, not the corpus, and broadcasts to the anti-join.

    ``max_band_width`` (opt-in) drops band buckets wider than the cap
    before pair generation.  The DF filter cannot be the only guard: a
    template shingle present in a large-but-under-``max_df`` slice of the
    corpus can still win the per-permutation minimum for every row of one
    band and collapse that whole slice into a single bucket -- measured
    on the 1M-doc SF20 rung, where one such shingle (DF 3.7%, filter
    threshold 10%) produced a 37,340-doc bucket, 2.0 BILLION raw
    candidate pairs (16x the 500k corpus at only 2x docs), and a
    shuffle that filled the disk.  A bucket that wide is a hash-collapse
    artifact, not a similarity signal: its true near-dup pairs collide
    in their other ``bands - 1`` bands with probability 1-(1-J^rows)^
    (bands-1) (0.96 at J=0.9), so dropping the bucket bounds the
    candidate blow-up while barely denting recall -- measured on the
    500k rung at cap 1000: 25,176 of the uncapped 25,372 verified pairs
    (99.2%; the lost 0.8% sat in that corpus's own 1k-4k-wide buckets
    with no second colliding band) in a mining pass that ran 2x faster
    even there (232 s vs 450-550 s).  Two caveats, both
    documented by the cap's test: EXACT duplicates legitimately share
    every band, so collapse them first (x05 -- the standard pipeline
    order, cf. pipeline.py); and the cap changes candidate semantics, so
    the registry entries / oracle keep the default ``None``.

    ``max_band_width="auto"`` makes the miner self-protecting: the x74
    width-histogram probe runs over the already-persisted banded
    relation and picks the largest cap whose predicted candidate volume
    (x :data:`CANDIDATE_BYTES`) fits ``mine_disk_budget_bytes``
    (default: half the free shuffle-disk bytes) -- or no cap at all
    when the uncapped mine fits, preserving default semantics.  See
    :func:`auto_band_width`.
    """
    hashed, banded, broadcast_verify = _mine_banded(
        df, k, num_perms, bands, text_col, id_col, max_df,
        broadcast_verify, max_band_width, mine_disk_budget_bytes,
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        # dedup happens inside _verify_candidates AFTER its repartition
        # on doc_a: hashpartitioning(doc_a) co-locates equal (doc_a,
        # doc_b) rows, so the dedup aggregate reuses that one exchange
        # instead of adding its own (2 Exchange -> 1 on the skinny pairs)
    )
    return _verify_candidates(cands, hashed, threshold, id_col, broadcast_verify)


def band_signatures(
    sigs: DataFrame, num_perms: int, bands: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id, band_idx, band_key) from a MinHash signature relation
    (``mh`` BIGINT array): explode ``bands`` band indices per row and md5
    the signature slice.  Band key via element_at + concat_ws rather than
    the equivalent transform(slice(...)) lambda: higher-order functions
    are always interpreted (no whole-stage codegen), and this expression
    runs once per (doc, band).  The two forms produce byte-identical
    strings -- concat_ws on BIGINTs casts exactly like the lambda did --
    so band keys, candidates, and the oracle twin are unchanged.
    Measured steady-state for the full x07 operator: 3.7 s -> 2.7 s at
    sf0.1.  Reached through :func:`_sign_and_band` by the inline miners
    and the persisted signature store (minhash_store) alike -- the
    store's batch-side banding must be byte-identical to the
    corpus-build-time banding or candidates silently vanish."""
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    if num_perms % bands:
        raise ValueError(
            f"num_perms ({num_perms}) must be divisible by bands "
            f"({bands}): a fractional rows-per-band would silently drop "
            "signature positions from every band key"
        )
    rows = num_perms // bands
    band_elems = ", ".join(
        f"element_at(mh, band_idx * {rows} + {j + 1})" for j in range(rows)
    )
    return sigs.select(
        id_col,
        F.explode(F.expr(f"sequence(0, {bands - 1})")).alias("band_idx"),
        F.col("mh"),
    ).select(
        id_col,
        "band_idx",
        F.expr(f"md5(concat_ws('-', {band_elems}))").alias("band_key"),
    )


#: Measured verify-join intermediate per candidate pair: the skinny
#: (doc_a, doc_b) row plus the ~2.2 KB shingle array it drags through the
#: exact-Jaccard join (SF10_RUNG mine_2m: 125M candidates ~= 256 GB).
CANDIDATE_BYTES = 2200


def _shuffle_disk_budget(spark) -> int:
    """Half the free bytes on the shuffle-local volume -- the default
    budget :func:`auto_band_width` prices candidate volume against.
    Half, not all: the verify join's spill shares the volume with every
    other stage's shuffle files."""
    import shutil

    local = (
        os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0]
        or spark.conf.get("spark.local.dir", "/tmp")
    ).split(",")[0]
    if not os.path.isdir(local):
        local = "/tmp"
    return shutil.disk_usage(local).free // 2


def _bucket_widths(banded: DataFrame, name: str = "w") -> DataFrame:
    """``(band_idx, band_key, <name>)``: the member count of every LSH
    band bucket -- the width histogram's input behind
    :func:`auto_band_width`, the width cap and
    :func:`minhash_candidate_probe`."""
    return banded.groupBy("band_idx", "band_key").agg(
        F.count(F.lit(1)).alias(name)
    )


def auto_band_width(
    banded: DataFrame,
    disk_budget_bytes: int | None = None,
    bytes_per_candidate: int = CANDIDATE_BYTES,
    new_banded: DataFrame | None = None,
) -> int | None:
    """Pick ``max_band_width`` from the banded relation's width histogram
    so predicted candidate volume fits the shuffle-disk budget -- the x74
    pricing probe wired into the miner itself, so the operator is
    self-protecting instead of requiring the user to know to probe (the
    2M-doc rung at cap 1000 predicted 125M candidates ~= 256 GB and died
    on a 76 GB-free box; cap 100 completed in 97 s).

    One aggregation over the (persisted) banded relation groups bucket
    widths into a histogram -- distinct-width cardinality, a
    planner-scale relation -- which is collected and integrated
    exactly: the chosen cap is the LARGEST bucket width ``w*`` such that
    the predicted volume for buckets of width ``<= w*`` times
    ``bytes_per_candidate`` fits the budget, i.e. maximal recall within
    the budget.  Returns ``None`` (no cap -- default semantics
    preserved) when the uncapped volume already fits; raises when not
    even the narrowest buckets fit, which means the corpus needs more
    disk, not a silent empty result.

    ``new_banded`` switches the volume model to the INCREMENTAL miners'
    candidate shape: their band join is driven by the new batch, so a
    bucket of total width ``w`` with ``wn`` batch members generates
    ``wn*(w-wn) + wn*(wn-1)/2`` pairs, not the self-join's
    ``w*(w-1)/2``.  Pricing a 100M-doc store's self-join volume against
    a 10k-doc batch would spuriously raise (or over-cap and drop
    legitimate batch pairs) on exactly the corpora the store exists
    for; the cap is still expressed over TOTAL bucket width, which is
    what the anti-join drops."""
    if disk_budget_bytes is None:
        disk_budget_bytes = _shuffle_disk_budget(banded.sparkSession)
    widths = _bucket_widths(banded)
    if new_banded is None:
        vol = F.expr("w * (w - 1) DIV 2")
    else:
        widths = widths.join(
            _bucket_widths(new_banded, "wn"), ["band_idx", "band_key"], "left"
        ).withColumn("wn", F.coalesce(F.col("wn"), F.lit(0)))
        vol = F.expr("wn * (w - wn) + wn * (wn - 1) DIV 2")
    hist = (
        widths.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(vol).alias("vol"),
        )
        .collect()
    )
    budget_pairs = disk_budget_bytes // bytes_per_candidate
    total = 0
    cap = None
    for row in sorted(hist, key=lambda r: r["w"]):
        w = row["w"]
        total += row["vol"] or 0
        if total > budget_pairs:
            if cap is None or cap < 2:
                # width-1 buckets generate zero pairs, so a "fitting"
                # cap of 1 would be a silent empty mine, not protection
                raise ValueError(
                    "auto_band_width: even width-"
                    f"{w} buckets exceed the candidate budget "
                    f"({total} pairs x {bytes_per_candidate} B > "
                    f"{disk_budget_bytes} B); increase shuffle disk or "
                    "lower bytes_per_candidate if measured smaller"
                )
            return cap
        cap = w
    return None  # uncapped volume fits: keep default semantics


def _cap_band_width(
    banded_all: DataFrame,
    max_band_width: int | str | None,
    disk_budget_bytes: int | None,
    banded_new: DataFrame | None = None,
):
    """The ``max_band_width`` skew guard shared by the standing and
    incremental miners: resolve ``"auto"`` (:func:`auto_band_width`,
    priced on the batch-driven candidate shape when ``banded_new`` is
    given), then drop every bucket wider than the cap from ``banded_all``
    and from ``banded_new`` -- both sides of the candidate join see one
    bucket universe.  The over-cap key set (a handful of hash-collapse
    artifacts) is persisted, since each consumer's broadcast exchange
    would otherwise re-run the width aggregation, and broadcast into the
    anti-joins.  Returns ``(banded_all, banded_new)``; ``None`` leaves
    both as they are."""
    if max_band_width == "auto":
        max_band_width = auto_band_width(
            banded_all, disk_budget_bytes, new_banded=banded_new
        )
    if max_band_width is None:
        return banded_all, banded_new
    wide = MINING.hold(
        _bucket_widths(banded_all, "n")
        .where(F.col("n") > max_band_width)
        .select("band_idx", "band_key")
    )

    def drop(rel):
        return rel.join(
            F.broadcast(wide), ["band_idx", "band_key"], "left_anti"
        )

    return drop(banded_all), None if banded_new is None else drop(banded_new)


def _new_driven_pairs(
    banded_new: DataFrame,
    banded_all: DataFrame,
    hashed_all: DataFrame,
    threshold: float,
    id_col: str,
    broadcast_verify: bool,
    max_band_width: int | str | None,
    disk_budget_bytes: int | None,
) -> DataFrame:
    """Width cap, candidate generation and exact verification shared by
    the two incremental miners (:func:`incremental_minhash_pairs` and
    minhash_store's ``incremental_pairs_stored``): the band join is
    DRIVEN BY THE NEW SIDE, so corpus x corpus candidates -- the
    quadratic bulk -- are never generated; new x new pairs arrive once
    per direction and are normalized with least/greatest + distinct;
    verification re-joins the raw shingle arrays (``hashed_all`` must
    cover BOTH sides' ids)."""
    banded_all, banded_new = _cap_band_width(
        banded_all, max_band_width, disk_budget_bytes, banded_new
    )
    a, b = banded_new.alias("a"), banded_all.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias(
                "doc_a"
            ),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias(
                "doc_b"
            ),
        )
        # dedup folds into _verify_candidates' doc_a repartition (see
        # minhash_lsh_pairs: one exchange carries the raw pairs once)
    )
    return _verify_candidates(
        cands, hashed_all, threshold, id_col, broadcast_verify
    )


def _verify_candidates(
    cands: DataFrame,
    hashed: DataFrame,
    threshold: float,
    id_col: str,
    broadcast_verify: bool,
) -> DataFrame:
    """Back half shared by the self-join and incremental miners: persist +
    materialize the skinny candidate pair list, then exact-verify.

    Exact-verification join on the raw hashed shingles (see
    _verify_exact_jaccard on why BIGINT arrays + identical cross-engine
    hashing + the |a|+|b|-|a^b| union identity).  The candidate relation
    is tiny in *bytes* but each row costs an array intersection, so AQE
    would coalesce it onto a core or two -- repartition explicitly to keep
    verification as wide as the cluster (cf. plans.skew.spread).  Persist
    + materialize the skinny (doc_a, doc_b) list so the verify join plans
    from its REAL cardinality and runs as its own small, compilable
    stage instead of being fused into one giant codegen unit with the
    band join -- the fused form intermittently fell out of codegen and
    burned ~250 s of interpreted CPU on a stage that takes ~7 s compiled."""
    # Repartition FIRST, then dedup: hashpartitioning(doc_a) already
    # co-locates equal (doc_a, doc_b) rows, so the dedup aggregate
    # satisfies its clustering requirement from this one exchange --
    # previously distinct shuffled the pairs and the repartition
    # shuffled them AGAIN (2 Exchange -> 1; the raw multi-band
    # duplicates ride the single exchange as skinny 16-byte rows).
    cands = MINING.hold(
        cands.repartition(
            cands.sparkSession.sparkContext.defaultParallelism, "doc_a"
        ).dropDuplicates(["doc_a", "doc_b"])
    )
    cands.count()
    sh = hashed.withColumn("n_sh", F.size("sh"))
    return _verify_exact_jaccard(cands, sh, threshold, id_col, broadcast_verify)


def _common_shingles(
    hashed: DataFrame, id_col: str, max_df: float, n_docs: int
) -> DataFrame:
    """The document-frequency filter's boilerplate set, lazily: every
    shingle hash in more than ``max_df * n_docs`` rows of ``hashed``.  A
    corpus-wide aggregate that scales as the vocabulary, not the corpus;
    the inline miners use it as is, the signature store freezes it to
    parquet."""
    tok = hashed.select(F.col(id_col), F.explode("sh").alias("h"))
    return (
        tok.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > F.lit(max_df) * F.lit(n_docs))
        .select("h")
    )


def _sign_and_band(
    hashed: DataFrame,
    common: DataFrame,
    num_perms: int,
    bands: int,
    id_col: str,
) -> DataFrame:
    """``(id, band_idx, band_key)`` of a shingle relation signed against
    the boilerplate set ``common``: one signing path for the inline
    miners, the store build, its batch side and its refreeze, so a
    batch bands byte-identically to the corpus it is mined against.

    The boilerplate set is subtracted per row with array_except against
    the broadcast 1-row array of common shingles, instead of exploding
    to (doc, hash) rows, anti-joining, and re-grouping: that path
    shuffles the whole corpus's hashes twice; this one shuffles only the
    common set.  MinHash takes a minimum over the array, so element
    order -- the only thing the two forms differ on -- cannot affect the
    signature."""
    common_arr = common.agg(F.collect_list("h").alias("common_hs"))
    filtered = (
        hashed.crossJoin(F.broadcast(common_arr))
        .select(
            F.col(id_col),
            F.array_except("sh", "common_hs").alias("shf"),
        )
        # exploded-path parity: docs whose shingles are all boilerplate (or
        # null text) vanish there via the group-by; drop them here too, so
        # they never band (size(null) = -1 also filters null-text rows).
        .where(F.size("shf") > 0)
    )
    return band_signatures(
        minhash_signatures(filtered, num_perms, id_col),
        num_perms,
        bands,
        id_col,
    )


def _mine_banded(
    df: DataFrame,
    k: int,
    num_perms: int,
    bands: int,
    text_col: str,
    id_col: str,
    max_df: float,
    broadcast_verify: bool | str,
    max_band_width: int | str | None,
    mine_disk_budget_bytes: int | None = None,
):
    """Front half of the LSH mining pipeline, shared by
    :func:`minhash_lsh_pairs` (self-join candidates),
    :func:`incremental_minhash_pairs` (new-batch-driven candidates, which
    caps its two sides itself and passes ``max_band_width=None``) and
    :func:`minhash_candidate_probe`: hashed shingles (persisted),
    document-frequency filter, MinHash signatures, banding (persisted,
    optionally width-capped).  Returns ``(hashed, banded,
    broadcast_verify_resolved)``; both are held in :data:`MINING`."""
    # The hashed-shingle relation feeds three consumers (DF stats, filtered
    # signatures, exact verification); persist it so the shingle hashing
    # runs once, not once per consumer.  MEMORY_AND_DISK: spills instead of
    # recomputing at scale.
    MINING.evict()
    hashed = MINING.hold(hashed_shingles(df, k, text_col, id_col))
    # One aggregate over the about-to-be-cached relation doubles as (a) the
    # corpus count the DF filter needs (the planner-style metadata probe, cf.
    # reference O9 -- previously a separate full pass over ``df``) and (b)
    # the size estimate gating the verification broadcast.
    n_docs, tot = _corpus_stats(hashed)
    broadcast_verify = _resolve_broadcast_verify(
        broadcast_verify, lambda: (n_docs, tot)
    )
    common = _common_shingles(hashed, id_col, max_df, n_docs)
    # Repartition by the band key so pair generation runs as wide as the
    # cluster instead of on AQE's byte-coalesced partitioning, then persist:
    # the banded relation is skinny (id, band_idx, 32-char key = KBs per
    # million docs) and feeds BOTH sides of the self-join.  Without the
    # persist each side re-runs the whole signature pipeline (DF-filter
    # agg, boilerplate broadcast, minhash mapInPandas) -- ReuseExchange
    # does NOT deduplicate them under AQE because each side plans its
    # exchange independently before runtime reuse can kick in; measured
    # 15 s vs 3 s at sf0.1 for the full operator.
    banded = MINING.hold(
        _sign_and_band(hashed, common, num_perms, bands, id_col).repartition(
            df.sparkSession.sparkContext.defaultParallelism,
            "band_idx",
            "band_key",
        )
    )
    banded, _ = _cap_band_width(banded, max_band_width, mine_disk_budget_bytes)
    return hashed, banded, broadcast_verify


def incremental_minhash_pairs(
    corpus_df: DataFrame,
    new_df: DataFrame,
    threshold: float = 0.5,
    k: int = 5,
    num_perms: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: float = 0.1,
    broadcast_verify: bool | str = "auto",
    max_band_width: int | str | None = None,
    validate_ids: bool = True,
    mine_disk_budget_bytes: int | None = None,
) -> DataFrame:
    """Incremental near-dup mining: exact-Jaccard-verified MinHash+LSH
    pairs with AT LEAST ONE side in ``new_df`` -- the daily-ingest shape,
    where a new crawl batch must be deduplicated against the standing
    corpus AND against itself, but corpus-internal pairs are already
    known and must not be re-mined.  (The exact-hash sibling is
    :func:`incremental_dedup` / x46; this is its near-dup counterpart.)

    Same signature pipeline as :func:`minhash_lsh_pairs`
    (:func:`_mine_banded`, run over ``corpus UNION new`` -- a deployment
    stores the corpus's banded relation and document-frequency table and
    only computes the new batch's), but candidate generation is DRIVEN BY
    THE NEW SIDE: the banded relation is semi-joined to the new batch's
    ids (broadcast -- a daily batch is orders of magnitude smaller than
    the corpus) and only then band-joined against the full relation.  At
    100 TB the band join therefore streams corpus buckets past a
    new-batch-sized build side instead of self-joining the corpus:
    old x old candidate pairs -- the quadratic bulk -- are never
    generated, rather than generated and filtered.  new x new pairs
    arrive once per direction and are normalized with least/greatest +
    distinct.  Verification and the band-width skew cap are shared with
    the standing miner unchanged.

    Doc ids are required to be distinct across the two inputs (a shared
    id would make pair semantics ambiguous: both texts feed one union,
    the ``!=`` candidate join suppresses legitimate cross-side pairs of
    that id, and least/greatest mislabels sides).  ``validate_ids``
    (default on) raises on overlap instead of silently corrupting the
    result -- the check is one broadcast semi-join of the corpus's id
    column against the (small) new batch's ids, marginal next to the
    mining scan of the full text; a deployment that guarantees
    disjointness upstream (e.g. ingest-time id ranges) can pass False.
    """
    if validate_ids:
        _require_disjoint_ids(
            corpus_df,
            new_df,
            id_col,
            "incremental_minhash_pairs: corpus_df and new_df",
            why=" across the two inputs",
        )
    union = corpus_df.select(id_col, text_col).unionByName(
        new_df.select(id_col, text_col)
    )
    hashed, banded, broadcast_verify = _mine_banded(
        union, k, num_perms, bands, text_col, id_col, max_df,
        broadcast_verify, None,
    )
    new_ids = new_df.select(F.col(id_col).alias("_nid")).distinct()
    banded_new = banded.join(
        F.broadcast(new_ids),
        F.col(id_col) == F.col("_nid"),
        "left_semi",
    )
    return _new_driven_pairs(
        banded_new, banded, hashed, threshold, id_col, broadcast_verify,
        max_band_width, mine_disk_budget_bytes,
    )


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    backend: str = "expr",
) -> DataFrame:
    """``(id, simhash)`` 32-bit SimHash signatures.

    Two value-identical backends (the gopher/x19 discipline):

    * ``expr`` (default) -- pure JVM-side SQL (:func:`simhash_expr`); the
      parity reference and the scale default.
    * ``pandas`` -- numpy over Arrow batches; all tokens of a batch hash
      in one masked fold over char positions and all 32 bit votes reduce
      in one segment-sum.

    Measured at the SF10 rung's 500k docs (3 fresh-process runs each):
    expr 7.6-9.2 s steady, pandas 8.5-14.6 s -- the interpreted-lambda
    tax the x19 translate fix exploited does NOT dominate here (the expr
    already hoists token hashes, and the pandas side pays Arrow text
    transfer plus ~100 MB/batch vote matrices), so the JVM form keeps
    the default.  The pandas backend wins fresh-session latency (0.6 s
    vs 1.3 s at 5k docs -- no Janino compile) and is the cross-checked
    second implementation the property suite leans on.

    Parity notes (pinned by tests/test_corpus_properties.py's bit-vote
    model test and the x08 DuckDB oracle): tokenization replicates the
    expr EXACTLY -- lower, trim of SPACES only (Spark ``trim`` does not
    strip tabs/newlines), Spark ``split('\\\\s+')`` = Java
    ``split(regex, -1)`` semantics (ASCII whitespace class; leading AND
    trailing empty tokens are both kept), token polyhash
    ``(acc*31 + ord) % MOD`` in int64 (products < 2^63, exact).  The
    lowercase caveat of :func:`hashed_shingles` (Python vs JVM casing
    outside ASCII) applies here too.
    """
    from ..plans.skew import spread

    if backend == "expr":
        return spread(df.select(id_col, text_col)).select(
            F.col(id_col), F.expr(simhash_expr(text_col)).alias("simhash")
        )

    import re as _re

    import numpy as np
    import pandas as pd

    ws = _re.compile(r"\s+", _re.ASCII)

    def batches(it):
        for pdf in it:
            # Per DOC: one lowercase+strip, one regex pass for token
            # SPANS, one utf-32 decode of the whole doc.  Token code
            # arrays are never materialized as Python objects -- span
            # offsets drive a vectorized scatter below.  (A first cut
            # encoded per token and filled the pad matrix in a Python
            # loop: ~780k iterations per partition at the SF10 rung,
            # which ate the numpy win and tied the expr backend at ~8 s.)
            code_chunks: list = []
            tok_lens: list = []  # int64 arrays, one per doc
            doc_n_tokens: list[int] = []
            null_mask: list[bool] = []
            for s in pdf[text_col]:
                if s is None:
                    # expr parity: NULL text -> simhash 0, not NULL (the
                    # per-bit IF(NULL > 0, ...) picks the 0 arm for every
                    # bit, so the fold sums to 0)
                    null_mask.append(True)
                    doc_n_tokens.append(0)
                    continue
                null_mask.append(False)
                s2 = s.lower().strip(" ")
                # Spark's split() is Java split(regex, -1): EVERY
                # complement span is a token, including leading AND
                # trailing empty ones ('\\ta\\t' -> ['', 'a', ''];
                # '' -> ['']).  The -1 limit matters: plain Java split
                # drops trailing empties, Spark does not -- a dropped
                # trailing '' flips signature bits for odd token counts
                # (the '' hash is 0, voting -1 on every bit).
                starts_d = [0]
                ends_d = []
                for m in ws.finditer(s2):
                    ends_d.append(m.start())
                    starts_d.append(m.end())
                ends_d.append(len(s2))
                doc_n_tokens.append(len(starts_d))
                lens_d = np.array(ends_d, dtype=np.int64) - np.array(
                    starts_d, dtype=np.int64
                )
                tok_lens.append(lens_d)
                codes_d = np.frombuffer(
                    s2.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                # concatenate only the token bytes (drop whitespace) so
                # global offsets are exact cumulative token lengths
                if lens_d.sum() == len(s2):
                    code_chunks.append(codes_d)
                else:
                    keep = np.zeros(len(s2) + 1, dtype=np.int64)
                    np.add.at(keep, np.array(starts_d, dtype=np.int64), 1)
                    np.add.at(keep, np.array(ends_d, dtype=np.int64), -1)
                    code_chunks.append(codes_d[np.cumsum(keep[:-1]) > 0])
            n_tok = sum(doc_n_tokens)
            out = pd.array([0] * len(null_mask), dtype="Int64")
            if n_tok:
                lens = np.concatenate(tok_lens)
                lmax = int(lens.max()) if lens.size else 0
                all_codes = (
                    np.concatenate(code_chunks)
                    if code_chunks
                    else np.zeros(0, dtype=np.int64)
                )
                # vectorized scatter into the (n_tok, lmax) pad matrix
                mat = np.zeros((n_tok, max(lmax, 1)), dtype=np.int64)
                if all_codes.size:
                    tok_of_char = np.repeat(
                        np.arange(n_tok, dtype=np.int64), lens
                    )
                    off = np.zeros(n_tok, dtype=np.int64)
                    np.cumsum(lens[:-1], out=off[1:])
                    col_of_char = (
                        np.arange(all_codes.size, dtype=np.int64)
                        - off[tok_of_char]
                    )
                    mat[tok_of_char, col_of_char] = all_codes
                acc = np.zeros(n_tok, dtype=np.int64)
                for j in range(lmax):
                    live = j < lens
                    acc = np.where(live, (acc * 31 + mat[:, j]) % MOD, acc)
                # votes: (32, n_tok) in {-1, +1}, segment-summed per doc.
                # Segments cover NON-NULL docs only (every one has >= 1
                # token -- '' still tokenizes to ['']), so reduceat never
                # sees an empty segment; null docs keep their 0 slot.
                bits = (
                    (acc[None, :] >> np.arange(SIMHASH_BITS)[:, None]) & 1
                ) * 2 - 1
                nn_counts = np.array(
                    [c for c, isnull in zip(doc_n_tokens, null_mask) if not isnull],
                    dtype=np.int64,
                )
                starts = np.zeros(nn_counts.size, dtype=np.int64)
                np.cumsum(nn_counts[:-1], out=starts[1:])
                votes = np.add.reduceat(bits, starts, axis=1)
                sims = (
                    ((votes > 0).astype(np.int64)
                     << np.arange(SIMHASH_BITS)[:, None]).sum(axis=0)
                )
                pos = 0
                for i, isnull in enumerate(null_mask):
                    if not isnull:
                        out[i] = int(sims[pos])
                        pos += 1
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": out})

    return spread(df.select(id_col, text_col)).mapInPandas(
        batches, f"{id_col} long, simhash long"
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup pairs: band on the signature's 4 bytes (a pair within
    ``max_hamming <= 8`` differing bits must agree on at least one byte when
    hamming < 4 bands), then exact hamming filter via bit_count(xor)."""
    sigs = simhash_signatures(df, text_col, id_col)
    banded = sigs.select(
        id_col,
        "simhash",
        F.explode(F.expr("sequence(0, 3)")).alias("band_idx"),
    ).withColumn(
        "band_key", F.expr("(simhash div shiftleft(1L, band_idx * 8)) % 256")
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def word_shingles_expr(col: str = "text", w: int = 3) -> str:
    """``w``-word shingles of the lowercased, whitespace-split text.

    The token split is let-bound via the ``transform(array(e), v -> ..)[0]``
    wrapper: interpreted
    lambdas re-evaluate their body's subexpressions per element, so an
    inline split in the slice would re-split the document once per gram
    -- O(w_doc) regex splits per row (measured 2x on x68's corpus-side
    explode at sf0.1)."""
    toks = rf"split(trim(lower({col})), '\\s+')"
    return (
        f"transform(array({toks}), ts -> "
        f"array_distinct(transform(sequence(1, greatest(size(ts)-{w - 1}, 1)), "
        f"i -> array_join(slice(ts, i, {w}), ' '))))[0]"
    )


def duck_word_shingles(col: str = "text", w: int = 3) -> str:
    """DuckDB twin of :func:`word_shingles_expr`.  ``l[i:i+w-1]`` is
    DuckDB's inclusive 1-based slice == Spark ``slice(l, i, w)``; both
    return the available tail for sub-``w``-token texts."""
    toks = rf"regexp_split_to_array(trim(lower({col})), '\s+')"
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({toks})-{w - 1}, 1) + 1), "
        f"i -> array_to_string(({toks})[i:i+{w - 1}], ' ')))"
    )


#: minhash_lsh_ml's shingle-vector relation.
_ML_FEAT = PersistSlot()


def minhash_lsh_ml(
    df: DataFrame,
    threshold: float = 0.5,
    num_features: int = 1 << 18,
    num_hash_tables: int = 4,
    w: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """ml.feature variant: HashingTF shingle vectors +
    MinHashLSH.approxSimilarityJoin.  Not SQL-expressible -> rows-only
    correctness check; recall vs the exact path is covered in tests.

    Caveat that makes :func:`minhash_lsh_pairs` the production path: Spark's
    MinHashLSH amplifies OR-only (a pair is a candidate if ANY of the
    ``num_hash_tables`` single hashes collide) -- there is no banding (AND)
    stage, so candidate volume grows ~``1-(1-J)^T`` even for low-J pairs.
    Character 5-grams made nearly every doc pair collide somewhere (measured
    ~9 min for 5k docs); WORD 3-gram shingles share far fewer features
    across unrelated docs and keep the candidate set near-linear."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from ..plans.skew import spread

    sh = spread(df.select(id_col, text_col)).select(
        F.col(id_col), F.expr(word_shingles_expr(text_col, w)).alias("sh")
    ).where(F.size("sh") > 0)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=num_features, binary=True)
    # approxSimilarityJoin self-joins `feat`; unpersisted, the shingle split
    # + TF hashing would run once per side (and once more for fit).
    _ML_FEAT.evict()
    feat = _ML_FEAT.hold(tf.transform(sh))
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed)
    model = lsh.fit(feat)
    joined = model.approxSimilarityJoin(feat, feat, 1.0 - threshold, distCol="jaccard_dist")
    return (
        joined.where(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("doc_a"),
            F.col(f"datasetB.{id_col}").alias("doc_b"),
            (F.lit(1.0) - F.col("jaccard_dist")).alias("jaccard"),
        )
    )


# -- registered queries ------------------------------------------------------


@register(
    "x05_dedup_exact",
    "SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_doc_id, "
    "COUNT(*) AS n_dups FROM documents GROUP BY text",
    "exact dedup: content-hash groupBy keeping min doc_id",
)
def x05_dedup_exact(spark, sf_dir) -> DataFrame:
    return dedup_exact(t(spark, sf_dir, "documents"))


#: The two deliberately-non-production paths (x06 brute-force baseline, x09
#: OR-amplified ml LSH) register over this bounded slice: their cost is
#: quadratic-ish by construction, and unbounded they dominate the benchmark
#: total, masking regressions in the operators that actually matter at scale
#: (x07).  The bound is above every correctness-gate corpus (sf0.01 has 500
#: docs), so oracle results are unchanged there.
BASELINE_SLICE = 2000


@register(
    "x06_dedup_ngram_jaccard",
    # Inverted-index oracle (the x09 exact-reference technique): explode
    # each doc's DISTINCT hashed shingles, equi-join on the shingle under
    # the same lang + length-band blocking, count shared per pair, and
    # J = c / (na + nb - c).  Exact for any threshold > 0 (a pair with
    # zero shared shingles has J = 0 and cannot appear), and value-equal
    # to the old per-pair list_intersect/list_distinct form since both
    # operate on the distinct hash sets.  Replaces the r7 blocked BNLJ
    # whose per-pair set ops were the sweep's rows-only bottleneck
    # (16.3 s -> 8.7 s over the sf0.1 slice; no more O(pairs x |sh|)
    # list scans).
    "WITH d AS (SELECT doc_id, lang, (length(text) // 100)::BIGINT AS lb, "
    f" list_distinct(list_transform({duck_shingles('text', 3)}, "
    f"  s -> {duck_polyhash('s')})) AS sh "
    f" FROM documents WHERE doc_id < {BASELINE_SLICE}), "
    "tok AS (SELECT doc_id, lang, lb, len(sh) AS nn, unnest(sh) AS h "
    " FROM d), "
    "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "  any_value(a.nn) AS na, any_value(b.nn) AS nb, count(*) AS c "
    " FROM tok a JOIN tok b ON a.h = b.h AND a.lang = b.lang "
    "  AND a.doc_id < b.doc_id AND a.lb - b.lb BETWEEN -1 AND 1 "
    " GROUP BY 1, 2) "
    "SELECT doc_a, doc_b, c::DOUBLE / (na + nb - c)::DOUBLE AS jaccard "
    "FROM pairs WHERE c::DOUBLE / (na + nb - c)::DOUBLE >= 0.8",
    "brute-force 3-gram Jaccard near-dup pairs (length-blocked baseline; "
    "oracle via inverted-index shingle equi-join)",
)
def x06_ngram_jaccard(spark, sf_dir) -> DataFrame:
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") < BASELINE_SLICE)
    return ngram_jaccard_pairs(docs, threshold=0.8, k=3)


_DUCK_SH_HASHES = (
    f"list_transform({duck_shingles()}, s -> {duck_polyhash('s')})"
)

def _duck_mh_sigs(
    docs: str = "documents", cand_pred: str = "", df_pred: str = ""
) -> str:
    """The x07 MinHash+LSH pipeline as DuckDB SQL over relation ``docs``.

    Parameterized so consumers can run the identical pipeline over a
    corpus *slice* (x67 scopes its distributed-CC driver row to a bounded
    slice).  The document-frequency cutoff is relative to ``docs``'s own
    row count -- exactly how the Spark side derives ``n_docs`` from its
    input DataFrame -- so slicing preserves cross-engine parity.
    ``cand_pred`` (an extra ``AND ...`` clause on the candidate join)
    scopes the PAIR set without touching the signatures -- x73 keeps
    only pairs with at least one side in the "new batch".  ``df_pred``
    (a ``WHERE ...`` clause on doc_id) scopes the DOCUMENT-FREQUENCY
    statistics -- both the boilerplate counts and the max_df denominator
    -- to a corpus slice while signatures still span all of ``docs``:
    the frozen-DF semantics of the persisted signature store (x77),
    where a new batch is signed against the corpus-build-time DF table."""
    df_and = df_pred and f" WHERE {df_pred}"
    return (
        f"WITH hashed AS (SELECT doc_id, {_DUCK_SH_HASHES} AS sh FROM {docs}), "
        "tok AS (SELECT doc_id, unnest(sh) AS h FROM hashed), "
        "common AS (SELECT h FROM (SELECT h, COUNT(*) AS c FROM tok"
        f"{df_and} GROUP BY h) "
        f" WHERE c > 0.1 * (SELECT COUNT(*) FROM {docs}{df_and})), "
        "filtered AS (SELECT doc_id, list(h) AS shf FROM tok "
        " WHERE h NOT IN (SELECT h FROM common) GROUP BY doc_id), "
        "sigs AS (SELECT doc_id, "
        f"{duck_minhash('shf')}"
        " AS mh FROM filtered), "
        "banded AS (SELECT doc_id, j AS band_idx, "
        " md5(array_to_string(mh[j*4+1 : j*4+4], '-')) AS band_key "
        " FROM sigs CROSS JOIN range(0, 4) AS r(j)), "
        "cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        " FROM banded a JOIN banded b ON a.band_idx = b.band_idx "
        f" AND a.band_key = b.band_key AND a.doc_id < b.doc_id{cand_pred}) "
        "SELECT doc_a, doc_b, "
        " len(list_intersect(sa.sh, sb.sh))::DOUBLE / "
        " len(list_distinct(list_concat(sa.sh, sb.sh)))::DOUBLE AS jaccard "
        "FROM cands JOIN hashed sa ON cands.doc_a = sa.doc_id "
        "JOIN hashed sb ON cands.doc_b = sb.doc_id "
        "WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE / "
        " len(list_distinct(list_concat(sa.sh, sb.sh)))::DOUBLE >= 0.5"
    )


_DUCK_MH_SIGS = _duck_mh_sigs()


#: One live verified-pairs relation per (session, corpus): the mined
#: near-dup graph is the shared upstream of a whole pipeline family
#: (pairs -> clusters -> canonical prune), and real pipelines mine it
#: ONCE and consume it many times -- re-mining per consumer would be the
#: bug at 100 TB, not the optimization.  The registry mirrors that:
#: x07 materializes the graph, x26 clusters it, and the CC_SLICE entries
#: (x50/x67) share one slice-scoped mining pass.  Same contract as
#: simsearch._panel_prep: keyed on applicationId (id() values can be
#: reused across garbage-collected sessions) and on the documents table's
#: file fingerprint, so a table rewritten in the session is mined again.
#: Values are unaffected: the pipeline is deterministic, so a cache hit
#: returns exactly what a re-mine would.
_PAIRS = PersistSlot()


def shared_minhash_pairs(
    spark, sf_dir: str, limit: int | None = None, threshold: float = 0.5
) -> DataFrame:
    """Verified MinHash+LSH near-dup pairs over ``sf_dir``'s documents
    (optionally the first ``limit`` doc_ids), persisted once per
    (session, documents files, limit, threshold) and shared across the
    registry entries that consume the same mined graph."""
    docs_fp = table_fingerprint(os.path.join(sf_dir, "documents.parquet"))
    key = (spark.sparkContext.applicationId, docs_fp, limit, threshold)
    # A relation clearCache() dropped (bench.py runs it between timed runs)
    # reads as a miss: served uncached, it would re-execute the mining tree
    # with its internal persists gone -- the band self-join re-running the
    # signature pipeline per side (the documented 15 s-vs-3 s blowup).
    cached = _PAIRS.get(key)
    if cached is not None:
        return cached
    _PAIRS.evict()
    docs = t(spark, sf_dir, "documents")
    if limit is not None:
        docs = docs.where(F.col("doc_id") < limit)
    pairs = _PAIRS.hold(minhash_lsh_pairs(docs, threshold=threshold), key=key)
    # Materialize before returning: the one-slot cache evicts on every key
    # switch, so interleaving full-corpus consumers (x07/x26) with slice
    # consumers (x50/x67) in a non-registry order could otherwise unpersist
    # a relation whose lineage was never computed -- and the NEXT miss also
    # evicts the mining internals (MINING), silently re-running the band
    # self-join per side (the documented 15 s-vs-3 s blowup).  An eager
    # count pins the data while the internal persists are still live,
    # making later eviction a pure cache drop, never a re-mine of a
    # stranded lineage.
    pairs.count()
    return pairs


@register(
    "x07_dedup_minhash_lsh",
    _DUCK_MH_SIGS,
    "MinHash(16 perms) + LSH(4 bands) near-dup pairs, exact-Jaccard verified",
)
def x07_minhash_lsh(spark, sf_dir) -> DataFrame:
    return shared_minhash_pairs(spark, sf_dir, threshold=0.5)


#: x73's "new batch" = the newest fifth of doc ids (ids are ingestion-
#: ordered in the testdata, so an id suffix IS the latest ingest).  Chosen
#: over a modular holdout because near-dup pairs at sf0.01 never touch a
#: 1-in-97 scatter (the vacuity guard fired); the suffix cut carries 10
#: verified pairs there.  Integer arithmetic so both engines cut at the
#: same id.
_X73_CUT = "(4 * (SELECT COUNT(*) FROM documents)) // 5"


@register(
    "x73_incremental_near_dup",
    _duck_mh_sigs(
        cand_pred=(
            f" AND (a.doc_id >= {_X73_CUT} OR b.doc_id >= {_X73_CUT})"
        )
    ),
    "incremental near-dup mining: MinHash+LSH pairs with at least one "
    "side in the 'new batch' (the newest fifth of doc ids = the latest "
    "ingest) -- the daily-ingest shape where the band join is driven "
    "by the broadcast new side so corpus x corpus candidates are never "
    "generated; signatures/DF filter over the union, exact-Jaccard "
    "verified, same oracle pipeline as x07 with the cross-side "
    "candidate predicate",
)
def x73_incremental(spark, sf_dir) -> DataFrame:
    from .store import footer_row_count

    docs = t(spark, sf_dir, "documents")
    # O9 footer count: the cut only needs COUNT(*), which parquet footers
    # answer exactly -- no Spark job before the mining pipeline starts.
    cut = (4 * footer_row_count(spark, sf_dir, "documents")) // 5
    new = docs.where(F.col("doc_id") >= cut)
    corpus = docs.where(F.col("doc_id") < cut)
    # validate_ids=False: both sides are cut from ONE keyed table, so
    # overlap is impossible by construction -- the guard's own documented
    # escape hatch; no point paying its corpus id-scan every run
    return incremental_minhash_pairs(
        corpus, new, threshold=0.5, validate_ids=False
    )


def minhash_candidate_probe(
    df: DataFrame,
    caps: tuple[int, ...] = (100, 1000),
    k: int = 5,
    num_perms: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: float = 0.1,
) -> DataFrame:
    """Mine-pricing probe: band the corpus WITHOUT generating pairs and
    integrate ``w*(w-1)/2`` over the band-bucket width histogram -- the
    exact raw candidate-pair count of :func:`minhash_lsh_pairs`,
    uncapped and under each ``max_band_width`` choice in ``caps``, for
    the cost of ONE aggregation over the skinny banded relation.

    This is the planner-style metadata pass (the O8/O9 discipline
    applied to mining) that should precede any big mine: the verify
    join's intermediate carries a ~2.2 KB shingle array per candidate,
    so ``raw_capN x 2.2 KB`` prices the peak shuffle before you pay for
    it.  Measured at the 2M-doc rung: cap 1000 priced at 125M
    candidates ~= 256 GB -- correctly predicting the death of a
    76-GB-free box -- while cap 100 priced at 22M and completed in
    97 s (SF10_RUNG.json ``mine_2m``).  Candidate volume from under-cap
    template families grows ~4x per corpus doubling (each family
    doubles its width), which is why the cap must scale with the corpus
    on fixed hardware.

    Returns one row: ``n_buckets``, ``max_width``, ``raw_uncapped``,
    and ``raw_cap{c}`` per requested cap (all BIGINT; the per-bucket
    pair counts are exact integers, so Spark and DuckDB agree
    bit-for-bit).
    """
    _, banded, _ = _mine_banded(
        df, k, num_perms, bands, text_col, id_col, max_df, False, None
    )
    w = _bucket_widths(banded)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("w").cast("long").alias("max_width"),
        F.sum(F.expr("w * (w - 1) DIV 2")).cast("long").alias("raw_uncapped"),
    ]
    for c in caps:
        aggs.append(
            F.sum(
                F.expr(f"IF(w <= {c}, w * (w - 1) DIV 2, 0L)")
            ).cast("long").alias(f"raw_cap{c}")
        )
    return w.agg(*aggs)


_DUCK_PROBE = (
    f"WITH hashed AS (SELECT doc_id, {{sh}} AS sh FROM documents), "
    "tok AS (SELECT doc_id, unnest(sh) AS h FROM hashed), "
    "common AS (SELECT h FROM (SELECT h, COUNT(*) AS c FROM tok GROUP BY h) "
    " WHERE c > 0.1 * (SELECT COUNT(*) FROM documents)), "
    "filtered AS (SELECT doc_id, list(h) AS shf FROM tok "
    " WHERE h NOT IN (SELECT h FROM common) GROUP BY doc_id), "
    "sigs AS (SELECT doc_id, {mh} AS mh FROM filtered), "
    "banded AS (SELECT doc_id, j AS band_idx, "
    " md5(array_to_string(mh[j*4+1 : j*4+4], '-')) AS band_key "
    " FROM sigs CROSS JOIN range(0, 4) AS r(j)), "
    "widths AS (SELECT band_idx, band_key, COUNT(*) AS w FROM banded "
    " GROUP BY band_idx, band_key) "
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets, "
    " CAST(MAX(w) AS BIGINT) AS max_width, "
    " CAST(SUM(w * (w - 1) // 2) AS BIGINT) AS raw_uncapped, "
    " CAST(SUM(CASE WHEN w <= 100 THEN w * (w - 1) // 2 ELSE 0 END) "
    "  AS BIGINT) AS raw_cap100, "
    " CAST(SUM(CASE WHEN w <= 1000 THEN w * (w - 1) // 2 ELSE 0 END) "
    "  AS BIGINT) AS raw_cap1000 "
    "FROM widths"
)


@register(
    "x74_mining_cost_probe",
    _DUCK_PROBE.format(sh=_DUCK_SH_HASHES, mh=duck_minhash("shf")),
    "mine-pricing probe: exact raw LSH candidate-pair volume (uncapped "
    "and under max_band_width 100/1000) from one aggregation over the "
    "banded relation's width histogram -- no pairs generated; the "
    "planner-style pass that priced (and predicted) the 2M-doc rung's "
    "cap-1000 disk death before paying for it",
)
def x74_mining_probe(spark, sf_dir) -> DataFrame:
    return minhash_candidate_probe(t(spark, sf_dir, "documents"))


@register(
    "x08_dedup_simhash",
    f"SELECT doc_id, {duck_simhash()} AS simhash FROM documents",
    "32-bit SimHash signatures over whitespace tokens",
)
def x08_simhash(spark, sf_dir) -> DataFrame:
    return simhash_signatures(t(spark, sf_dir, "documents"))


# x09 metric oracle: ml MinHashLSH's hash family is not SQL-expressible,
# but its pair QUALITY is.  The entry's output is the exact word-3-gram
# Jaccard >= 0.5 pair relation (recomputed independently by DuckDB -- a
# real cross-engine check of the shingle/Jaccard arithmetic) plus two
# acceptance flags measured Spark-side and predicted TRUE by the oracle:
# recall_ok (ml found >= 80% of the true pairs; measured 100% at
# sf0.001/0.01/0.1, deterministic under the fixed seed) and precision_ok
# (ml pairs outside the true set <= max(1, 4% of it); measured 0 -- ml
# verifies candidates with the actual Jaccard on hashed-shingle sets, so
# extras can only come from rare HashingTF bucket collisions).
# The |len_a - len_b| size band in the pair join is a theorem, not a
# heuristic: J >= 0.5 forces 2*min(|A|,|B|) >= max(|A|,|B|).
#
# The acceptance corpus is the first X09_SLICE docs -- the ENTIRE sf0.01
# correctness-gate corpus (500 docs), so the driver row is a full-corpus
# check there.  The Spark-side exact reference is an INVERTED-INDEX
# equi-join (explode distinct shingles, join on the shingle, count shared
# per pair): pairs sharing zero shingles have J = 0 < 0.5, so restricting
# candidate generation to co-occurring pairs is exact, and the join cost
# tracks true shingle co-occurrence instead of |docs|^2 (the r6.0 bounded
# BNLJ form measured ~6 s at 500 docs; the index form ~1 s).  The slice
# still bounds the DuckDB twin, which stays a quadratic pair join
# (oracle-side only), and caps the worst case where one hot shingle's
# posting list would dominate the index join.
X09_SLICE = 500
#: x09's ml pair relation and inverted index.
_X09 = PersistSlot()
_X09_ORACLE = (
    f"WITH sh AS (SELECT doc_id, {duck_word_shingles('text', 3)} AS sh "
    f" FROM documents WHERE doc_id < {{slice}}), "
    "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    " len(list_intersect(a.sh, b.sh)) / "
    " len(list_distinct(list_concat(a.sh, b.sh))) AS j "
    " FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "  AND 2 * len(a.sh) >= len(b.sh) AND 2 * len(b.sh) >= len(a.sh)) "
    "SELECT doc_a, doc_b, round(j, 6) AS jaccard, "
    " TRUE AS recall_ok, TRUE AS precision_ok FROM p WHERE j >= 0.5"
)


@register(
    "x09_dedup_minhash_ml",
    _X09_ORACLE.format(slice=X09_SLICE),
    "scale-path MinHashLSH (ml approxSimilarityJoin), metric-oracled: "
    "exact word-3-gram Jaccard>=0.5 pairs cross-checked by DuckDB + "
    "measured pair recall/precision acceptance flags",
)
def x09_minhash_ml(spark, sf_dir) -> DataFrame:
    from pyspark.sql.window import Window

    _X09.evict()
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id") < X09_SLICE)
    # ml pair relation kept DISTRIBUTED end-to-end (pre-r10 this was a
    # driver collect + re-createDataFrame -- bounded by the slice but
    # still the anti-pattern); the total ml pair count the precision
    # flag needs rides in as a broadcast 1-row count join (the q07
    # merged-count pattern) instead of a driver-side len().  Persisted:
    # the returned plan references it twice (count + hits join), and
    # without the persist the OR-amplified approxSimilarityJoin -- the
    # operator's dominant cost -- would execute twice per
    # materialization.
    ml = _X09.hold(
        minhash_lsh_ml(docs, threshold=0.5).select("doc_a", "doc_b")
    )
    ml_n = ml.agg(F.count(F.lit(1)).cast("double").alias("__n_ml"))
    # inverted index: (doc, set size, shingle) exploded from the distinct
    # shingle array.  Self-joined on the shingle -> persist the skinny
    # relation (AQE never reuses exchanges across self-join sides).
    inv = _X09.hold(
        docs.select(
            "doc_id", F.expr(word_shingles_expr("text", 3)).alias("sh")
        ).select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("s")),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    a, b = inv.alias("a"), inv.alias("b")
    # J >= 0.5 forces the 2*min >= max size band (theorem), applied in the
    # join to prune pairs before the per-pair aggregate; c shared shingles
    # out of sets sized na/nb give J = c / (na + nb - c) exactly.
    exact = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (2 * F.col("a.n") >= F.col("b.n"))
            & (2 * F.col("b.n") >= F.col("a.n")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
            ).alias("j"),
        )
        .where(F.col("j") >= 0.5)
    )
    hits = ml.withColumn("__hit", F.lit(1))
    w = Window.partitionBy(F.lit(0))  # the <= |true pairs| surviving rows
    found = F.sum(F.coalesce(F.col("__hit"), F.lit(0))).over(w)
    n = F.count(F.lit(1)).over(w)
    return (
        exact.join(hits, ["doc_a", "doc_b"], "left")
        .crossJoin(F.broadcast(ml_n))
        .withColumn("recall_ok", found / n >= 0.8)
        .withColumn(
            "precision_ok",
            (F.col("__n_ml") - found) <= F.greatest(F.lit(1.0), 0.04 * n),
        )
        .select(
            "doc_a",
            "doc_b",
            F.round("j", 6).alias("jaccard"),
            "recall_ok",
            "precision_ok",
        )
    )


@register(
    "x34_dedup_rate_by_source",
    "WITH g AS (SELECT source, "
    " COUNT(*) OVER (PARTITION BY text) AS grp_n FROM documents) "
    "SELECT source, COUNT(*) AS n_docs, "
    " CAST(SUM(CASE WHEN grp_n > 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_dup_docs, "
    " round(SUM(CASE WHEN grp_n > 1 THEN 1 ELSE 0 END) "
    "  / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac "
    "FROM g GROUP BY source",
    "per-source duplicate exposure: fraction of each source's docs whose "
    "content appears more than once corpus-wide -- the diagnostic that "
    "tells you WHICH feed to fix, not just the global dup rate",
)
def x34_dedup_rate_by_source(spark, sf_dir) -> DataFrame:
    """Content-hash group sizes (one shuffle on the fixed-width sha256 key,
    never on raw text), re-grouped by source.  At 100 TB both shuffles
    carry skinny rows (hash, source); the text column never leaves the
    scan.  Window-over-hash rather than groupBy+join back: one shuffle
    fewer, and the partition key is uniform by construction."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents").select(
        "source", F.sha2(F.col("text"), 256).alias("content_hash")
    )
    g = d.withColumn(
        "grp_n", F.count(F.lit(1)).over(Window.partitionBy("content_hash"))
    )
    dup = F.when(F.col("grp_n") > 1, 1).otherwise(0)
    return g.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(dup).cast("long").alias("n_dup_docs"),
        F.round(
            F.sum(dup) / F.count(F.lit(1)).cast("double"), 6
        ).alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs an existing corpus snapshot
# ---------------------------------------------------------------------------


def incremental_dedup(
    batch: DataFrame,
    snapshot: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple = ("source",),
) -> DataFrame:
    """Documents of ``batch`` whose content does not already exist in
    ``snapshot`` -- the production shape of dedup at 100 TB: a corpus is
    built incrementally, and each ingest batch is deduplicated against the
    accumulated snapshot rather than re-deduplicating the world.

    Mechanics: both sides are reduced to a fixed-width sha256 content hash
    in the scan-stage projection (text never shuffles), the snapshot side
    is made distinct, and the batch anti-joins on the hash.  At scale the
    anti-join shuffles 64-byte keys; Spark's runtime bloom-filter join
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) additionally
    pushes a membership filter into the batch scan when the snapshot side
    is much smaller than the batch, and AQE broadcasts it outright when it
    fits.  The snapshot's hash column is exactly what a production system
    would store as its dedup index -- pass a pre-hashed relation with an
    ``h`` column to skip re-hashing the snapshot each ingest.
    """
    cols = [id_col, *keep_cols]
    bh = batch.select(*cols, F.sha2(F.col(text_col), 256).alias("h"))
    sh = (
        snapshot.select(F.sha2(F.col(text_col), 256).alias("h")).distinct()
        if "h" not in snapshot.columns
        else snapshot.select("h").distinct()
    )
    return bh.join(sh, "h", "left_anti").select(*cols)


@register(
    "x46_incremental_dedup",
    "SELECT d.doc_id, d.source FROM documents d "
    "WHERE d.doc_id % 2 = 1 AND NOT EXISTS ("
    " SELECT 1 FROM documents s WHERE s.doc_id % 2 = 0"
    " AND sha256(s.text) = sha256(d.text))",
    "incremental ingest dedup: new-batch docs anti-joined on content hash "
    "against the accumulated snapshot (the production dedup shape)",
)
def x46_incremental(spark, sf_dir) -> DataFrame:
    """Even doc_ids play the accumulated snapshot, odd ones the new ingest
    batch: a deterministic split so the oracle can reproduce it."""
    d = t(spark, sf_dir, "documents")
    return incremental_dedup(
        d.where(F.col("doc_id") % 2 == 1),
        d.where(F.col("doc_id") % 2 == 0),
    )


# ---------------------------------------------------------------------------
# span-level (sub-document) exact dedup -- C4/RefinedWeb-style
# ---------------------------------------------------------------------------


def span_hashes(
    df: DataFrame,
    span_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, h)`` -- one row per consecutive ``span_words``-word span,
    keyed by a 16-hex-char sha256 prefix of the span text.  The shared
    front half of the span-level operators (x40 dedup accounting, x44
    novelty): after this projection the document text is gone and every
    downstream shuffle moves fixed-width (id, hash) pairs only.

    Null text contributes no spans -- and must be filtered, not passed
    through: ``size(NULL)`` is -1, which makes the span-start
    ``sequence(1, -1, k)`` throw at runtime (found by the pathological-
    corpus sweep).

    The word split is MATERIALIZED in its own projection before the span
    lambda.  Referencing ``split(text)`` as an expression inside the
    lambda re-evaluates it once per span (higher-order functions are
    interpreted; common-subexpression elimination does not reach into
    them), which is quadratic in document length -- measured 36 s for one
    50k-word document vs <1 s with the bound column.

    spread: the span explode + per-span sha256 is the operator's CPU;
    on a narrower-than-cluster scan it would run on one core (guide
    §2.5 input skew) -- widen the skinny (id, text) projection first
    (no-op at real scale, where the scan exceeds the cluster)."""
    from ..plans.skew import spread

    words = spread(df.where(F.col(text_col).isNotNull())).select(
        id_col, F.split(F.col(text_col), " ").alias("__w")
    )
    w = F.col("__w")
    return words.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(w), F.lit(span_words)),
                lambda i: F.substring(
                    F.sha2(
                        F.array_join(F.slice(w, i, span_words), " "), 256
                    ),
                    1,
                    16,
                ),
            )
        ).alias("h"),
    )


def span_dedup_stats(
    df: DataFrame,
    span_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-span accounting: segment each document into
    consecutive ``span_words``-word spans, count every span's occurrences
    across the whole corpus, and report per document how many of its spans
    are globally duplicated (occur >= 2 times anywhere, including within
    the same document).  This is the sub-document twin of x05: exact dedup
    finds identical *documents*; span dedup finds boilerplate *inside*
    otherwise-distinct documents (the C4 "repeated three-sentence span"
    rule, re-expressed over fixed word windows since the corpus has no
    sentence boundaries).

    Scale design: the spans are keyed by a 16-hex-char prefix of the span's
    sha256 (fixed 16-byte-ish key, uniform by construction -- no skew), so
    the document text itself never shuffles: the exploded relation is
    (doc_id, hash16) pairs only.  Three skinny shuffles: span-count partial
    aggregation on the hash, hash-join of spans to counts on the same key,
    and the final per-doc re-aggregation.  At 100 TB each is a
    fixed-width-pair shuffle ~2 orders of magnitude smaller than the text.
    64-bit truncation keeps collision odds negligible below ~10^9 distinct
    spans per the birthday bound; widen the prefix for larger corpora.
    """
    spans = span_hashes(df, span_words, text_col, id_col)
    counts = spans.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    dup = F.when(F.col("c") >= 2, 1).otherwise(0)
    return (
        spans.join(counts, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(dup).cast("long").alias("n_dup_spans"),
        )
    )


@register(
    "x40_span_dedup",
    "WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents), "
    "spans AS ("
    " SELECT doc_id, substr(sha256(array_to_string(ws[i:i+7], ' ')), 1, 16)"
    "  AS h FROM w, UNNEST(range(1, len(ws)+1, 8)) AS t(i)), "
    "counts AS (SELECT h, COUNT(*) AS c FROM spans GROUP BY h) "
    "SELECT s.doc_id, COUNT(*) AS n_spans, "
    " CAST(SUM(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS n_dup_spans "
    "FROM spans s JOIN counts c ON s.h = c.h GROUP BY s.doc_id",
    "sub-document exact dedup: per-doc count of 8-word spans that recur "
    "anywhere in the corpus (C4-style boilerplate detection; text never "
    "shuffles -- only fixed-width span hashes)",
)
def x40_span_dedup(spark, sf_dir) -> DataFrame:
    return span_dedup_stats(t(spark, sf_dir, "documents"))


def span_novelty(
    df: DataFrame,
    span_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Marginal-novelty accounting: per document, how many of its word
    spans appear for the FIRST time in ingestion order (min doc id owning
    the span).  The curve of ``novel_spans / n_spans`` over ingestion
    order is the "how much new content does each batch actually add"
    diagnostic a growing corpus needs -- a feed whose novelty decays to
    zero is re-crawling what you already have, which x40's symmetric dup
    counts cannot distinguish from being duplicated *by* others.

    Same scale shape as :func:`span_dedup_stats`: text never shuffles,
    only (id, 16-hex hash) pairs; the first-owner table is one MIN
    partial aggregation on the uniform hash key.
    """
    spans = span_hashes(df, span_words, text_col, id_col)
    firsts = spans.groupBy("h").agg(F.min(id_col).alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col(id_col), 1).otherwise(0)
    return (
        spans.join(firsts, "h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(novel).cast("long").alias("novel_spans"),
        )
    )


@register(
    "x44_span_novelty",
    "WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents), "
    "spans AS ("
    " SELECT doc_id, substr(sha256(array_to_string(ws[i:i+7], ' ')), 1, 16)"
    "  AS h FROM w, UNNEST(range(1, len(ws)+1, 8)) AS t(i)), "
    "firsts AS (SELECT h, MIN(doc_id) AS first_doc FROM spans GROUP BY h) "
    "SELECT s.doc_id, COUNT(*) AS n_spans, "
    " CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)"
    "  AS BIGINT) AS novel_spans "
    "FROM spans s JOIN firsts f ON s.h = f.h GROUP BY s.doc_id",
    "marginal content novelty: per doc, spans first seen at this point of "
    "ingestion order (the is-this-feed-still-adding-anything diagnostic)",
)
def x44_span_novelty(spark, sf_dir) -> DataFrame:
    return span_novelty(t(spark, sf_dir, "documents"))


def span_scrub(
    df: DataFrame,
    span_words: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style boilerplate REMOVAL (x40 detects; this transforms): every
    ``span_words``-word span occurring >= ``min_count`` times corpus-wide
    is dropped from every document EXCEPT its first occurrence (lowest
    (doc id, span index) -- the C4 "retain one copy" rule), and the
    surviving spans rebuild the text.  Returns (id, span count, dropped
    count, clean text).

    spread: the span explode + sha256 and the rebuild's flatten/slice
    lambdas are per-row-heavy and ``words`` feeds both subtrees; widen
    the narrow scan once so neither runs single-task (no-op at real
    scale).

    Scale design: only fixed-width (id, span index, 16-hex hash) rows
    shuffle -- the drop decision travels back to each document as a
    skinny integer array, and the rebuild is a map-side slice/flatten
    over the document's own (materialized-once) word array.  First-owner
    selection is MIN over the single BIGINT encoding
    ``doc_id * 1e6 + span_idx`` (documents beyond a million spans are
    beyond this operator: chunk first), so no struct-ordering semantics
    are relied on cross-engine.
    """
    from ..plans.skew import spread

    words = spread(df.where(F.col(text_col).isNotNull())).select(
        id_col, F.split(F.col(text_col), " ").alias("__w")
    )
    w = F.col("__w")
    starts = F.sequence(F.lit(1), F.size(w), F.lit(span_words))
    spans = words.select(
        F.col(id_col),
        F.explode(starts).alias("__s"),
        "__w",
    ).select(
        id_col,
        F.expr(f"CAST((__s - 1) DIV {span_words} AS BIGINT)").alias("idx"),
        F.substring(
            F.sha2(
                F.array_join(
                    F.slice(w, F.col("__s"), span_words), " "
                ),
                256,
            ),
            1,
            16,
        ).alias("h"),
    )
    occ = F.col(id_col) * 1_000_000 + F.col("idx")
    counts = spans.groupBy("h").agg(
        F.count(F.lit(1)).alias("c"), F.min(occ).alias("fk")
    )
    drops = (
        spans.join(counts, "h")
        .where((F.col("c") >= min_count) & (occ != F.col("fk")))
        .groupBy(id_col)
        .agg(F.collect_list("idx").alias("__drop"))
    )
    rebuilt = words.join(drops, id_col, "left")
    kept = (
        f"filter(sequence(1, size(__w), {span_words}), "
        f"s -> __drop IS NULL OR NOT array_contains("
        f"__drop, CAST((s - 1) DIV {span_words} AS BIGINT)))"
    )
    return rebuilt.select(
        F.col(id_col),
        F.expr(
            f"CAST(size(sequence(1, size(__w), {span_words})) AS BIGINT)"
        ).alias("n_spans"),
        F.expr(
            "CAST(CASE WHEN __drop IS NULL THEN 0 ELSE size(__drop) END"
            " AS BIGINT)"
        ).alias("n_dropped"),
        F.expr(
            f"array_join(flatten(transform({kept}, "
            f"s -> slice(__w, s, {span_words}))), ' ')"
        ).alias("clean_text"),
    )


@register(
    "x61_span_scrub",
    "WITH w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM documents"
    "  WHERE text IS NOT NULL), "
    "sp AS (SELECT doc_id, CAST((i - 1) // 8 AS BIGINT) AS idx, "
    " substr(sha256(array_to_string(ws[i:i+7], ' ')), 1, 16) AS h "
    " FROM w, UNNEST(range(1, len(ws) + 1, 8)) AS t(i)), "
    "c AS (SELECT h, COUNT(*) AS c, MIN(doc_id * 1000000 + idx) AS fk"
    "  FROM sp GROUP BY h), "
    "drops AS (SELECT sp.doc_id, list(sp.idx) AS drop_idxs FROM sp"
    "  JOIN c USING (h)"
    "  WHERE c.c >= 2 AND sp.doc_id * 1000000 + sp.idx <> c.fk"
    "  GROUP BY sp.doc_id) "
    "SELECT w.doc_id, "
    " CAST(len(range(1, len(ws) + 1, 8)) AS BIGINT) AS n_spans, "
    " CAST(COALESCE(len(drop_idxs), 0) AS BIGINT) AS n_dropped, "
    " COALESCE(array_to_string(flatten(list_transform(list_filter("
    "  range(1, len(ws) + 1, 8), s -> drop_idxs IS NULL OR"
    "  NOT list_contains(drop_idxs, CAST((s - 1) // 8 AS BIGINT))),"
    "  s -> ws[s:s+7])), ' '), '') AS clean_text "
    "FROM w LEFT JOIN drops ON w.doc_id = drops.doc_id",
    "C4-style boilerplate removal: corpus-duplicated 8-word spans dropped "
    "from every document except the first occurrence, text rebuilt from "
    "surviving spans -- only fixed-width span rows ever shuffle",
)
def x61_scrub(spark, sf_dir) -> DataFrame:
    return span_scrub(t(spark, sf_dir, "documents"))


def source_overlap(
    df: DataFrame,
    span_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Pairwise content overlap BETWEEN sources: Jaccard similarity of
    each source pair's distinct span-hash sets.  The feed-level
    diagnostic behind x34's per-source dup exposure -- it answers not
    "which feed is duplicated" but "which feeds duplicate EACH OTHER"
    (mirror sites, syndication, re-crawls), which decides whether to drop
    a whole feed rather than dedup document by document.

    Scale shape: text dies in the span projection; the relation that
    shuffles is distinct (source, span-hash) pairs -- bounded by content
    volume, not document count -- and the pair join is keyed by the
    uniform hash.  Output is O(|sources|^2) rows, tiny by construction.

    The distinct span relation feeds three consumers (sizes, both
    self-join sides) and is deliberately not persisted: the A/B at sf0.1
    measured a persist as a net loss (1.5-1.9 s vs 0.8-1.4 s over four
    cleared-cache runs) -- the skinny relation re-derives cheaply from a
    fast scan, and the cache write + InMemoryTableScan read cost more
    than the two extra passes.
    """
    spans = span_hashes(
        df.select(F.col(source_col).alias("__src"), F.col(text_col)),
        span_words,
        text_col,
        "__src",
    ).distinct()
    sizes = spans.groupBy("__src").agg(F.count(F.lit(1)).alias("n"))
    a = spans.select(F.col("__src").alias("source_a"), "h")
    b = spans.select(F.col("__src").alias("source_b"), "h")
    inter = (
        a.join(b, "h")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("__src").alias("source_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("__src").alias("source_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a",
            "source_b",
            F.round(
                F.col("inter")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "x64_source_overlap",
    "WITH w AS (SELECT source, str_split(text, ' ') AS ws FROM documents"
    "  WHERE text IS NOT NULL), "
    "spans AS (SELECT DISTINCT source,"
    " substr(sha256(array_to_string(ws[i:i+7], ' ')), 1, 16) AS h"
    " FROM w, UNNEST(range(1, len(ws) + 1, 8)) AS t(i)), "
    "sizes AS (SELECT source, COUNT(*) AS n FROM spans GROUP BY source), "
    "inter AS (SELECT a.source AS source_a, b.source AS source_b,"
    " COUNT(*) AS i FROM spans a JOIN spans b"
    " ON a.h = b.h AND a.source < b.source GROUP BY 1, 2) "
    "SELECT source_a, source_b, "
    " round(i / (na.n + nb.n - i), 6) AS jaccard "
    "FROM inter JOIN sizes na ON source_a = na.source"
    " JOIN sizes nb ON source_b = nb.source",
    "pairwise source-overlap matrix: Jaccard of distinct span-hash sets "
    "between feeds (mirror/syndication detection; only skinny "
    "(source, hash) pairs shuffle)",
)
def x64_overlap(spark, sf_dir) -> DataFrame:
    return source_overlap(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# n-gram benchmark decontamination
# ---------------------------------------------------------------------------


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-corpus-document benchmark contamination by exact word ``n``-gram
    overlap -- the GPT-3-style decontamination check (13-grams there; the
    window is a parameter because the right n tracks document length), the
    lexical complement of the embedding-space check in
    ``simsearch.decontaminate``.  A training document sharing even one
    long exact n-gram with an eval benchmark leaks that benchmark.

    Returns ``(id_col, n_overlap, contaminated)``: the count of the
    document's DISTINCT n-grams that appear anywhere in the benchmark, and
    the boolean flag.  Every corpus document gets a row (zero-overlap
    documents included -- the output is a corpus filter, not a hit list).

    100 TB shape: a benchmark is small by construction (eval sets are
    thousands of documents), so its distinct-gram set is one
    ``F.broadcast`` relation; the corpus side explodes grams map-side,
    hash-joins against the broadcast in the scan stage, and the only
    shuffle is the skinny ``(doc_id, count)`` partial aggregate.  The
    left join back to the corpus id list rides the same doc_id
    partitioning.  Raw text never shuffles.
    """
    grams = F.expr(word_shingles_expr(text_col, n))
    bench_grams = (
        benchmark.select(F.explode(grams).alias("g")).distinct()
    )
    hits = (
        corpus.select(F.col(id_col), F.explode(grams).alias("g"))
        .join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# The registry entry holds out every 97th document as the stand-in
# benchmark (deterministic, present at all SFs) and decontaminates the
# rest of the corpus against it: replicas/near-dups of held-out docs are
# exactly what n-gram decontamination must catch.  n = 5 on this corpus
# (docs average 54 words): the measured sweet spot where overlap is
# dup-driven -- 1/2/20 contaminated docs at sf0.01/0.001/0.1 -- while
# n = 4 collapses into common-phrase noise (727 docs at sf0.1) and
# n >= 6 finds nothing at the sf0.01 gate.  Real 1000+-word web corpora
# want the GPT-3 n = 13; it's a parameter.
_X68_N = 5
_X68_ORACLE = (
    f"WITH bg AS (SELECT DISTINCT unnest({duck_word_shingles('text', _X68_N)}) "
    "   AS g FROM documents WHERE doc_id % 97 = 0), "
    f"cg AS (SELECT doc_id, unnest({duck_word_shingles('text', _X68_N)}) AS g "
    "   FROM documents WHERE doc_id % 97 <> 0), "
    "hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap "
    "   FROM cg JOIN bg USING (g) GROUP BY doc_id) "
    "SELECT d.doc_id, CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap, "
    " COALESCE(h.n_overlap, 0) > 0 AS contaminated "
    "FROM documents d LEFT JOIN hits h USING (doc_id) "
    "WHERE d.doc_id % 97 <> 0"
)


@register(
    "x68_ngram_decontaminate",
    _X68_ORACLE,
    "lexical benchmark decontamination: word 5-gram overlap of every "
    "corpus doc against the held-out benchmark slice (doc_id % 97); "
    "broadcast benchmark grams, one skinny (doc_id, count) shuffle",
)
def x68_ngram_decontaminate(spark, sf_dir) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return ngram_decontaminate(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
        n=_X68_N,
    )
