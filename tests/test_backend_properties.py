"""Property-based parity for the r7 dual-backend operators.

The pandas backends exist because interpreted SQL lambdas lose 5-50x on
long strings; they are only safe if they are VALUE-IDENTICAL to the JVM
expressions on every input, including the whitespace corners where
Python and Java regex semantics diverge (Python ``\\s`` matches unicode
whitespace; Java's is ASCII) and the short-document boundary the r6 bug
lived on.  Hypothesis drives both backends over adversarial strings and
asserts exact frame equality.

Also pins the sample-trained IVF quantizer's determinism contract:
same (corpus, k, seed) -> bit-identical centroids and cell assignment,
independent of partition layout.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

# token characters skew toward repeats so n-gram runs actually occur;
# whitespace includes every ASCII class the SQL split matches, plus
# unicode spaces that Python's \s WOULD match and Java's does not --
# the divergence the pandas tokenizer must not introduce.
_WS = [" ", "\t", "\n", "\x0b", "\f", "\r", "  ", " \t "]
_UNICODE_WS = [" ", " "]
_token = st.text(alphabet="abA1.", min_size=1, max_size=4)


@st.composite
def _docs(draw):
    n = draw(st.integers(min_value=0, max_value=12))
    parts = []
    for _ in range(n):
        parts.append(draw(_token))
        parts.append(draw(st.sampled_from(_WS + _UNICODE_WS)))
    lead = draw(st.sampled_from(["", " ", "\t", " "]))
    return lead + "".join(parts)


class TestRepetitionBackendParity:
    @settings(max_examples=30, deadline=None)
    @given(texts=st.lists(
        st.one_of(st.none(), _docs()), min_size=1, max_size=8,
    ))
    def test_masses_identical_on_adversarial_whitespace(self, spark, texts):
        # None rows included: NULL text must yield NULL signals + NULL
        # flag in BOTH backends (the r7 divergence: pandas mapped None to
        # [] and emitted 0.0/pass=true while expr propagated NULL).
        from conecta_spark.functions.quality import with_repetition_signals

        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        cols = ["doc_id", "top2_gram_char_frac", "top3_gram_char_frac",
                "top4_gram_char_frac", "dup5_gram_char_frac",
                "repetition_pass"]
        a = sorted(
            map(tuple, with_repetition_signals(df, backend="expr")
                .select(cols).collect())
        )
        b = sorted(
            map(tuple, with_repetition_signals(df, backend="pandas")
                .select(cols).collect())
        )
        assert a == b


class TestSimhashBackendParity:
    @settings(max_examples=30, deadline=None)
    @given(texts=st.lists(
        st.one_of(st.none(), _docs()), min_size=1, max_size=8,
    ))
    def test_signatures_identical_on_adversarial_whitespace(
        self, spark, texts
    ):
        # The two traps this pins: Spark split() is Java split(regex, -1)
        # -- trailing empty tokens are KEPT, and dropping one flips
        # signature bits for odd token counts (the '' hash is 0, voting
        # -1 on every bit); and Spark trim() strips SPACES only, so a
        # leading tab must produce a leading empty token in both
        # backends.  None rows: NULL text -> simhash 0 in both (the
        # expr's per-bit IF(NULL > 0, ...) picks the 0 arm).
        from conecta_spark.operators.dedup import simhash_signatures

        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        a = sorted(map(tuple, simhash_signatures(df, backend="expr").collect()))
        b = sorted(map(tuple, simhash_signatures(df, backend="pandas").collect()))
        assert a == b


class TestGopherBackendParity:
    @settings(max_examples=30, deadline=None)
    @given(texts=st.lists(
        st.one_of(st.none(), _docs()), min_size=1, max_size=8,
    ))
    def test_signals_identical_on_adversarial_whitespace(self, spark, texts):
        """The r9 gopher mass backends must be bit-identical -- masses are
        integers and the fraction/flag arithmetic is shared, so ANY
        divergence is a tokenizer/symbol-class bug.  None rows included:
        NULL text must yield NULL signals + NULL flag in BOTH backends
        (the r8 repetition-family NULL unification, applied to gopher)."""
        from conecta_spark.functions.quality import with_gopher_signals

        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        a = sorted(
            map(tuple, with_gopher_signals(df, backend="expr").collect())
        )
        b = sorted(
            map(tuple, with_gopher_signals(df, backend="pandas").collect())
        )
        assert a == b


class TestGramLabelBackendParity:
    @settings(max_examples=20, deadline=None)
    @given(strings=st.lists(
        st.text(alphabet="abc1", min_size=7, max_size=24),
        min_size=1, max_size=6,
    ))
    def test_labeled_occurrences_identical(self, spark, strings):
        """The Arrow labeler must emit the exact (id, len, g, k) multiset
        of the JVM expression -- occurrence indices included (repeated
        grams are where positional schemes go wrong)."""
        from pyspark.sql import functions as F

        from conecta_spark.operators.stringsim import (
            _labeled_grams_expr,
            _labeled_occurrences_pandas,
        )

        df = spark.createDataFrame(
            list(enumerate(strings)), "id long, s string"
        ).withColumn("len", F.length("s"))
        expr_rows = sorted(
            map(tuple, df.select(
                "id", "len",
                F.explode(F.expr(_labeled_grams_expr("s", 2))).alias("gk"),
            ).select("id", "len", "gk.g", "gk.k").collect())
        )
        pdas_rows = sorted(
            map(tuple, _labeled_occurrences_pandas(df, 2).collect())
        )
        assert expr_rows == pdas_rows


class TestIVFQuantizerContract:
    def test_lloyd_deterministic_and_bounded(self):
        from conecta_spark.operators.simsearch import _lloyd_kmeans

        rng = np.random.RandomState(7)
        X = rng.randn(200, 8)
        a = _lloyd_kmeans(X, 16, seed=42)
        b = _lloyd_kmeans(X.copy(), 16, seed=42)
        assert np.array_equal(a, b)
        assert a.shape == (16, 8)
        # k > n clamps to n; single point is its own centroid
        tiny = _lloyd_kmeans(X[:3], 16, seed=42)
        assert tiny.shape == (3, 8)
        one = _lloyd_kmeans(X[:1], 4, seed=42)
        assert np.array_equal(one, X[:1])

    def test_empty_training_matrix_raises_descriptive(self):
        from conecta_spark.operators.simsearch import _lloyd_kmeans

        with pytest.raises(ValueError, match="empty training matrix"):
            _lloyd_kmeans(np.empty((0, 8)), 4, seed=1)

    def test_pathological_id_distribution_falls_back_to_limit(self, spark):
        """If every id hashes off the training bucket the sample is empty;
        the guard must fall back to a deterministic orderBy+limit sample
        instead of crashing _lloyd_kmeans with an opaque numpy error."""
        from pyspark.sql import functions as F

        from conecta_spark.operators import simsearch as ss

        cap, k = ss.IVF_TRAIN_CAP, 4
        # n just over the cap -> bucket modulus m = 2; pick ids whose
        # xxhash64 is ODD mod 2 so the bucket filter keeps nothing.
        ids = [
            r.id
            for r in spark.range(6 * cap)
            .where(F.pmod(F.xxhash64(F.col("id")), F.lit(2)) != 0)
            .limit(cap + 1)
            .collect()
        ]
        assert len(ids) == cap + 1
        df = spark.createDataFrame(
            [(i, [float(i % 7), float(i % 11)]) for i in ids],
            "vec_id long, embedding array<double>",
        )
        idx = ss.build_ivf_index(df, n_clusters=k)
        try:
            assert len(idx.centers) == k
            assert idx.assigned.count() == cap + 1
        finally:
            idx.unpersist()

    def test_duplicate_points_do_not_crash_and_cover(self):
        from conecta_spark.operators.simsearch import _lloyd_kmeans

        X = np.tile(np.arange(8, dtype=float), (50, 1))  # 50 identical
        C = _lloyd_kmeans(X, 4, seed=1)
        assert np.allclose(C, X[0])

    def test_panel_prep_cache_is_one_slot_evict_first(self, spark, sf_dir, oracle_dir):
        """The shared x13/x14 prep relation follows the repo-wide cache
        rule: at most ONE persisted copy lives at a time, the previous
        key's relation is unpersisted on a miss, and a hit returns the
        same DataFrame object (no re-scan)."""
        from conecta_spark.operators import simsearch as ss

        a = ss._panel_prep(spark, sf_dir)
        assert ss._panel_prep(spark, sf_dir) is a  # hit
        assert a.storageLevel.useMemory or a.storageLevel.useDisk
        b = ss._panel_prep(spark, oracle_dir)  # miss -> evict a
        assert b is not a
        assert not (a.storageLevel.useMemory or a.storageLevel.useDisk)
        assert len(ss._PANEL_PREP._held) == 1
        # clearCache staleness: a dropped cache entry must read as a MISS
        # (serving the unpersisted relation would re-scan per consumer)
        spark.catalog.clearCache()
        c = ss._panel_prep(spark, oracle_dir)
        assert c is not b
        assert c.storageLevel.useMemory or c.storageLevel.useDisk
        ss._PANEL_PREP.evict()

    def test_panel_prep_follows_rewritten_embeddings(self, spark, sf_dir, tmp_path):
        """The prep is keyed on the embeddings table's files, not its
        directory: a table rewritten in place within one session is a
        miss, and the prep holds the new rows."""
        import os
        import shutil

        import pyarrow.parquet as pq

        from conecta_spark.operators import simsearch as ss

        def n_valid(table):
            return sum(
                1
                for v in table.column("embedding").to_pylist()
                if v and all(x is not None and x == x for x in v)
            )

        src = os.path.join(sf_dir, "embeddings.parquet")
        dst = str(tmp_path / "embeddings.parquet")
        shutil.copyfile(src, dst)
        full = pq.read_table(src)
        try:
            assert ss._panel_prep(spark, str(tmp_path)).count() == n_valid(full)
            pq.write_table(full.slice(0, 100), dst)
            got = ss._panel_prep(spark, str(tmp_path)).count()
            assert got == n_valid(full.slice(0, 100)) < n_valid(full)
        finally:
            ss._PANEL_PREP.evict()

    def test_panel_prep_width_tracks_row_count(self, spark, sf_dir):
        """r12: the prep cache's partition count is derived from the
        corpus footer row count (ceil(rows / _PREP_ROWS_PER_PART), capped
        at cluster width), NOT blanket defaultParallelism -- the prep
        feeds iterative ML fits that pay every surplus partition once
        per iteration.  At testdata scale the derived width must be far
        below cluster width while still >= 1."""
        from conecta_spark.operators import simsearch as ss
        from conecta_spark.operators.minhash_store import footer_row_count

        rows = footer_row_count(spark, sf_dir, "embeddings")
        expect = max(1, min(
            spark.sparkContext.defaultParallelism,
            -(-rows // ss._PREP_ROWS_PER_PART),
        ))
        prep = ss._panel_prep(spark, sf_dir)
        try:
            assert prep.rdd.getNumPartitions() == expect
            if spark.sparkContext.defaultParallelism > 1:
                assert expect < spark.sparkContext.defaultParallelism
        finally:
            ss._PANEL_PREP.evict()

    def test_shared_pairs_cache_contract(self, spark, sf_dir):
        """shared_minhash_pairs: hit returns the same persisted DataFrame,
        a different (limit) key evicts the previous slot, clearCache reads
        as a miss, and values equal a direct un-cached mining pass."""
        from conecta_spark.operators import dedup as dd
        from conecta_spark.queries import t

        dd._PAIRS.evict()
        a = dd.shared_minhash_pairs(spark, sf_dir, threshold=0.5)
        assert dd.shared_minhash_pairs(spark, sf_dir, threshold=0.5) is a
        assert a.storageLevel.useMemory or a.storageLevel.useDisk
        direct = dd.minhash_lsh_pairs(
            t(spark, sf_dir, "documents"), threshold=0.5
        )
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, direct.collect())
        )
        b = dd.shared_minhash_pairs(spark, sf_dir, limit=100, threshold=0.5)
        assert b is not a
        assert not (a.storageLevel.useMemory or a.storageLevel.useDisk)
        assert len(dd._PAIRS._held) == 1
        spark.catalog.clearCache()
        c = dd.shared_minhash_pairs(spark, sf_dir, limit=100, threshold=0.5)
        assert c is not b  # stale entry re-mined, not served unpersisted
        assert c.storageLevel.useMemory or c.storageLevel.useDisk
        dd._PAIRS.evict()

    def test_shared_pairs_follow_a_rewritten_documents_table(
        self, spark, tmp_path, spark_jobs
    ):
        """A documents table rewritten in place inside one session is
        mined again: x07 returns the new table's pairs, not the ones the
        cache held for the same directory.  Unchanged files are a hit: the
        same held DataFrame, with no Spark job."""
        import random

        import pyarrow as pa
        import pyarrow.parquet as pq

        from conecta_spark.operators import dedup as dd
        from conecta_spark.queries import REGISTRY

        def write(texts):
            pq.write_table(
                pa.table({
                    "doc_id": pa.array(range(len(texts)), pa.int64()),
                    "text": texts,
                }),
                str(tmp_path / "documents.parquet"),
            )

        rng = random.Random(7)
        texts = [
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(300))
            for _ in range(40)
        ]
        x07 = REGISTRY["x07_dedup_minhash_lsh"].fn
        dd._PAIRS.evict()
        write(texts)
        assert x07(spark, str(tmp_path)).count() == 0
        write([texts[i // 2] for i in range(40)])  # doc 2k+1 repeats doc 2k
        fresh = x07(spark, str(tmp_path))
        assert sorted((r[0], r[1]) for r in fresh.collect()) == [
            (2 * k, 2 * k + 1) for k in range(20)
        ]
        with spark_jobs() as jobs:
            assert x07(spark, str(tmp_path)) is fresh
        assert jobs == []
        dd._PAIRS.evict()

    def test_shared_pairs_materialized_at_creation(self, spark, sf_dir):
        """The slot's relation must be EAGERLY materialized inside
        shared_minhash_pairs: a later key-switch eviction then only drops
        cached data (recomputable), never strands a persisted-but-never-
        computed lineage whose mining internals (MINING) the next call
        evicts too -- the silent band-self-join recompute the r8 advice
        flagged.  Cached partitions must exist BEFORE any caller action."""
        from conecta_spark.operators import dedup as dd

        dd._PAIRS.evict()
        a = dd.shared_minhash_pairs(spark, sf_dir, threshold=0.5)
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        cached = sum(i.numCachedPartitions() for i in infos)
        assert cached > 0, "pairs relation returned unmaterialized"
        dd._PAIRS.evict()

    def test_mining_internal_persists_are_slot_bounded(self, spark, sf_dir):
        """minhash_lsh_pairs' internal persisted relations (hashed
        shingles, banded keys, materialized candidates) must live in the
        MINING persist slot: a second mining call unpersists
        the first call's internals (the repo-wide cache-leak rule), so a
        long-lived session alternating corpora holds at most one mining
        pass worth of cache."""
        from conecta_spark.operators import dedup as dd
        from conecta_spark.queries import t

        dd._PAIRS.evict()
        dd.MINING.evict()
        first = dd.minhash_lsh_pairs(
            t(spark, sf_dir, "documents"), threshold=0.5
        )
        first.count()  # materialize: internals now cached
        old = [r for _, r in dd.MINING._held]
        assert len(old) == 3
        assert all(
            r.storageLevel.useMemory or r.storageLevel.useDisk for r in old
        )
        second = dd.minhash_lsh_pairs(
            t(spark, sf_dir, "documents").where("doc_id < 100"),
            threshold=0.5,
        )
        second.count()
        assert len(dd.MINING._held) == 3  # slot holds ONE pass, not two
        assert all(
            not (r.storageLevel.useMemory or r.storageLevel.useDisk)
            for r in old
        ), "previous invocation's internals must be unpersisted"
        dd.MINING.evict()

    def test_index_assignment_matches_exact_argmin(self, spark):
        """The distributed mapInPandas assignment must equal the exact
        driver-side argmin against the index's own centroids -- and be
        stable under repartitioning (the training sample is id-ordered,
        so partition layout must not leak into the centroids)."""
        from pyspark.sql import functions as F

        from conecta_spark.operators.simsearch import build_ivf_index

        rng = np.random.RandomState(3)
        rows = [(i, rng.randn(16).tolist()) for i in range(300)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        for layout in (df, df.repartition(13)):
            idx = build_ivf_index(layout, n_clusters=8)
            try:
                got = {r.vec_id: r.cell for r in idx.assigned.collect()}
                C = np.stack(idx.centers)
                for i, v in rows:
                    d = ((np.array(v)[None, :] - C) ** 2).sum(axis=1)
                    assert got[i] == int(d.argmin()), i
            finally:
                idx.unpersist()


# -- r9: z-order key vs a pure-Python bit-interleave model (verdict task 4)


_zcol = st.lists(
    st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
    min_size=1,
    max_size=12,
)


@given(a=_zcol, bits=st.integers(min_value=1, max_value=8))
@settings(max_examples=8, deadline=None)
def test_zorder_key_matches_bit_interleave_model(spark, a, bits):
    """zorder_expr must equal the reference Morton model: each column
    scaled to [0, 2^bits) by exact integer math (nulls clamp to the
    column min), output bit p = bit (p div n) of scaled column (p mod n).
    Two columns, the second a fixed affine twist of the row index so the
    interleave order genuinely matters."""
    from pyspark.sql import functions as F

    from conecta_spark.functions.zorder import zorder_expr

    rows = [
        (i, v, (7 * i - 3) % 23)
        for i, v in enumerate(a)
    ]
    cols = ["c1", "c2"]
    vals = {"c1": [r[1] for r in rows], "c2": [r[2] for r in rows]}
    mins, maxs = [], []
    for c in cols:
        present = [v for v in vals[c] if v is not None]
        mins.append(min(present) if present else 0)
        maxs.append(max(present) if present else 0)

    def scale(v, mn, mx):
        if mx <= mn:
            return 0
        top = (1 << bits) - 1
        vv = mn if v is None else v
        return (vv - mn) * top // (mx - mn)

    def model(r1, r2):
        s = [scale(r1, mins[0], maxs[0]), scale(r2, mins[1], maxs[1])]
        key = 0
        for p in range(2 * bits):
            key |= ((s[p % 2] >> (p // 2)) & 1) << p
        return key

    df = spark.createDataFrame(rows, "id long, c1 long, c2 long")
    got = {
        r.id: r.zkey
        for r in df.select(
            "id",
            F.expr(zorder_expr(cols, mins, maxs, bits)).alias("zkey"),
        ).collect()
    }
    assert got == {i: model(v1, v2) for i, v1, v2 in rows}


def test_backend_auto_probe_is_cached_per_plan(spark):
    """The auto-probe memo (r9): same (app, analyzed-plan) -> the scan
    stat is computed once and reused; the cache is consulted for the
    decision (observable: poisoning the cached value flips the chosen
    backend).  Safe by construction -- backends are value-identical, so
    a stale entry can only ever pick the slower side."""
    from conecta_spark.functions import quality as q

    df = spark.createDataFrame(
        [(i, "w " * 20) for i in range(50)], "doc_id long, text string"
    )
    q._PROBE_CACHE.clear()
    out1 = q.with_gopher_signals(df)  # tiny corpus -> expr
    assert "ArrowEvalPython" not in out1._jdf.queryExecution().toString()
    assert len(q._PROBE_CACHE) == 1
    key = next(iter(q._PROBE_CACHE))
    q._PROBE_CACHE[key] = 10**9  # poison: pretend a huge corpus
    out2 = q.with_gopher_signals(df)
    assert "ArrowEvalPython" in out2._jdf.queryExecution().toString()
    q._PROBE_CACHE.clear()
