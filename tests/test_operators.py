"""Behavioral tests for the extension operators: planted-duplicate recall,
ANN sanity, multimodal plumbing.  (Exact engine-parity is covered by
test_oracle.py; these prove the operators do their job.)"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from conecta_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_ml,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    simhash_signatures,
)
from conecta_spark.operators.simsearch import (
    ann_lsh_topk,
    brp_lsh_ml,
    embedding_near_dup_pairs,
    ivf_topk,
    knn_topk,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from conecta_spark.sources.parquet import load_parquet

    return load_parquet(spark, f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def planted(docs):
    """50 docs + a near-duplicate of each (one appended token), dup ids
    offset by 100000."""
    base = docs.limit(50).select("doc_id", "text", "lang")
    dup = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" qq")).alias("text"),
        "lang",
    )
    return base.unionAll(dup).cache()


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    from conecta_spark.sources.parquet import load_parquet

    return load_parquet(spark, f"{sf_dir}/embeddings.parquet").cache()


class TestDedup:
    def test_exact_dedup_collapses_copies(self, docs):
        doubled = docs.select("doc_id", "text").unionAll(
            docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
        )
        out = dedup_exact(doubled)
        assert out.count() == docs.count()
        assert out.where("n_dups <> 2").count() == 0
        # keeps the min id
        assert out.agg(F.max("keep_doc_id")).collect()[0][0] < 10_000_000

    def test_minhash_recall_on_planted(self, planted):
        pairs = minhash_lsh_pairs(planted, threshold=0.5)
        hits = pairs.where(F.col("doc_b") - F.col("doc_a") == 100000).count()
        assert hits >= 45  # 16-perm/4-band LSH: allow a few banding misses

    def test_minhash_no_false_positives_below_threshold(self, planted):
        pairs = minhash_lsh_pairs(planted, threshold=0.5)
        assert pairs.where("jaccard < 0.5").count() == 0

    def test_minhash_band_width_cap_semantics(self, spark):
        """max_band_width (r9 skew guard): buckets wider than the cap
        contribute NO candidates -- including exact-duplicate families,
        which legitimately share every band (so exact dedup must run
        first, the standard pipeline order); narrow buckets are
        untouched, so near-dup pairs outside the mega-family survive.
        Default None keeps the old semantics bit-for-bit."""
        from pyspark.sql import Row

        base = "korv flam drut seld plon quiv "
        rows = [
            Row(doc_id=i, text=base * 6, lang="en") for i in range(12)
        ]  # 12 exact clones: width-12 bucket in EVERY band
        rows += [
            Row(doc_id=100, text="zamp brix wolt gren " * 8, lang="en"),
            Row(
                doc_id=101,
                text="zamp brix wolt gren " * 8 + "xx",
                lang="en",
            ),  # a near-dup pair, width-2 buckets
        ]
        df = spark.createDataFrame(rows)
        capped = minhash_lsh_pairs(
            df, threshold=0.5, max_df=1.0, max_band_width=5
        ).collect()
        got = {(r.doc_a, r.doc_b) for r in capped}
        assert (100, 101) in got  # narrow bucket survives
        assert not any(a < 100 and b < 100 for a, b in got), got
        # default None: the clone family's pairs are all found
        # (max_df=1.0 disables the DF filter -- at 14 docs it would
        # otherwise strip every SHARED shingle, the documented tiny-corpus
        # behavior, and neither arm would band at all)
        full = minhash_lsh_pairs(df, threshold=0.5, max_df=1.0)
        assert full.where("doc_a < 100 AND doc_b < 100").count() == 66

    def test_ngram_jaccard_finds_planted(self, planted):
        pairs = ngram_jaccard_pairs(planted, threshold=0.8, k=3)
        hits = pairs.where(F.col("doc_b") - F.col("doc_a") == 100000).count()
        assert hits == 50  # brute force within blocks: exact recall

    def test_simhash_close_for_planted(self, planted):
        sigs = simhash_signatures(planted)
        a = sigs.where("doc_id < 100000").withColumnRenamed("simhash", "ha")
        b = sigs.where("doc_id >= 100000").select(
            (F.col("doc_id") - 100000).alias("doc_id"),
            F.col("simhash").alias("hb"),
        )
        ham = a.join(b, "doc_id").select(
            F.expr("bit_count(ha ^ hb)").alias("d")
        )
        med = ham.approxQuantile("d", [0.5], 0.0)[0]
        assert med <= 6  # near-dups land close in simhash space

    def test_simhash_pairs_on_doubled(self, docs):
        doubled = docs.limit(30).select("doc_id", "text").unionAll(
            docs.limit(30).select(
                (F.col("doc_id") + 500).alias("doc_id"), "text"
            )
        )
        pairs = simhash_near_dup_pairs(doubled, max_hamming=0)
        assert pairs.where(F.col("doc_b") - F.col("doc_a") == 500).count() == 30

    def test_shuffled_verify_path_matches_broadcast(self, planted):
        """broadcast_verify=False (the 100 TB path: shuffled hash join on
        doc_id) must produce byte-identical pairs to the broadcast path."""
        bc = minhash_lsh_pairs(planted, threshold=0.5, broadcast_verify=True)
        sh = minhash_lsh_pairs(planted, threshold=0.5, broadcast_verify=False)
        rows_bc = {(r.doc_a, r.doc_b, r.jaccard) for r in bc.collect()}
        rows_sh = {(r.doc_a, r.doc_b, r.jaccard) for r in sh.collect()}
        assert rows_bc == rows_sh and rows_bc
        # the shuffled plan must not broadcast the corpus-sized relation
        from tests.test_plans import plan

        p = plan(sh)
        assert "ShuffledHashJoin" in p

    def test_ngram_shuffled_verify_matches(self, planted):
        bc = ngram_jaccard_pairs(planted, threshold=0.8, k=3, broadcast_verify=True)
        sh = ngram_jaccard_pairs(planted, threshold=0.8, k=3, broadcast_verify=False)
        assert {tuple(r) for r in bc.collect()} == {
            tuple(r) for r in sh.collect()
        }

    def test_ml_lsh_agrees_with_exact(self, planted):
        exact = minhash_lsh_pairs(planted, threshold=0.5, k=5)
        ml = minhash_lsh_ml(planted, threshold=0.5)
        e = {(r.doc_a, r.doc_b) for r in exact.collect()}
        m = {(r.doc_a, r.doc_b) for r in ml.collect()}
        # ml path should recover most of what the exact path verified
        assert len(e & m) >= int(0.8 * len(e))


class TestSimsearch:
    def test_knn_returns_k_ranked(self, embeddings):
        out = knn_topk(embeddings, query_id=0, k=10).collect()
        assert len(out) == 10
        assert [r.rank for r in out] == list(range(1, 11))
        scores = [r.score for r in out]
        assert scores == sorted(scores, reverse=True)
        assert all(-1.0 <= s <= 1.0 for s in scores)

    def test_knn_self_similarity_excluded(self, embeddings):
        out = knn_topk(embeddings, query_id=0, k=10)
        assert out.where("vec_id = 0").count() == 0

    def test_near_dup_symmetric_bound(self, embeddings):
        pairs = embedding_near_dup_pairs(embeddings, threshold=0.9)
        bad = pairs.where("vec_a >= vec_b OR cosine > 1.0000001").count()
        assert bad == 0

    def test_near_dup_oversized_corpus_raises(self, spark):
        """Exact all-pairs is O(N^2): past the 256x1024-row cap the
        operator must refuse (pointing at the ANN successors) instead of
        silently building a quadratic grid; allow_full_grid=True is the
        explicit escape hatch (guard fires before any vector work, so
        the oversized corpus here is never materialized)."""
        import pytest
        from pyspark.sql import functions as F

        from conecta_spark.operators.simsearch import X11_FULL_GRID_CAP_ROWS

        big = spark.range(X11_FULL_GRID_CAP_ROWS + 1).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
        )
        with pytest.raises(ValueError, match="allow_full_grid") as err:
            embedding_near_dup_pairs(big, threshold=0.9)
        # the named successors exist
        assert "semantic_dedup" in str(err.value)
        # the cap itself stays allowed; the escape hatch skips the guard
        # (checked on a small corpus -- the guard is the only difference)
        small = big.limit(64)
        assert embedding_near_dup_pairs(
            small, threshold=0.9, allow_full_grid=True
        ).count() >= 0

    def test_near_dup_explicit_caller_stays_lazy(self, spark):
        """allow_full_grid=True + explicit n_blocks must not run ANY
        eager job during plan construction (r8 advice): the guard count
        only feeds adaptive block sizing, which an explicit caller
        overrides.  Poison the embedding column so any row evaluation
        raises -- construction succeeding proves no data was touched."""
        from pyspark.sql import functions as F

        from conecta_spark.operators.simsearch import (
            embedding_near_dup_pairs,
        )

        poisoned = spark.range(10).select(
            F.col("id").alias("vec_id"),
            F.array(
                F.assert_true(F.lit(False)).cast("double"), F.lit(0.0)
            ).alias("embedding"),
        )
        out = embedding_near_dup_pairs(
            poisoned, threshold=0.9, allow_full_grid=True, n_blocks=2
        )
        assert "cosine" in out.columns  # plan built, nothing executed

    def test_one_cell_semantic_dedup_flags_the_near_dup_pairs(
        self, embeddings
    ):
        """With one cell, semantic_dedup's within-cell pairs are all pairs:
        it flags exactly the higher ids of embedding_near_dup_pairs at the
        same threshold (both run the one block-matmul kernel)."""
        from conecta_spark.operators.simsearch import semantic_dedup

        flagged = {
            r.vec_id
            for r in semantic_dedup(embeddings, k=1, threshold=0.35)
            .where("is_dup = 1")
            .collect()
        }
        pairs = embedding_near_dup_pairs(embeddings, threshold=0.35)
        assert flagged and flagged == {r.vec_b for r in pairs.collect()}

    def test_knn_topk_is_the_cosine_panel_for_its_query(self, embeddings):
        """The single-query ranking and the per-query panel ranking over
        the one expression scorer agree: same ids, scores and ranks."""
        from conecta_spark.operators.simsearch import _exact_topk_panel

        single = [
            (r.vec_id, r.score, r.rank)
            for r in knn_topk(embeddings, query_id=0, k=10).collect()
        ]
        panel = sorted(
            (r.vec_id, r.score, r.rank)
            for r in _exact_topk_panel(embeddings, "cosine")
            .where("query_id = 0")
            .collect()
        )
        assert len(single) == 10
        assert sorted(single) == panel

    def test_ann_is_subset_of_bruteforce_space(self, embeddings):
        ann = ann_lsh_topk(embeddings, query_id=0, k=10).collect()
        assert 0 < len(ann) <= 10
        # every ANN hit's true cosine matches the brute-force score
        brute = {
            r.vec_id: r.score
            for r in knn_topk(embeddings, query_id=0, k=2000).collect()
        }
        for r in ann:
            assert abs(brute[r.vec_id] - r.score) < 1e-9

    def test_multiprobe_recall_on_planted_neighbors(self, spark, embeddings):
        """Multiprobe (probe_hamming=1) at planes=8 must recover >= 0.9 of
        planted true neighbors (cosine ~0.99 to the query).

        The fixture embeddings are centered noise -- the best 'neighbors'
        sit at cosine ~0.33, where per-plane sign agreement is only ~0.6 and
        no LSH setting reaches high recall without probing everything.
        Recall is therefore measured on planted near-duplicates of the
        query, the regime LSH exists for."""
        import math

        q = embeddings.where("vec_id = 0").collect()[0].embedding
        n = len(q)
        planted = []
        for i in range(1, 11):
            # deterministic small perturbation; keeps cosine ~0.99
            v = [
                q[j] + 0.02 * math.sin(i * 31 + j * 7) for j in range(n)
            ]
            planted.append((1_000_000 + i, v))
        base = embeddings.select("vec_id", "embedding")
        extra = spark.createDataFrame(
            planted, "vec_id long, embedding array<double>"
        )
        corpus = base.unionByName(extra.select("vec_id", "embedding"))
        got = {
            r.vec_id
            for r in ann_lsh_topk(
                corpus, query_id=0, k=10, planes=8, probe_hamming=1
            ).collect()
        }
        hits = len(got & {1_000_000 + i for i in range(1, 11)})
        assert hits >= 9, f"multiprobe recall {hits}/10"
        # single-bucket probing at planes=8 misses neighbors multiprobe gets
        got0 = {
            r.vec_id
            for r in ann_lsh_topk(
                corpus, query_id=0, k=10, planes=8, probe_hamming=0
            ).collect()
        }
        assert len(got0) <= len(got)

    def test_brp_ml_topk(self, embeddings):
        out = brp_lsh_ml(embeddings, query_id=0, k=10).collect()
        assert len(out) == 10
        dists = [r.l2_dist for r in out]
        assert dists == sorted(dists)

    def test_ivf_topk(self, embeddings):
        out = ivf_topk(embeddings, query_id=0, k=10).collect()
        assert len(out) == 10
        assert [r.rank for r in out] == list(range(1, 11))

    def test_ivf_index_reuse_matches_oneshot(self, embeddings):
        """build-once/search-many must return exactly what the one-shot
        form returns, for several queries, without refitting."""
        from conecta_spark.operators.simsearch import (
            build_ivf_index,
            ivf_search,
        )

        index = build_ivf_index(embeddings)
        try:
            for qid in (0, 7):
                reused = [tuple(r) for r in ivf_search(index, qid).collect()]
                oneshot = [
                    tuple(r) for r in ivf_topk(embeddings, query_id=qid).collect()
                ]
                assert reused == oneshot
        finally:
            index.unpersist()

    def test_brp_panel_matches_per_query(self, embeddings):
        """The shared-fit panel form must return exactly the per-query
        brp_lsh_ml neighbor lists (same seeded hyperplanes, same search
        dataset); absent panel ids are skipped."""
        from conecta_spark.operators.simsearch import (
            brp_lsh_ml,
            brp_lsh_ml_panel,
        )

        got = brp_lsh_ml_panel(embeddings, (0, 7, 10**9), k=10)
        assert set(got) == {0, 7}
        for qid in (0, 7):
            single = [
                r[0]
                for r in brp_lsh_ml(embeddings, query_id=qid, k=10)
                .select("vec_id")
                .collect()
            ]
            assert got[qid] == single

    def test_ivf_search_batch_matches_per_query(self, embeddings):
        """The one-job panel search must return exactly the per-query
        results: same candidates (a row lives in one cell, so the probe
        join cannot duplicate), same scores, same (score desc, id) ranks.
        Missing panel ids are skipped, not raised."""
        from conecta_spark.operators.simsearch import (
            build_ivf_index,
            ivf_search,
            ivf_search_batch,
        )

        index = build_ivf_index(embeddings)
        try:
            got: dict = {}
            for r in ivf_search_batch(
                index, (0, 7, 10**9), k=10, n_probe=8
            ).collect():
                got.setdefault(r.query_id, []).append(
                    (r.vec_id, r.score, r.rank)
                )
            assert set(got) == {0, 7}  # absent id skipped
            for qid in (0, 7):
                single = [
                    (r.vec_id, r.score, r.rank)
                    for r in ivf_search(index, qid, k=10, n_probe=8).collect()
                ]
                assert sorted(got[qid]) == sorted(single)
        finally:
            index.unpersist()

    def test_ivf_routing_ties_go_to_lower_cell(self, spark):
        """A query exactly equidistant from two centroids routes to the
        lower cell index, in assignment (n_probe = 1) and in the probe
        (n_probe = 2, after the strictly nearest cell)."""
        from conecta_spark.operators.simsearch import (
            IVFIndex,
            assign_cells,
            ivf_search_batch,
        )

        vecs = spark.createDataFrame(
            [(1, [0.0, 1.0])], "vec_id long, v array<double>"
        )
        # |q - c|^2 = 2 for cells 1 and 2, 145 for cell 0
        tie = [[9.0, 9.0], [1.0, 0.0], [-1.0, 0.0]]
        assert [r.cell for r in assign_cells(vecs, tie, "vec_id").collect()] == [1]

        # query 0 sits in cell 0 (distance^2 1); cells 1 and 2 tie at 5
        centers = [[0.0, 1.0], [1.0, 0.0], [-1.0, 0.0]]
        assigned = spark.createDataFrame(
            [(0, [0.0, 2.0], 0), (1, [1.0, 0.5], 1), (2, [-1.0, 0.5], 2)],
            "vec_id long, v array<double>, cell int",
        )
        got = ivf_search_batch(
            IVFIndex(assigned, centers, "vec_id"), [0], k=5, n_probe=2
        ).collect()
        assert [(r.query_id, r.vec_id, r.rank) for r in got] == [(0, 1, 1)]

    def test_ivf_search_batch_builds_without_jobs(self, embeddings, spark_jobs):
        """Building the panel search routes on the executors: no Spark job
        runs until the caller's action (no driver collect of the panel)."""
        from conecta_spark.operators.simsearch import (
            build_ivf_index,
            ivf_search_batch,
        )

        index = build_ivf_index(embeddings)
        try:
            with spark_jobs() as jobs:
                df = ivf_search_batch(index, (0, 7), k=10, n_probe=8)
            assert len(jobs) == 0
            assert {r.query_id for r in df.collect()} == {0, 7}
        finally:
            index.unpersist()

    def test_ivf_search_absent_id_raises(self, embeddings):
        from conecta_spark.operators.simsearch import (
            build_ivf_index,
            ivf_search,
        )

        index = build_ivf_index(embeddings)
        try:
            with pytest.raises(ValueError, match="not found"):
                ivf_search(index, 10**9)
        finally:
            index.unpersist()


class TestMultimodal:
    def test_payload_roundtrip(self, spark, docs):
        from conecta_spark.multimodal.ops import attach_payloads

        d = attach_payloads(docs.limit(20))
        row = d.select("text", "payload", "meta").first()
        assert bytes(row.payload).decode("utf-8") == row.text
        assert row.meta.n_bytes == len(bytes(row.payload))
        assert row.meta.modality == "text"

    def test_decode_images_shapes(self, spark, docs):
        from conecta_spark.multimodal.ops import attach_payloads, decode_images

        d = decode_images(attach_payloads(docs.limit(20)))
        rows = d.collect()
        assert len(rows) == 20
        for r in rows:
            assert r.n_pixels == r.width * r.height
            assert len(bytes(r.thumb)) == 16

    def test_decode_deterministic(self, spark, docs):
        from conecta_spark.multimodal.ops import attach_payloads, decode_images

        d = attach_payloads(docs.limit(10))
        a = sorted(map(tuple, decode_images(d).collect()))
        b = sorted(map(tuple, decode_images(d).collect()))
        assert a == b

    def test_frame_sampling_fanout(self, spark, docs):
        from conecta_spark.multimodal.ops import attach_payloads, sample_frames

        d = attach_payloads(docs.limit(5))
        frames = sample_frames(d, every_n_bytes=100, frame_bytes=32)
        joined = (
            frames.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_frames"))
            .join(d.select("doc_id", F.octet_length("payload").alias("nb")), "doc_id")
        )
        for r in joined.collect():
            assert r.n_frames == (r.nb + 99) // 100


class TestTemporalJoins:
    def _mk(self, spark, rows, cols):
        return spark.createDataFrame(rows, cols)

    def test_asof_picks_most_recent_prior(self, spark):
        from conecta_spark.operators.asof import asof_join

        left = self._mk(
            spark, [(1, 100, "e1"), (1, 250, "e2"), (2, 50, "e3")],
            "user_id long, tsu long, name string",
        )
        right = self._mk(
            spark, [(1, 90, 901), (1, 200, 902), (2, 60, 903)],
            "user_id long, tsu long, rid long",
        )
        out = {
            (r.user_id, r.tsu): (r.rid, r.tsu_matched)
            for r in asof_join(left, right, by="user_id",
                               right_cols=("rid",)).collect()
        }
        assert out[(1, 100)] == (901, 90)     # skips the later 200
        assert out[(1, 250)] == (902, 200)    # most recent prior
        assert out[(2, 50)] == (None, None)   # no prior right row kept as null

    def test_asof_inclusive_at_equal_ts(self, spark):
        from conecta_spark.operators.asof import asof_join

        left = self._mk(spark, [(1, 100, "e")], "user_id long, tsu long, name string")
        right = self._mk(spark, [(1, 100, 7)], "user_id long, tsu long, rid long")
        row = asof_join(left, right, by="user_id", right_cols=("rid",)).first()
        assert row.rid == 7 and row.tsu_matched == 100

    def test_interval_join_radius_boundary(self, spark):
        from conecta_spark.operators.asof import interval_join

        pts = self._mk(spark, [(1, 1000), (1, 5000)], "user_id long, tsu long")
        anchors = self._mk(
            spark, [(1, 1100), (1, 1101), (1, 2000), (2, 1000)],
            "user_id long, tsu long",
        )
        out = {
            (r.user_id, r.p_ts, r.a_ts)
            for r in interval_join(pts, anchors, by="user_id",
                                   radius_us=100).collect()
        }
        # exactly-at-radius is included; beyond is not; other users excluded
        assert (1, 1000, 1100) in out
        assert (1, 1000, 1101) not in out
        assert (1, 5000, 2000) not in out
        assert all(u == 1 for u, _, _ in out)


class TestClusterAndSampling:
    def test_connected_components_toy_graph(self, spark):
        from conecta_spark.operators.cluster import connected_components

        # two components: {1,2,3,4} (chain) and {10,11}; 99 absent
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"]
        )
        expect = {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}
        # small-graph (driver union-find) path
        got = {
            (r.doc_id, r.cluster_id)
            for r in connected_components(edges).collect()
        }
        assert got == expect
        # distributed label-propagation path, forced
        got_dist = {
            (r.doc_id, r.cluster_id)
            for r in connected_components(
                edges, small_graph_threshold=0
            ).collect()
        }
        assert got_dist == expect

    def test_connected_components_deep_graph_distributed(self, spark):
        """Deep structures through the forced label-propagation branch:
        the min(self, neighbors) seed resolves shallow components in one
        round, so this pins the MULTI-round path -- a 24-vertex chain
        whose minimum id sits at one END (worst case for min-label
        propagation: the label must traverse the full diameter, pointer
        jumping cuts that to O(log d) rounds) plus a cycle."""
        from conecta_spark.operators.cluster import connected_components

        # chain 100 > 99 > ... > 77, plus cycle {50, 51, 52}
        chain = [(100 - i, 100 - i - 1) for i in range(23)]
        cycle = [(50, 51), (51, 52), (52, 50)]
        edges = spark.createDataFrame(chain + cycle, ["doc_a", "doc_b"])
        got = {
            (r.doc_id, r.cluster_id)
            for r in connected_components(
                edges, small_graph_threshold=0
            ).collect()
        }
        expect = {(v, 77) for v in range(77, 101)} | {
            (50, 50), (51, 50), (52, 50)
        }
        assert got == expect

    def test_distributed_cc_with_reliable_checkpoint_dir(
        self, spark, tmp_path_factory
    ):
        """When a checkpoint dir is configured the loop must switch from
        localCheckpoint to reliable checkpoint() (executor-loss safety,
        r7 advice) and still converge to the identical fixpoint.  Uses
        the same worst-case chain as the deep-graph test so multiple
        checkpointed generations actually run."""
        from conecta_spark.operators.cluster import connected_components

        sc = spark.sparkContext
        assert sc.getCheckpointDir() is None  # suite default
        ckpt = str(tmp_path_factory.mktemp("cc_ckpt"))
        sc.setCheckpointDir(ckpt)
        try:
            chain = [(100 - i, 100 - i - 1) for i in range(23)]
            edges = spark.createDataFrame(chain, ["doc_a", "doc_b"])
            got = {
                (r.doc_id, r.cluster_id)
                for r in connected_components(
                    edges, small_graph_threshold=0
                ).collect()
            }
            assert got == {(v, 77) for v in range(77, 101)}
            import os

            # reliable snapshots actually landed on disk
            assert any(os.scandir(ckpt))
        finally:
            sc.setCheckpointDir(None)

    def test_dedup_clusters_contain_planted_dups(self, spark, docs):
        from conecta_spark.operators.cluster import dedup_clusters

        clusters = dedup_clusters(docs).collect()
        assert all(c.n_members >= 2 for c in clusters)
        # members sorted, canonical id is the minimum member
        for c in clusters:
            assert c.members == sorted(c.members)
            assert c.cluster_id == c.members[0]

    def test_deterministic_sample_stable_and_sized(self, spark, docs):
        from conecta_spark.functions.sampling import deterministic_sample

        a = sorted(r.doc_id for r in deterministic_sample(docs).select("doc_id").collect())
        b = sorted(
            r.doc_id
            for r in deterministic_sample(docs.repartition(7)).select("doc_id").collect()
        )
        assert a == b  # partitioning-independent
        n = docs.count()
        assert 0.02 * n <= len(a) <= 0.25 * n  # ~10% give-or-take hash noise

    def test_length_histogram_covers_all_docs(self, spark, docs):
        from conecta_spark.functions.sampling import length_histogram

        hist = length_histogram(docs).collect()
        assert sum(r.n_docs for r in hist) == docs.count()
        assert all(0 <= r.bucket <= 20 for r in hist)


class TestQuantization:
    def test_zero_vector_quantizes_to_zero(self, spark):
        from conecta_spark.operators.simsearch import quantize_stats

        df = spark.createDataFrame(
            [(1, [0.0] * 64), (2, [1.0] + [0.0] * 63)],
            "vec_id long, embedding array<double>",
        )
        rows = {r.vec_id: r for r in quantize_stats(df).collect()}
        z = rows[1]
        assert (z.q_scale, z.q_sum, z.q_min, z.q_max, z.n_sat) == (
            1.0, 0, 0, 0, 0,
        )
        u = rows[2]  # unit spike: scale 1/127, q = [127, 0, ...]
        assert (u.q_sum, u.q_min, u.q_max, u.n_sat) == (127, 0, 127, 1)

    def test_int8_topk_close_to_float_topk(self, spark, oracle_dir):
        """Quantization keeps ordering: the int8 top-10 must share most of
        the float top-10 (64-dim, int8 -> tiny quantization noise)."""
        from conecta_spark.operators.simsearch import knn_int8_topk, knn_topk
        from conecta_spark.queries import t

        emb = t(spark, oracle_dir, "embeddings")
        f = {r.vec_id for r in knn_topk(emb, query_id=0, k=10).collect()}
        q = {r.vec_id for r in knn_int8_topk(emb, query_id=0, k=10).collect()}
        assert len(f & q) >= 8


class TestAsofDirection:
    def test_invalid_direction_rejected(self, spark):
        from conecta_spark.operators.asof import asof_join

        df = spark.range(1).select(
            F.col("id").alias("k"), F.col("id").alias("tsu")
        )
        with pytest.raises(ValueError, match="direction"):
            asof_join(df, df, by="k", direction="sideways")

    def test_forward_picks_next_not_prev(self, spark):
        from conecta_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, 100, "e1")], "k long, tsu long, ev string")
        right = spark.createDataFrame(
            [(1, 50, 7), (1, 150, 9)], "k long, tsu long, val long"
        )
        fwd = asof_join(left, right, by="k", right_cols=("val",),
                        direction="forward").collect()[0]
        back = asof_join(left, right, by="k", right_cols=("val",),
                         direction="backward").collect()[0]
        assert (fwd.val, fwd.tsu_matched) == (9, 150)
        assert (back.val, back.tsu_matched) == (7, 50)


class TestQuantizationProperty:
    def test_reconstruction_error_bounded(self, spark):
        """|x - q*scale| <= scale/2 element-wise, q in [-127, 127] -- the
        defining properties of symmetric round-to-nearest int8, checked on
        a seeded random batch in one Spark job."""
        import numpy as np

        rng = np.random.default_rng(42)
        vecs = [(i, [float(x) for x in rng.normal(0, v, 64)])
                for i, v in enumerate([1e-3, 1.0, 50.0, 1e4], start=1)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        from conecta_spark.operators.simsearch import quantize_int8_expr

        rows = (
            df.selectExpr(
                "vec_id",
                "embedding",
                f"{quantize_int8_expr('embedding')} AS qv",
                "array_max(transform(embedding, x -> abs(x))) / 127.0D AS scale",
            )
            .collect()
        )
        for r in rows:
            assert all(-127 <= q <= 127 for q in r.qv)
            for x, q in zip(r.embedding, r.qv):
                assert abs(x - q * r.scale) <= r.scale / 2 + 1e-12


class TestNgramDecontaminate:
    """x68: lexical benchmark decontamination by exact word n-gram
    overlap (broadcast benchmark grams, skinny count shuffle)."""

    def _frames(self, spark):
        bench = spark.createDataFrame(
            [(1000, "the quick brown fox jumps over the lazy dog tonight")],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [
                # shares the full 10-word span -> many overlapping 5-grams
                (1, "prefix words the quick brown fox jumps over the lazy dog tonight"),
                # shares exactly one 5-gram window
                (2, "zzz quick brown fox jumps over yyy xxx www vvv"),
                # no overlap
                (3, "completely different content with no shared windows at all"),
            ],
            "doc_id long, text string",
        )
        return corpus, bench

    def test_planted_overlap_flags(self, spark):
        from conecta_spark.operators.dedup import ngram_decontaminate

        corpus, bench = self._frames(spark)
        out = {
            r.doc_id: (r.n_overlap, r.contaminated)
            for r in ngram_decontaminate(corpus, bench, n=5).collect()
        }
        assert out[1][1] and out[2][1] and not out[3][1]
        # doc 1 embeds the full benchmark text: every one of its 5-gram
        # windows over the shared 10-word span (6 of them) must count
        assert out[1][0] >= 6
        assert out[2][0] == 1
        assert out[3][0] == 0

    def test_every_corpus_doc_gets_a_row(self, spark):
        from conecta_spark.operators.dedup import ngram_decontaminate

        corpus, bench = self._frames(spark)
        assert ngram_decontaminate(corpus, bench, n=5).count() == 3

    def test_empty_benchmark_means_clean_corpus(self, spark):
        from conecta_spark.operators.dedup import ngram_decontaminate

        corpus, bench = self._frames(spark)
        out = ngram_decontaminate(
            corpus, bench.where("doc_id < 0"), n=5
        ).collect()
        assert len(out) == 3
        assert all(not r.contaminated and r.n_overlap == 0 for r in out)


class TestRepetitionSignals:
    """x69: Gopher repetition family -- hand-computed fractions on a
    constructed document, map-side-only plan pinned in test_plans."""

    def test_hand_computed_fractions(self, spark):
        from conecta_spark.functions.quality import with_repetition_signals

        # "ab cd ab cd ab cd xx": 2-grams = [ab cd, cd ab, ab cd, cd ab,
        # ab cd, cd xx] -> top 2-gram "ab cd" occurs 3x, len 5 -> mass 15.
        # len(text) = 20.
        text = "ab cd ab cd ab cd xx"
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        r = with_repetition_signals(df).collect()[0]
        assert r.top2_gram_char_frac == round(15 / 20, 6)
        # 3-grams: [ab cd ab, cd ab cd, ab cd ab, cd ab cd, ab cd xx]
        # -> top occurs 2x, len 8 -> 16/20
        assert r.top3_gram_char_frac == round(16 / 20, 6)
        # 5-grams: [ab cd ab cd ab, cd ab cd ab cd, ab cd ab cd xx]
        # -> none repeated -> dup mass 0
        assert r.dup5_gram_char_frac == 0.0
        assert not r.repetition_pass  # top2 0.75 >> 0.20

    def test_dup_gram_mass_counts_all_occurrences(self, spark):
        from conecta_spark.functions.quality import with_repetition_signals

        # 12 tokens = "a b c d e" * 2 + "x y": the 5-gram "a b c d e"
        # occurs twice (positions 1 and 6); dup mass = 2 * 9 = 18.
        text = "a b c d e a b c d e x y"
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        r = with_repetition_signals(df).collect()[0]
        assert r.dup5_gram_char_frac == round(18 / len(text), 6)

    def test_clean_doc_passes(self, spark):
        from conecta_spark.functions.quality import with_repetition_signals

        # long enough that a single unrepeated n-gram is a small char
        # fraction (Gopher thresholds assume real-document lengths; a
        # 12-word doc fails top2 at 0.20 on its longest bigram alone)
        text = " ".join(f"word{i:03d}" for i in range(60))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        r = with_repetition_signals(df).collect()[0]
        assert r.repetition_pass
        assert r.dup5_gram_char_frac == 0.0

    def test_short_docs_have_zero_mass(self, spark):
        """A doc shorter than n words has NO n-grams: mass 0, not a
        truncated whole-doc 'gram' (the r6 bug flagged every 1-2 word doc
        as repetitive with top2_gram_char_frac ~ 1.0)."""
        from conecta_spark.functions.quality import with_repetition_signals

        df = spark.createDataFrame(
            [(1, "hello"), (2, "")], "doc_id long, text string"
        )
        for be in ("expr", "pandas"):
            rows = {
                r.doc_id: r
                for r in with_repetition_signals(df, backend=be).collect()
            }
            for i in (1, 2):
                assert rows[i].top2_gram_char_frac == 0.0, be
                assert rows[i].dup5_gram_char_frac == 0.0, be
                assert rows[i].repetition_pass, be

    def test_backends_identical(self, spark, docs):
        """The Arrow-batched mass backend must be bit-identical to the
        SQL-lambda expressions: only integer masses cross the Python
        boundary; frac/round/flag arithmetic is shared Spark-side."""
        from conecta_spark.functions.quality import with_repetition_signals

        corpus = docs.select("doc_id", "text").limit(200)
        a = (
            with_repetition_signals(corpus, backend="expr")
            .drop("text").toPandas().sort_values("doc_id")
            .reset_index(drop=True)
        )
        b = (
            with_repetition_signals(corpus, backend="pandas")
            .drop("text").toPandas().sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert a.equals(b)

    def test_auto_picks_backend_by_doc_length(self, spark, docs):
        """auto = expr on a short-doc corpus (the interpreted lambdas win;
        plan carries the single staged split), pandas on long docs (the
        ArrowEvalPython node appears; measured 7.8x on 2000-word docs)."""
        from pyspark.sql import functions as F

        from conecta_spark.functions.quality import with_repetition_signals

        short = with_repetition_signals(
            docs.select("doc_id", "text"), backend="auto"
        )
        p = short._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in p

        long_docs = spark.range(20).select(
            F.col("id").alias("doc_id"),
            F.expr(
                "array_join(transform(sequence(1, 400), "
                "i -> concat('w', CAST(pmod(i * (id + 7), 64) AS INT))), ' ')"
            ).alias("text"),
        )
        lp = (
            with_repetition_signals(long_docs, backend="auto")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" in lp


def test_connected_components_small_path_raw_edges(spark):
    """The small-graph probe collects RAW pairs (no symmetrize/distinct
    pass): duplicate, self, and reversed edges must still produce the
    same fixpoint as the distributed branch."""
    from conecta_spark.operators.cluster import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (1, 2), (2, 1), (3, 3), (4, 3), (10, 11), (11, 10)],
        ["doc_a", "doc_b"],
    )
    expect = {(1, 1), (2, 1), (3, 3), (4, 3), (10, 10), (11, 10)}
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(edges).collect()
    }
    assert got == expect
    got_dist = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(
            edges, small_graph_threshold=0
        ).collect()
    }
    assert got_dist == expect
