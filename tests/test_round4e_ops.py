"""Behavior + plan tests for the round-4 fifth-pass operators: semantic
dedup (x54), semantic contamination (x55), and truncated-vocab OOV scoring
(x56).  Oracle parity is covered by test_oracle.py's registry sweep; these
pin the semantics and the scale properties."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from conecta_spark.functions.quality import oov_stats
from conecta_spark.operators.simsearch import (
    semantic_contamination,
    semantic_dedup,
)
from conecta_spark.queries import _load_extensions

from .test_plans import node_count, plan, sf  # noqa: F401 (sf: fixture)

_load_extensions()


def _vecs(spark, rows):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v], label=lb)
         for i, v, lb in rows]
    )


# Orthogonal basis vectors in 64-dim: e_i has 1.0 at position i.
def _e(i, dim=64, scale=1.0):
    v = [0.0] * dim
    v[i] = scale
    return v


def _mix(i, j, a, b, dim=64):
    v = [0.0] * dim
    v[i] = a
    v[j] = b
    return v


# -- x54 semantic dedup ------------------------------------------------------


def test_semantic_dedup_flags_only_within_cell_cosine(spark):
    # Centroids are vec_id 0..7 (orthogonal axes) and are corpus members
    # themselves.  vec 9 and 10 land in cell 0, each ~0.89 cosine from the
    # seed (below the 0.9 threshold) but ~0.9998 from each other: only the
    # higher id is flagged.  vec 11 sits alone in cell 1 -> kept.
    rows = [(i, _e(i), 0) for i in range(8)]
    rows += [
        (9, _mix(0, 1, 1.0, 0.5), 0),
        (10, _mix(0, 1, 1.0, 0.52), 0),
        (11, _mix(1, 2, 1.0, 0.5), 0),
    ]
    out = {
        r.vec_id: (r.centroid_id, r.is_dup)
        for r in semantic_dedup(_vecs(spark, rows), k=8, threshold=0.9).collect()
    }
    assert out[9] == (0, 0)  # lower id in its cell: kept
    assert out[10] == (0, 1)  # near-parallel to 9, same cell: dup
    assert out[11] == (1, 0)  # alone near centroid 1: kept
    # the centroid seed vectors themselves are their own cells' keepers
    assert all(out[i] == (i, 0) for i in range(8))


def test_semantic_dedup_misses_cross_cell_pairs_by_design(spark):
    # Two near-identical vectors assigned to DIFFERENT cells are not
    # compared -- the documented SemDeDup recall trade.  Both stay ~0.74
    # cosine from their seeds (below the 0.8 threshold) but are 0.994 from
    # each other.
    rows = [(i, _e(i), 0) for i in range(8)]
    rows += [
        (20, _mix(0, 1, 1.0, 0.9), 0),   # cell 0 (dot 1.0 vs 0.9)
        (21, _mix(0, 1, 0.9, 1.0), 0),   # cell 1
    ]
    out = {
        r.vec_id: r.is_dup
        for r in semantic_dedup(_vecs(spark, rows), k=8, threshold=0.8).collect()
    }
    assert out[20] == 0 and out[21] == 0


def test_semantic_dedup_plan_no_cartesian(spark, sf):
    from conecta_spark.queries import REGISTRY

    p = plan(REGISTRY["x54_semantic_dedup"].fn(spark, sf))
    assert "CartesianProduct" not in p
    # the only broadcast nested loops are one-row broadcasts (the centroid
    # array, joined once per reference to the persisted assignment)
    assert node_count(p, "BroadcastNestedLoopJoin") <= 3


def test_semantic_dedup_fills_its_cache_with_the_sizing_count(
    spark, sf, spark_jobs
):
    """The block grid is sized by counting the held assignment, so that
    one count fills its cache.  The result's three reads of the relation
    then run no fill jobs of their own: sizing by the input's count left
    the cache empty and the collect ran 14 jobs instead of 7."""
    from conecta_spark.operators import simsearch
    from conecta_spark.queries import REGISTRY

    out = REGISTRY["x54_semantic_dedup"].fn(spark, sf)
    (_, held), = simsearch._SEMDEDUP._held
    cached = spark._jsparkSession.sharedState().cacheManager() \
        .lookupCachedData(held._jdf).get()
    assert cached.cachedRepresentation().cacheBuilder() \
        .isCachedColumnBuffersLoaded()
    with spark_jobs() as jobs:
        rows = out.collect()
    assert len(jobs) == 7
    assert (len(rows), sum(r.is_dup for r in rows)) == (500, 75)


# -- x55 semantic contamination ----------------------------------------------


def test_semantic_contamination_flags_paraphrase_neighbors(spark):
    rows = [
        (0, _e(0), 9),                     # benchmark vector
        (1, _e(1), 9),                     # benchmark vector
        (10, _mix(0, 2, 1.0, 0.1), 0),     # ~parallel to bench 0 -> hit
        (11, _e(3), 0),                    # orthogonal -> clean
    ]
    out = semantic_contamination(
        _vecs(spark, rows), bench_label=9, threshold=0.9
    ).collect()
    assert [(r.vec_id, r.bench_id) for r in out] == [(10, 0)]
    assert out[0].score > 0.99


def test_semantic_contamination_tie_breaks_to_lowest_bench_id(spark):
    rows = [
        (0, _e(0), 9),
        (1, _e(0), 9),           # identical benchmark vectors
        (10, _e(0), 0),          # equally close to both
    ]
    out = semantic_contamination(
        _vecs(spark, rows), bench_label=9, threshold=0.5
    ).collect()
    assert [(r.vec_id, r.bench_id) for r in out] == [(10, 0)]


def test_semantic_contamination_plan_zero_corpus_shuffle(spark, sf):
    # The corpus side must not shuffle: the only exchange feeds the
    # one-row benchmark aggregate that gets broadcast.
    from conecta_spark.queries import REGISTRY

    p = plan(REGISTRY["x55_semantic_contamination"].fn(spark, sf))
    assert "CartesianProduct" not in p
    assert node_count(p, "Exchange") <= 1


# -- x56 OOV-rate scoring ----------------------------------------------------


def test_oov_stats_counts_and_means(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="a a b"),
            Row(doc_id=1, text="a zz"),
        ]
    )
    # vocab_size=2 -> vocab is {a: 3, b: 1}; zz is OOV.
    out = {r.doc_id: r for r in oov_stats(docs, vocab_size=2).collect()}
    assert (out[0].n_tok, out[0].n_oov, out[0].invocab_c_sum) == (3, 0, 7)
    assert out[0].mean_invocab_df == 7 / 3
    assert (out[1].n_tok, out[1].n_oov, out[1].invocab_c_sum) == (2, 1, 3)
    assert out[1].mean_invocab_df == 3.0


def test_oov_stats_all_oov_doc_has_null_mean(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=0, text="x x x"), Row(doc_id=1, text="q")]
    )
    out = {r.doc_id: r for r in oov_stats(docs, vocab_size=1).collect()}
    assert out[1].n_oov == 1
    assert out[1].mean_invocab_df is None


def test_oov_plan_is_map_side_after_vocab(spark, sf):
    # One shuffle builds the vocabulary; the doc relation itself is
    # scored map-side (broadcast map, no exploded-token join back).
    from conecta_spark.queries import REGISTRY

    p = plan(REGISTRY["x56_oov_rate"].fn(spark, sf))
    assert "CartesianProduct" not in p
    # vocab partial agg + final agg exchange, plus the TakeOrdered, plus
    # the r12 spread() round-robin repartition of the narrow scan (input
    # widening, not a join-back); the exploded-token join-back shape this
    # guards against would add a hashpartitioning(w) exchange on top.
    assert node_count(p, "Exchange") <= 3


# -- x57 z-order layout ------------------------------------------------------


def test_zorder_expr_interleaves_known_values(spark):
    # 2 cols, 2 bits, ranges [0,3]: scaled value == input value.
    # Morton(x=2 (10b), y=1 (01b)) with bit p of key = bit p//2 of col p%2:
    # p0=x bit0=0, p1=y bit0=1, p2=x bit1=1, p3=y bit1=0 -> 0b0110 = 6.
    from conecta_spark.functions.zorder import duck_zorder, zorder_expr

    expr = zorder_expr(["x", "y"], [0, 0], [3, 3], bits=2)
    df = spark.createDataFrame([Row(x=2, y=1), Row(x=3, y=3), Row(x=0, y=0)])
    got = [r.z for r in df.select(F.expr(expr).alias("z")).collect()]
    assert got == [6, 15, 0]
    # the DuckDB twin computes the identical keys
    import duckdb

    dz = duck_zorder(["x", "y"], [0, 0], [3, 3], bits=2)
    duck = duckdb.connect().execute(
        f"SELECT {dz} AS z FROM (VALUES (2, 1), (3, 3), (0, 0)) t(x, y)"
    ).fetchall()
    assert [r[0] for r in duck] == got


def test_zorder_rejects_too_wide_keys():
    from conecta_spark.functions.zorder import zorder_expr

    import pytest as _pytest

    with _pytest.raises(ValueError, match="too wide"):
        zorder_expr(["a", "b"], [0, 0], [1, 1], bits=32)


def test_zorder_write_narrows_stats_for_both_columns(spark, sf, tmp_path_factory):
    """The z-ordered layout must narrow per-file min/max ranges for BOTH
    named columns, where a single-column clustering narrows only its own.

    Quantified as mean per-file (max-min) width over 8 output files:
    z-order must shrink the second column's width to under 70% of what the
    single-column layout leaves it (that layout leaves it ~the full
    domain), while keeping the first column's width well under the full
    domain too -- i.e. it does not simply sort by one column.
    """
    import os

    import pyarrow.parquet as pq

    from conecta_spark.queries import t
    from conecta_spark.sources.sinks import write_parquet

    li = t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")

    def mean_widths(path):
        widths = {"l_orderkey": [], "l_suppkey": []}
        for fname in os.listdir(path):
            if not fname.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, fname)).metadata
            sch = md.schema.to_arrow_schema()
            for col in widths:
                idx = sch.get_field_index(col)
                st = md.row_group(0).column(idx).statistics
                mn = min(
                    md.row_group(g).column(idx).statistics.min
                    for g in range(md.num_row_groups)
                )
                mx = max(
                    md.row_group(g).column(idx).statistics.max
                    for g in range(md.num_row_groups)
                )
                widths[col].append(mx - mn)
        return {c: sum(w) / len(w) for c, w in widths.items()}

    base = str(tmp_path_factory.mktemp("zorder") / "single")
    zpath = str(tmp_path_factory.mktemp("zorder") / "morton")
    write_parquet(li, base, target_files=8, cluster_by=("l_orderkey",))
    write_parquet(
        li, zpath, target_files=8, zorder_by=("l_orderkey", "l_suppkey")
    )
    bw, zw = mean_widths(base), mean_widths(zpath)
    domain = {
        "l_orderkey": li.agg(
            F.max("l_orderkey") - F.min("l_orderkey")
        ).collect()[0][0],
        "l_suppkey": li.agg(
            F.max("l_suppkey") - F.min("l_suppkey")
        ).collect()[0][0],
    }
    # single-column layout leaves the second column essentially unpruned
    assert bw["l_suppkey"] > 0.9 * domain["l_suppkey"]
    # z-order narrows BOTH dimensions
    assert zw["l_suppkey"] < 0.7 * bw["l_suppkey"]
    assert zw["l_orderkey"] < 0.7 * domain["l_orderkey"]


def test_morton_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from conecta_spark.functions.zorder import morton_decode, morton_key

    @given(
        st.lists(st.integers(min_value=0, max_value=(1 << 16) - 1),
                 min_size=1, max_size=3),
    )
    @settings(max_examples=200, deadline=None)
    def check(vals):
        key = morton_key(vals, 16)
        assert morton_decode(key, len(vals), 16) == vals
        assert 0 <= key < (1 << (16 * len(vals)))

    check()


def test_zorder_expr_matches_python_reference(spark):
    from conecta_spark.functions.zorder import morton_key, zorder_expr

    rows = [Row(x=i * 37 % 256, y=i * 91 % 256) for i in range(40)]
    df = spark.createDataFrame(rows)
    expr = zorder_expr(["x", "y"], [0, 0], [255, 255], bits=8)
    got = [r.z for r in df.select(F.expr(expr).alias("z")).collect()]
    want = [morton_key([r.x, r.y], 8) for r in rows]
    assert got == want


# -- x58 batched multi-query kNN ---------------------------------------------


def test_batch_knn_scores_all_queries_one_pass(spark):
    from conecta_spark.operators.simsearch import batch_knn

    rows = [(i, _e(i), 0) for i in range(3)]          # queries 0, 1, 2
    rows += [
        (10, _mix(0, 1, 1.0, 0.2), 0),   # closest to q0
        (11, _mix(1, 0, 1.0, 0.2), 0),   # closest to q1
        (12, _mix(2, 0, 1.0, 0.2), 0),   # closest to q2
    ]
    out = batch_knn(_vecs(spark, rows), query_ids=[0, 1, 2], k=1).collect()
    best = {r.query_id: r.vec_id for r in out}
    assert best == {0: 10, 1: 11, 2: 12}
    assert all(r.rank == 1 for r in out)


def test_batch_knn_excludes_self_only(spark):
    from conecta_spark.operators.simsearch import batch_knn

    # q0 and q1 are identical vectors: each must surface the OTHER at
    # rank 1 (cosine 1.0) but never itself.
    rows = [(0, _e(0), 0), (1, _e(0), 0), (10, _mix(0, 1, 1.0, 1.0), 0)]
    out = batch_knn(_vecs(spark, rows), query_ids=[0, 1], k=2).collect()
    got = {(r.query_id, r.rank): r.vec_id for r in out}
    assert got[(0, 1)] == 1 and got[(1, 1)] == 0
    assert got[(0, 2)] == 10 and got[(1, 2)] == 10


def test_batch_knn_tie_break_survives_partitioning(spark):
    from conecta_spark.operators.simsearch import batch_knn

    # 40 corpus vectors IDENTICAL to the query, spread over many
    # partitions: global top-3 must be the 3 lowest ids, regardless of
    # which partition emitted which local candidate.
    rows = [(0, _e(0), 0)] + [(i, _e(0), 0) for i in range(10, 50)]
    df = _vecs(spark, rows).repartition(8)
    out = batch_knn(df, query_ids=[0], k=3).collect()
    assert [r.vec_id for r in sorted(out, key=lambda r: r.rank)] == [10, 11, 12]
    assert all(r.score == 1.0 for r in out)


# -- x59 passage chunking ----------------------------------------------------


def test_passage_chunks_overlap_and_clamp(spark):
    from conecta_spark.functions.text import passage_chunks

    text = " ".join(f"w{i}" for i in range(100))
    docs = spark.createDataFrame([Row(doc_id=0, text=text), Row(doc_id=1, text="a b")])
    out = passage_chunks(docs, chunk_tokens=64, stride=48).collect()
    by = {(r.doc_id, r.chunk_id): r for r in out}
    # doc 0: starts at tokens 0, 48, 96 -> 3 chunks
    assert sorted(k for k in by if k[0] == 0) == [(0, 0), (0, 1), (0, 2)]
    assert by[(0, 0)].n_chunk_tokens == 64
    assert by[(0, 0)].chunk_text.startswith("w0 w1 ")
    # overlap: chunk 1 begins 16 tokens before chunk 0 ends
    assert by[(0, 1)].chunk_text.split()[0] == "w48"
    # final chunk clamps at the document end
    assert by[(0, 2)].n_chunk_tokens == 4
    assert by[(0, 2)].chunk_text == "w96 w97 w98 w99"
    # short doc: exactly one whole-text chunk
    assert by[(1, 0)].n_chunk_tokens == 2 and by[(1, 0)].chunk_text == "a b"


def test_passage_chunks_zero_shuffle(spark, sf):
    from conecta_spark.queries import REGISTRY

    p = plan(REGISTRY["x59_passage_chunks"].fn(spark, sf))
    assert node_count(p, "Exchange") == 0


# -- sketch mergeability (the property sketch rollups rely on) ---------------


def test_hll_hourly_sketches_merge_to_exact_daily_registers(spark, sf):
    """approx-distinct rollups at scale work by MERGING sub-aggregate
    sketches, never re-scanning raw data.  That is only sound if union of
    hourly sketches equals the sketch built directly from the day's rows:
    HLL registers combine by max, so the merged and direct registers are
    identical and the estimates must match EXACTLY, per day."""
    from conecta_spark.queries import t

    e = t(spark, sf, "events").select(
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("hour", "ts").alias("h"),
        "user_id",
    )
    hourly = e.groupBy("d", "h").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk")
    )
    merged = hourly.groupBy("d").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    direct = e.groupBy("d").agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias("est")
    )
    m = {r.d: r.est for r in merged.collect()}
    dct = {r.d: r.est for r in direct.collect()}
    assert m == dct and len(m) > 1


# -- x60 source-disjoint split -----------------------------------------------


def test_source_split_never_straddles_a_source(spark):
    from conecta_spark.functions.sampling import source_disjoint_split

    docs = spark.createDataFrame(
        [Row(doc_id=i, source=f"feed{i % 7}") for i in range(70)]
    )
    out = source_disjoint_split(docs).collect()
    by_source = {}
    for r in out:
        by_source.setdefault(r.source, set()).add(r.split)
    assert all(len(s) == 1 for s in by_source.values())


def test_source_split_distribution_over_many_sources(spark):
    from conecta_spark.functions.sampling import source_disjoint_split

    docs = spark.createDataFrame(
        [Row(doc_id=i, source=f"publisher-{i}") for i in range(1000)]
    )
    counts = {
        r.split: r.c
        for r in source_disjoint_split(docs)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    # 80/10/10 within generous hash-variance bounds
    assert 700 < counts["train"] < 900
    assert 40 < counts["val"] < 180
    assert 40 < counts["test"] < 180


# -- x61 span scrub ----------------------------------------------------------


def test_span_scrub_keeps_first_occurrence_drops_rest(spark):
    from conecta_spark.operators.dedup import span_scrub

    span = " ".join(f"b{i}" for i in range(8))          # the boilerplate
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(8))  # noqa: E731
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=span + " " + uniq("u")),   # first owner
            Row(doc_id=2, text=uniq("v") + " " + span),   # later copy
            Row(doc_id=3, text=span),                     # all boilerplate
            Row(doc_id=4, text=uniq("w")),                # untouched
        ]
    )
    out = {r.doc_id: r for r in span_scrub(docs).collect()}
    assert out[1].n_dropped == 0 and out[1].clean_text.startswith("b0 ")
    assert out[2].n_dropped == 1 and out[2].clean_text == uniq("v")
    assert out[3].n_dropped == 1 and out[3].clean_text == ""
    assert out[4].n_dropped == 0 and out[4].clean_text == uniq("w")
    assert all(out[i].n_spans == (2 if i in (1, 2) else 1) for i in out)


def test_span_scrub_text_never_shuffles(spark, sf):
    # Every Exchange in the plan must carry only skinny columns -- the
    # document text (and its word array) stay out of all shuffles.
    from conecta_spark.queries import REGISTRY

    p = plan(REGISTRY["x61_span_scrub"].fn(spark, sf))
    import re

    for m in re.finditer(r"^\(\d+\) Exchange\b.*\n((?:.+\n)*?)\n", p, re.M):
        block = m.group(0)
        assert "text" not in block.split("Arguments")[-1] or "__w" not in block


# -- x62 heavy hitters -------------------------------------------------------


def test_heavy_hitters_exact_counts_and_threshold(spark):
    from conecta_spark.functions.text import heavy_hitters

    # 'a' x 10, 'b' x 5, 'c' x 1 over 16 tokens; k=4 -> threshold 4
    docs = spark.createDataFrame(
        [Row(doc_id=0, text=" ".join(["a"] * 10 + ["b"] * 5 + ["c"]))]
    )
    out = {r.w: r.c for r in heavy_hitters(docs, k=4).collect()}
    assert out == {"a": 10, "b": 5}


def test_heavy_hitters_candidate_superset_across_partitions(spark):
    from conecta_spark.functions.text import heavy_hitters

    # A token that is LOCALLY rare in every partition but globally heavy
    # cannot exist (pigeonhole); conversely a token locally heavy in one
    # partition but globally light must be filtered by the exact recount.
    rows = [Row(doc_id=i, text="common " * 20 + f"rare{i}") for i in range(40)]
    docs = spark.createDataFrame(rows).repartition(8)
    out = {r.w: r.c for r in heavy_hitters(docs, k=3).collect()}
    assert set(out) == {"common"}
    assert out["common"] == 800


# -- x63 per-source quality normalization ------------------------------------


def test_source_quality_norm_recenters_each_feed(spark):
    from conecta_spark.functions.quality import source_quality_norm

    # Feed A: systematically longer (higher-quality-scoring) docs than
    # feed B.  After normalization, each feed's z-scores center on 0, so
    # one threshold treats both feeds alike.
    docs = spark.createDataFrame(
        [Row(doc_id=i, source="A", text="the and for " * (20 + i)) for i in range(6)]
        + [Row(doc_id=100 + i, source="B", text="word " * (2 + i)) for i in range(6)]
    )
    out = source_quality_norm(docs).collect()
    for src in ("A", "B"):
        zs = [r.z_quality for r in out if r.source == src]
        assert abs(sum(zs)) < 1e-3          # centered
        assert max(zs) > 0 > min(zs)        # spread in both directions


def test_source_quality_norm_constant_feed_z_is_zero(spark):
    from conecta_spark.functions.quality import source_quality_norm

    docs = spark.createDataFrame(
        [Row(doc_id=i, source="C", text="same text every time") for i in range(4)]
    )
    out = source_quality_norm(docs).collect()
    assert all(r.z_quality == 0.0 for r in out)


# -- source overlap (library capability, test-proven) ------------------------


def test_source_overlap_finds_syndicating_feeds(spark):
    from conecta_spark.operators.dedup import source_overlap

    block = lambda tag: " ".join(f"{tag}{i}" for i in range(8))  # noqa: E731
    shared = block("s")
    docs = spark.createDataFrame(
        [
            # mirror and primary share half their spans
            Row(doc_id=1, source="primary", text=shared + " " + block("p")),
            Row(doc_id=2, source="mirror", text=shared + " " + block("m")),
            # independent feed shares nothing
            Row(doc_id=3, source="indie", text=block("x") + " " + block("y")),
        ]
    )
    out = {
        (r.source_a, r.source_b): r.jaccard
        for r in source_overlap(docs).collect()
    }
    # primary/mirror: 1 shared of 3 distinct spans -> 1/3
    assert out == {("mirror", "primary"): round(1 / 3, 6)}


def test_heavy_hitters_matches_exact_counter_property():
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    # pure-python twin of the guarantee: candidates from any partitioning
    # of the stream are a superset of the true heavy hitters
    @given(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e", "f"]),
            min_size=1, max_size=200,
        ),
        st.integers(min_value=2, max_value=8),   # k
        st.integers(min_value=1, max_value=5),   # number of partitions
    )
    @settings(max_examples=150, deadline=None)
    def check(tokens, k, parts):
        n = len(tokens)
        true_heavy = {w for w, c in Counter(tokens).items() if c * k >= n}
        chunks = [tokens[i::parts] for i in range(parts)]
        cands = set()
        for ch in chunks:
            cn = len(ch)
            cands |= {w for w, c in Counter(ch).items() if c * k >= cn}
        assert true_heavy <= cands

    check()


# -- plan pins for the newest operators --------------------------------------


def test_source_split_zero_shuffle(spark, sf):
    from conecta_spark.queries import REGISTRY

    p = plan(REGISTRY["x60_source_disjoint_split"].fn(spark, sf))
    assert node_count(p, "Exchange") == 0


def test_source_quality_norm_bounded_exchanges(spark, sf):
    # one source-keyed aggregate (partial + final) and the join back;
    # the text itself is scored in the scan projection
    from conecta_spark.queries import REGISTRY

    p = plan(REGISTRY["x63_source_quality_norm"].fn(spark, sf))
    assert "CartesianProduct" not in p
    assert node_count(p, "Exchange") <= 4


def test_heavy_hitters_no_vocabulary_wide_shuffle(spark, sf):
    # candidates broadcast back to the token scan: the only exchanges
    # feed the distinct over the bounded candidate set and the final
    # candidate-keyed count
    from conecta_spark.queries import REGISTRY

    p = plan(REGISTRY["x62_heavy_hitters"].fn(spark, sf))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert node_count(p, "Exchange") <= 3
