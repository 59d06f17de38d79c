"""Physical-plan assertions: the scale properties the engine promises
(pushdown, pruning, broadcast, partial aggregation, top-k) must be visible
in ``explain()`` output -- a correctness suite for the *plans*, not the rows.

These are the properties that decide whether a query that passes at sf0.01
still works at 100 TB (SURVEY 7.5): a scan that reads all columns, a join
that shuffles a fact table against a 25-row dim, or a global sort for a
top-10 would all pass row-level tests and then fall over at scale.
"""

from __future__ import annotations

import pytest

from conecta_spark.queries import REGISTRY, _load_extensions

_load_extensions()


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def node_count(p: str, name: str) -> int:
    """Count physical nodes in a formatted plan by their detail headers
    (``(4) Exchange``), not the tree rendering, to avoid double counting."""
    import re

    return len(re.findall(rf"^\(\d+\) {name}\b", p, flags=re.M))


@pytest.fixture(scope="module")
def sf(oracle_dir):
    return oracle_dir


def test_plans_artifact_is_current():
    """PLANS.md must be regenerated whenever the engine source moves
    (it shipped one commit stale in both r7 and r8 -- this is the
    mechanical round-end invariant the r8 verdict asked for, task 3).
    dump_plans.py records a fingerprint of conecta_spark/**/*.py at
    generation time; recompute it against the working tree."""
    import os
    import re
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import dump_plans

    with open(os.path.join(root, "PLANS.md")) as f:
        head = f.read(4096)
    m = re.search(r"Source fingerprint: `([0-9a-f]{64})`", head)
    assert m, "PLANS.md carries no source fingerprint -- regenerate it"
    assert m.group(1) == dump_plans.source_fingerprint(), (
        "engine source changed after PLANS.md was generated -- "
        "run `python dump_plans.py`"
    )


def test_projection_prunes_scan(spark, sf):
    """q02: the parquet scan must read only the 3 projected columns."""
    p = plan(REGISTRY["q02_projection"].fn(spark, sf))
    assert "ReadSchema" in p
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema
    assert "l_comment" not in read_schema
    # A full-width lineitem scan would include l_tax; the projection must not.
    assert "l_tax" not in read_schema


def test_range_filter_pushed_to_scan(spark, sf):
    """q03: partition bounds must reach the parquet reader as PushedFilters."""
    p = plan(REGISTRY["q03_bounded_interior"].fn(spark, sf))
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed, p
    assert "GreaterThanOrEqual(l_orderkey,100)" in pushed[0]
    assert "LessThan(l_orderkey,200)" in pushed[0]


def test_dim_joins_broadcast(spark, sf):
    """q13/q14: dims are broadcast -- the fact table is never shuffled for
    the join (no SortMergeJoin / ShuffledHashJoin)."""
    for name in ("q13_join_agg", "q14_three_way_join"):
        p = plan(REGISTRY[name].fn(spark, sf))
        assert "BroadcastHashJoin" in p, name
        assert "SortMergeJoin" not in p, name
        assert "ShuffledHashJoin" not in p, name


def test_min_max_probe_reads_footers_without_a_job(spark, sf, spark_jobs):
    """q05: the MIN/MAX metadata probe is answered from the parquet footers
    on the driver -- building it runs no Spark job, no data page is read --
    and equals the Spark aggregate over lineitem."""
    import os

    from pyspark.sql import functions as F

    with spark_jobs() as jobs:
        df = REGISTRY["q05_min_max_metadata"].fn(spark, sf)
    assert jobs == []
    want = spark.read.parquet(os.path.join(sf, "lineitem.parquet")).agg(
        F.min("l_orderkey").cast("long").alias("mn"),
        F.max("l_orderkey").cast("long").alias("mx"),
    )
    assert df.collect() == want.collect()


def test_groupby_has_partial_aggregation(spark, sf):
    """q12: map-side partial aggregation before the exchange (two
    HashAggregate nodes around one Exchange)."""
    p = plan(REGISTRY["q12_groupby_agg"].fn(spark, sf))
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_topk_is_take_ordered_not_global_sort(spark, sf):
    """q17: ORDER BY + LIMIT compiles to TakeOrderedAndProject (per-partition
    partial top-k), never a full global sort."""
    p = plan(REGISTRY["q17_orderby_topk"].fn(spark, sf))
    assert "TakeOrderedAndProject" in p


def test_exact_dedup_is_single_shuffle_partial_agg(spark, sf):
    """x05: content-hash dedup = one exchange with partial aggregation."""
    p = plan(REGISTRY["x05_dedup_exact"].fn(spark, sf))
    assert node_count(p, "Exchange") == 1
    assert node_count(p, "HashAggregate") == 2


def test_simsearch_topk_is_take_ordered_not_global_sort(spark, sf):
    """x10/x12: the top-k rank must come from sort-limit
    (TakeOrderedAndProject) over the scored relation, not a global
    row_number window (single-partition sort at scale).  The only Window
    allowed is the O(k) re-rank after the limit."""
    for name in ("x10_knn_cosine_topk", "x12_ann_lsh_topk"):
        p = plan(REGISTRY[name].fn(spark, sf))
        assert "TakeOrderedAndProject" in p, name


def test_knn_broadcasts_query_vector(spark, sf):
    """x10: the 1-row query vector is broadcast; the embeddings relation is
    scanned once with no shuffle before scoring."""
    p = plan(REGISTRY["x10_knn_cosine_topk"].fn(spark, sf))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_lsh_candidate_join_is_equi_join(spark, sf):
    """x07: the LSH band join must be a hash equi-join on (band_idx,
    band_key) -- a nested-loop/cartesian here would be quadratic at scale.
    The only nested-loop join allowed is the deliberate cross join against
    the broadcast ONE-ROW array of common shingles (per-row array_except,
    not a pair join)."""
    import re

    p = plan(REGISTRY["x07_dedup_minhash_lsh"].fn(spark, sf))
    assert "CartesianProduct" not in p
    for m in re.finditer(
        r"^\(\d+\) BroadcastNestedLoopJoin\n(?:.*\n){0,3}", p, flags=re.M
    ):
        assert "common_hs" in m.group(0), m.group(0)


def test_x73_incremental_candidates_driven_by_new_side(spark, sf):
    """x73: the incremental band join must (a) never cartesian, (b) keep
    the band join a hash equi-join (same rule as x07), and (c) restrict
    the driving side to the new batch with a BROADCAST semi-join on the
    new-id set -- the property that keeps corpus x corpus candidates from
    ever being generated at scale.  A shuffled semi-join here would mean
    the corpus-sized relation moves to meet a batch-sized id list."""
    import re

    p = plan(REGISTRY["x73_incremental_near_dup"].fn(spark, sf))
    assert "CartesianProduct" not in p
    for m in re.finditer(
        r"^\(\d+\) BroadcastNestedLoopJoin\n(?:.*\n){0,3}", p, flags=re.M
    ):
        assert "common_hs" in m.group(0), m.group(0)
    semi = re.findall(
        r"^\(\d+\) (\w+)(?=.*Join)(?:.*\n){0,4}?.*LeftSemi", p, flags=re.M
    )
    assert semi, "no semi-join on the new-id set in the plan"
    assert all(kind.startswith("Broadcast") for kind in semi), semi


def test_pii_redaction_is_pure_map(spark, sf):
    """x30: regex redaction is a pure per-row projection -- no
    aggregation/join exchange, no UDF; since r12 the only exchange is
    spread()'s deliberate round-robin input widening (the x69 pattern:
    the 3-pattern redaction ran single-task on a single-row-group
    scan)."""
    p = plan(REGISTRY["x30_pii_redaction"].fn(spark, sf))
    assert node_count(p, "Exchange") <= 1
    assert "hashpartitioning" not in p
    assert "Python" not in p  # JVM regexp, not a Python UDF


def test_contamination_never_shuffles_corpus(spark, sf):
    """x31: the only exchange aggregates the benchmark shingle set; the
    corpus relation joins it via a one-row broadcast, never a sort-merge
    or shuffled hash join."""
    p = plan(REGISTRY["x31_contamination"].fn(spark, sf))
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" not in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row bench_hs cross join


def test_scan_partition_count_scales(spark, sf):
    """Partitioned read honors the requested split count end-to-end."""
    from conecta_spark.io import read_sql

    df = read_sql(
        sf,
        "select * from lineitem",
        partition_on="l_orderkey",
        partition_num=8,
        spark=spark,
    )
    # One scan + a range filter; row-level invariant checked in test_read_sql.
    p = plan(df)
    assert "PushedFilters" in p


def test_explode_is_zero_shuffle_generate(spark, sf):
    """q41: generator expansion happens inside the scan stage -- no
    exchange, no Python worker."""
    p = plan(REGISTRY["q41_explode_tokens"].fn(spark, sf))
    assert node_count(p, "Exchange") == 0
    assert "Python" not in p


def test_top2_per_group_uses_window_group_limit(spark, sf):
    """q44: the rank filter must become per-partition top-n heaps
    (WindowGroupLimit), not a full sort of every group."""
    p = plan(REGISTRY["q44_top2_per_group"].fn(spark, sf))
    assert node_count(p, "WindowGroupLimit") >= 1


def test_grouping_sets_single_shuffle(spark, sf):
    """q40: the three grouping sets expand map-side into one aggregate --
    exactly one shuffle, with partial aggregation before it."""
    p = plan(REGISTRY["q40_grouping_sets"].fn(spark, sf))
    assert node_count(p, "Exchange") == 1
    assert "Expand" in p


def test_quantized_knn_zero_shuffle_topk(spark, sf):
    """x36: quantization + integer dot are map-side; the only wide op is
    the TakeOrdered top-k merge, and the 1-row query vector broadcasts."""
    p = plan(REGISTRY["x36_knn_int8_topk"].fn(spark, sf))
    assert node_count(p, "Exchange") == 0
    assert "TakeOrdered" in p
    assert "Python" not in p


def test_dup_rate_two_uniform_shuffles(spark, sf):
    """x34: exactly the hash-window shuffle + the per-source aggregate;
    no join, no Python, text never shuffled (only its sha256)."""
    p = plan(REGISTRY["x34_dedup_rate_by_source"].fn(spark, sf))
    assert node_count(p, "Exchange") == 2
    assert "Join" not in p
    assert "Python" not in p


def test_corpus_pipeline_two_shuffles_no_python(spark, sf):
    """x37: redaction + gating + sampling fuse into one map stage; only
    the dedup hash window and the per-lang aggregate shuffle by key.
    Since r12 spread() may add one deliberate round-robin exchange to
    widen the narrow scan feeding the gate's per-row regex work."""
    p = plan(REGISTRY["x37_corpus_pipeline"].fn(spark, sf))
    assert node_count(p, "Exchange") <= 3
    assert p.count("hashpartitioning") == 2
    assert "Python" not in p


def test_ann_metric_panel_broadcasts_and_never_cartesians(spark, sf):
    """x13/x14's exact-reference half: the 5-query panel joins the corpus
    as a BROADCAST nested loop (panel side is 5 rows), never a
    CartesianProduct, and the per-query ranking window partitions on
    query_id (no single-partition global window)."""
    from conecta_spark.operators.simsearch import _exact_topk_panel
    from conecta_spark.queries import t

    p = plan(_exact_topk_panel(t(spark, sf, "embeddings"), "l2"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_x09_exact_pairs_inverted_index(spark, sf):
    """x09's exact-reference half is an inverted-index EQUI-join on the
    exploded shingle (candidate generation bounded by true shingle
    co-occurrence, never |docs|^2); the per-pair intersection count is a
    hash/sort aggregate over the join output, not an array-intersect
    over enumerated pairs.  The ONE permitted nested-loop node is the
    broadcast 1-row ml-pair-count attach (the q07 1x1-row count-join
    class -- r10 replaced the driver collect+len() with it), which is
    O(rows) with a single-row build side; any other nested loop is a
    plan regression."""
    qd = REGISTRY["x09_dedup_minhash_ml"]
    df = qd.fn(spark, sf)
    p = plan(df)
    assert "CartesianProduct" not in p
    assert node_count(p, "BroadcastNestedLoopJoin") == 1
    bnlj = [
        ln
        for ln in p.splitlines()
        if "BroadcastNestedLoopJoin Cross" in ln
    ]
    assert bnlj, p
    assert "__n_ml" in p  # ...and it is the 1-row count relation
    assert "Join" in p  # the shingle equi-join survives optimization
    assert "Aggregate" in p  # per-pair shared-shingle count


def test_x68_decontam_broadcasts_benchmark_grams(spark, sf):
    """x68: the benchmark gram set joins as a BROADCAST hash join (eval
    sets are small by construction); no nested-loop operator anywhere and
    the only wide shuffles carry skinny (doc_id, count) rows."""
    p = plan(REGISTRY["x68_ngram_decontaminate"].fn(spark, sf))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastExchange" in p


def test_x69_repetition_is_zero_shuffle_map(spark, sf):
    """x69: the repetition signals are pure per-row expressions -- no
    aggregation/join exchange, no Python worker; since r12 the only
    exchange is spread()'s deliberate round-robin input widening (the
    x19 pattern: the gram-mass lambdas ran single-task on a
    single-row-group scan, 1.67 s -> ~0.3 s at sf0.1)."""
    p = plan(REGISTRY["x69_gopher_repetition"].fn(spark, sf))
    assert node_count(p, "Exchange") <= 1
    assert "hashpartitioning" not in p
    assert "Python" not in p


def test_x19_tokens_split_once_in_plan(spark, sf):
    """x19 staged in r7, mass-staged dual-backend in r9.  At the gate SF
    the auto probe picks the expr side (total chars under the cutover):
    one split, each mass lambda once, flag from computed columns; the
    only exchange is spread()'s deliberate round-robin; no Python
    worker.  The symbol counter must stay the translate() char-map --
    the regexp form alone cost 25.5 s of x19's 19.7 s SF10 row."""
    p = plan(REGISTRY["x19_gopher_quality"].fn(spark, sf))
    assert p.count("split(") == 1, p.count("split(")
    assert node_count(p, "Exchange") <= 1
    assert "Python" not in p
    assert "translate(" in p
    assert "regexp_extract_all" not in p
    assert p.count("aggregate(") == 2  # swl + top-count run scan, once each
    assert p.count("array_sort(") == 1


def test_x19_pandas_backend_is_one_arrow_stage(spark, sf):
    """The pandas mass backend (what auto picks past 500k total chars --
    every real corpus) must plan as exactly ONE Arrow-batched Python
    node with no extra exchange: masses in, shared fraction/flag
    expressions out."""
    from conecta_spark.functions.quality import with_gopher_signals
    from conecta_spark.queries import t as _t

    p = plan(
        with_gopher_signals(_t(spark, sf, "documents"), backend="pandas")
    )
    assert node_count(p, "ArrowEvalPython") == 1, p
    assert node_count(p, "Exchange") == 0
    assert node_count(p, "BatchEvalPython") == 0  # never row-at-a-time


def test_x03_lang_id_staged_single_split(spark, sf):
    """x03 staged in r7: the single-Column lang_id inlines the split into
    every hit count and CASE branch (24 split( nodes, 12 marker scans per
    row); the staged form is one split and one filter scan per language."""
    p = plan(REGISTRY["x03_lang_id"].fn(spark, sf))
    assert p.count("split(") == 1, p.count("split(")
    assert p.count("array_contains") == 4, p.count("array_contains")


def test_x69_tokens_split_once_in_plan(spark, sf):
    """The staged token projection must survive optimization: exactly one
    split() in the optimized plan.  If CollapseProject ever starts
    inlining it back into the four gram lambdas, every element access
    re-splits the document (measured 7x: 10.6s -> 1.5s at sf0.1).
    Likewise each gram-mass lambda must appear exactly ONCE: the flag
    derives from the computed signal columns, not from re-evaluating the
    mass expressions (8 -> 4 aggregate( nodes, late r7)."""
    p = plan(REGISTRY["x69_gopher_repetition"].fn(spark, sf))
    assert p.count("split(") == 1, p.count("split(")
    assert p.count("aggregate(") == 4, p.count("aggregate(")


def test_x77_store_is_scanned_not_recomputed(spark, sf):
    """x77: the corpus side of the candidate join must be a parquet SCAN
    of the persisted banded relation (skinny 3-column ReadSchema), with
    no CartesianProduct anywhere -- corpus signatures are read, never
    recomputed (the store's whole point)."""
    p = plan(REGISTRY["x77_stored_incremental_near_dup"].fn(spark, sf))
    banded_scans = [
        ln
        for ln in p.splitlines()
        if "ReadSchema" in ln and "band_key" in ln
    ]
    assert banded_scans, p
    assert all("sh" not in ln.split("ReadSchema")[1] for ln in banded_scans)
    assert "CartesianProduct" not in p
