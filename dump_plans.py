#!/usr/bin/env python
"""Regenerate PLANS.md: the formatted physical plans of the flagship
operators with a note on what each plan proves.  The properties are
pinned executably in tests/test_plans.py; this artifact exists so a
reviewer can read the actual plans without running anything.

Run: python dump_plans.py  (rewrites PLANS.md from the current code).
"""

from __future__ import annotations

import os
import re

SHOWCASE: list[tuple[str, str]] = [
    (
        "q02_projection",
        "Column pruning reaches the scan: ReadSchema lists only the three "
        "projected columns of lineitem's sixteen.",
    ),
    (
        "q03_bounded_interior",
        "The partition planner's bound predicates reach the parquet reader "
        "as PushedFilters -- a bounded partition read is a partial scan, "
        "not a post-filter.",
    ),
    (
        "q05_min_max_metadata",
        "The planner's MIN/MAX metadata probe is answered from the parquet "
        "footers' row-group statistics on the driver: no Spark job, no data "
        "page, so the plan is a one-row LocalTableScan.  The reference needs "
        "a Postgres index for the same effect.",
    ),
    (
        "q14_three_way_join",
        "Both dimension tables broadcast; the customer fact table is never "
        "shuffled for the join.",
    ),
    (
        "q44_top2_per_group",
        "Greatest-n-per-group plans as WindowGroupLimit: per-partition "
        "top-n heaps before the shuffle, not a full per-group sort.",
    ),
    (
        "x05_dedup_exact",
        "Exact dedup is one shuffle on the fixed-width sha256 hash with "
        "partial aggregation; text never rides the exchange.",
    ),
    (
        "x07_dedup_minhash_lsh",
        "The LSH pipeline: DF-filter aggregate, banded self-join over the "
        "persisted skinny band relation, size-gated exact-Jaccard verify. "
        "No CartesianProduct node anywhere.",
    ),
    (
        "x77_stored_incremental_near_dup",
        "Stored-incremental mining: the corpus side of the candidate join "
        "is a parquet SCAN of the persisted banded relation (ReadSchema = "
        "the three skinny band columns) driven by the batch's freshly "
        "banded rows; corpus signatures are read, never recomputed, and "
        "no CartesianProduct node appears.",
    ),
    (
        "x78_compacted_store_near_dup",
        "Compacted-store mining: after a compaction the corpus side is ONE "
        "generation-suffixed parquet relation (no per-batch dir union in "
        "the scan), still ReadSchema = the three skinny band columns, "
        "batch-driven candidates, no CartesianProduct node.",
    ),
    (
        "x10_knn_cosine_topk",
        "Brute-force kNN ranks via TakeOrderedAndProject: a k-row heap per "
        "partition merged on the driver, not a global sort.",
    ),
    (
        "x37_corpus_pipeline",
        "Gate, redaction, and sampling fuse into the scan stage; only the "
        "dedup hash and the per-lang aggregate shuffle.  Text leaves the "
        "scan exactly once.",
    ),
    (
        "x46_incremental_dedup",
        "Incremental ingest dedup is a broadcast (AQE, snapshot-side) "
        "LeftAnti hash join on the content hash; neither side's exchange "
        "carries text.",
    ),
    (
        "x47_sequence_pack",
        "Sequence packing is exactly one exchange (the per-(lang, shard) "
        "window); token counting happens in the scan projection.",
    ),
    (
        "x49_filtered_knn",
        "Filtered vector search: the documents side reads only id + "
        "predicate columns, survivor ids semi-join before any scoring, "
        "ranking stays TakeOrderedAndProject.",
    ),
    (
        "x51_skyline_orders",
        "Skyline via distributed sorted sweep: range-partitioned prefix "
        "scan with parallel __pid-partitioned windows and one tiny carry "
        "window; no CartesianProduct or nested-loop dominance join.",
    ),
    (
        "x54_semantic_dedup",
        "SemDeDup: one-row centroid broadcast for the map-side argmax, "
        "block-matmul pair scoring restricted to same-cell block pairs "
        "over the persisted assignment, skinny distinct of flagged ids.",
    ),
    (
        "x55_semantic_contamination",
        "Embedding decontamination: the corpus relation reaches the numpy "
        "scorer straight from the scan -- at most one exchange in the "
        "whole plan, and it is not on the corpus path.",
    ),
    (
        "x58_batch_knn",
        "Batched multi-query kNN: map-side local top-k per Arrow batch, "
        "then a WindowGroupLimit merge over candidate rows only -- "
        "shuffle volume independent of corpus size.",
    ),
    (
        "x59_passage_chunks",
        "RAG passage chunking: zero Exchange nodes -- the split "
        "materializes once, offsets explode map-side, slices stay in "
        "whole-stage codegen.",
    ),
    (
        "x50_keep_best_per_cluster",
        "Canonical-doc prune: per-cluster argmax is a HashAggregate with "
        "map-side partial combine (max(struct(q, -id)) + count), NOT a "
        "rank window -- a degenerate one-giant-cluster input cannot "
        "funnel a key through a single task.",
    ),
    (
        "x66_edit_distance_join_d2",
        "Edit-distance join at d=2: q-gram prefix-filter blocking is a "
        "pure equi-join on (gram, occurrence) labels with a broadcast "
        "gram-frequency table; short-string pool joins on exploded "
        "length keys; no CartesianProduct or BroadcastNestedLoopJoin "
        "anywhere; verify is bounded levenshtein on candidates only.  "
        "The InMemoryTableScan leaves are the persisted prefix-label "
        "relation (one cached copy per session -- each call evicts its "
        "predecessor's; r6) feeding both self-join sides; its pipeline "
        "-- gram labeling, broadcast frequency attach, per-string "
        "ranking window -- is visible in the cached-relation child "
        "plan and pinned by tests/test_stringsim.py.",
    ),
    (
        "x67_dedup_clusters_distributed",
        "Distributed connected components, one label-propagation round "
        "shown: the generation is an EAGER localCheckpoint, so the "
        "round's plan is a constant-size tree over two leaves (the "
        "symmetrized edge relation and the previous generation's "
        "snapshot) no matter how many rounds ran before it.  Without "
        "the checkpoint the round references the previous generation "
        "THREE times (self rows, labels-as-edges, join right side) and "
        "the un-truncated lineage grows 3^rounds copies of the upstream "
        "pipeline -- plan ANALYSIS, not execution, OOMed the driver at "
        "~5 rounds on a 24-vertex chain (r6).  Neighbor propagation and "
        "the pointer jump ride ONE shuffle join per round: the jump is "
        "propagation over synthetic (u -> label(u)) edges unioned into "
        "the edge relation map-side.  The convergence check is a "
        "filter-count over the just-materialized snapshot -- one job, "
        "zero extra joins.  The entry's corpus is a bounded slice "
        "(X67_SLICE): the branch under proof is the CC loop, not the "
        "pair mining x26 already covers at full scale.",
    ),
    (
        "x68_ngram_decontaminate",
        "Lexical benchmark decontamination: the benchmark side's gram "
        "set broadcasts; the corpus's grams never shuffle wide -- the "
        "only corpus-keyed exchange carries the skinny (doc_id, count) "
        "overlap aggregate.  No CartesianProduct or nested-loop join.",
    ),
    (
        "x11_embed_near_dup",
        "Exact all-pairs near-dup via block matmul: the packed block "
        "relation is persisted ONCE and feeds BOTH sides of the "
        "triangular block-pair grid as InMemoryTableScan leaves -- "
        "unpersisted, AQE re-ran the validity-filter/normalize/pack "
        "pipeline per grid side (the r7 exchange-reuse audit).  One "
        "numpy matmul per block pair inside Arrow-batched mapInPandas; "
        "no CartesianProduct.  Corpora past the 256x1024-row cap raise "
        "toward the ANN paths (r8 guard).",
    ),
    (
        "x63_source_quality_norm",
        "Per-source quality normalization: the quantized-score relation "
        "persists once and serves both its consumers (the per-source "
        "aggregate and the join back) as InMemoryTableScan leaves -- "
        "the r7 persist fix; nothing re-derives scores from text.",
    ),
    (
        "x64_source_overlap",
        "Cross-source span overlap: pair counting is an equi-join on the "
        "span hash; only skinny (source, hash) rows shuffle.  The "
        "distinct span relation has THREE consumers and is deliberately "
        "NOT persisted: the r8 A/B measured the persist as a net loss at "
        "bench scale (1.5-1.9 s vs 0.8-1.4 s -- cache write + "
        "InMemoryTableScan read cost more than re-deriving the skinny "
        "relation from a fast scan), overturning the r7 audit's "
        "unmeasured assumption, so each consumer re-derives it.",
    ),
    (
        "x69_gopher_repetition",
        "Gopher repetition family: zero Exchange nodes and no Python "
        "worker -- all four gram-mass signals are per-row expressions "
        "riding the scan stage.  The token split is staged into its own "
        "projection exactly once (one split( in the optimized plan, "
        "pinned): CollapseProject inlining it back would re-split the "
        "document once per gram-lambda element access (measured 7x).  "
        "For long-doc corpora the auto backend swaps the interpreted "
        "O(w log w) per-doc aggregation for an Arrow-batched mass UDF "
        "(7.8x at 2000-word docs) -- the frac/round/flag arithmetic is "
        "shared Spark expressions either way.",
    ),
]


def source_fingerprint() -> str:
    """Deterministic digest of every engine source file that can move a
    plan shape (conecta_spark/**/*.py plus this script's SHOWCASE list).
    Written into PLANS.md at generation time and re-derived by
    tests/test_plans.py: the suite fails whenever the tree changed after
    the artifact -- the mechanical form of the round-end "regenerate
    PLANS.md" invariant (it shipped one commit stale in r7 AND r8)."""
    import hashlib

    root = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    paths = [os.path.join(root, "dump_plans.py")]
    for dirpath, dirnames, filenames in os.walk(
        os.path.join(root, "conecta_spark")
    ):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        paths.extend(
            os.path.join(dirpath, f) for f in filenames if f.endswith(".py")
        )
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


#: The registry's signature and ANN store caches live at
#: ``<root>/<config key>/<table fingerprint>``: a fixed placeholder keeps
#: a regenerated corpus or a new cache key from churning the artifact.
_STORE_PATH = re.compile(r"/tmp/conecta_spark_(sig|ann)store/[0-9a-f]+/[0-9a-f]+\b")
_STORE_ROOT = re.compile(r"/tmp/conecta_spark_(sig|ann)store/(?!<key>/<fingerprint>)")


def _placeholder_store_paths(name: str, plan: str) -> str:
    """``plan`` with every store path replaced by the placeholder.  Raises
    on a store path the pattern does not cover (a fingerprint that is not
    lowercase hex), which would otherwise churn the artifact silently."""
    plan = _STORE_PATH.sub(r"/tmp/conecta_spark_\1store/<key>/<fingerprint>", plan)
    left = [line for line in plan.splitlines() if _STORE_ROOT.search(line)]
    if left:
        raise ValueError(f"{name}: store path left in the plan: {left[0].strip()}")
    return plan


#: Ids Spark hands out per session rather than per plan, so they move
#: with whatever ran before: expression ids (``score#123``, ``id#4L``),
#: exchange ``plan_id=`` and ``RDD[n]``.
_SESSION_IDS = (
    re.compile(r"(?<=[\w)`]#)\d+"),
    re.compile(r"(?<=plan_id=)\d+"),
    re.compile(r"(?<=RDD\[)\d+(?=\])"),
)


def renumber_ids(plan: str) -> str:
    """``plan`` with each kind of session id renumbered 0, 1, ... in order
    of first appearance, so a plan that did not change prints the same
    text whatever ran before it in the session."""
    for pattern in _SESSION_IDS:
        seen: dict[str, str] = {}
        plan = pattern.sub(
            lambda m: seen.setdefault(m.group(), str(len(seen))), plan
        )
    return plan


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from conecta_spark.queries import REGISTRY, _load_extensions
    from conecta_spark.session import get_session

    _load_extensions()
    spark = get_session(
        app_name="conecta-spark-plans",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical plans of the flagship operators\n",
        "Generated by `python dump_plans.py` from the current code at "
        f"`{sf_dir}`; regenerate after operator changes.  Every property "
        "called out below is also pinned as an assertion in "
        "`tests/test_plans.py` (and the round-specific plan tests), so "
        "this file is documentation, not the enforcement.\n",
        f"Source fingerprint: `{source_fingerprint()}` "
        "(sha256 over conecta_spark/**/*.py + dump_plans.py at generation "
        "time; tests/test_plans.py recomputes it and fails when the tree "
        "moved without regenerating this artifact).\n",
    ]
    for name, note in SHOWCASE:
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        plan = renumber_ids(_placeholder_store_paths(name, plan))
        out.append(f"## {name}\n\n{note}\n\n```\n{plan.rstrip()}\n```\n")
    with open(os.path.join(os.path.dirname(__file__), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
