#!/usr/bin/env python
"""The 100x scale rung: build an SF10 dataset (60M-row lineitem -- the
reference's largest PUBLISHED scale, lineitem10x: 91.75 s indexed /
152.2 s unindexed, BASELINE.md:28-29) and time the headline queries plus
one dedup heavy on it.

Derivation: the SF1 rung (sf1_rung.py, 10-fold decorrelated replication
of sf0.1) replicated 10-fold AGAIN with a second, LETTER-DISJOINT
rotation alphabet.  Permutations over disjoint letter sets commute and
compose freely, so the 10 x 10 stack yields 100 distinct text
permutations -- re-using sf1's alphabet would collapse to 10 (rotations
of one set compose mod 10) and same-rotation replica pairs would share
every shingle, inflating LSH candidates by construction.  Keys get a
second-level offset of 1e9 (> the SF1 maximum of ~9.015e8), so every
replica remains a self-contained star with intact join integrity.

DIGITS rotate at this level too (``rotate_digits=True``): letter-only
rotation leaves each doc's numeric tokens identical across its 100
clones, and those clone families' shared-shingle minhash bands collide
~100-wide -- the first attempt's candidate relation went quadratic and
filled 34 GB of shuffle.  See sf1_rung.build's docstring.

Embedding note: the component-roll decorrelator composes additively mod
64, so across the 100 replicas some pairs share a total roll; embedding
ops are not timed at this rung (x07 mines TEXT shingles).

Output dir: ./testdata_sf10 (gitignored, ~1.6 GB).  One JSON line to
stdout with median-of-warm-runs timings.

Run: python sf10_rung.py            (builds if absent, then times)
     python sf10_rung.py --rebuild  (force rebuild)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import sf1_rung

#: Second-level rotation alphabet -- MUST be disjoint from sf1_rung.ALPHA
#: ("aeiousrtln"), see module docstring.
ALPHA2 = "bcdfghmpvw"
OFF2 = 1_000_000_000
SF10_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "testdata_sf10"
)
#: Linear-plan operators timed alongside the TPC-H-ish headliners: exact
#: dedup (one fixed-width-hash shuffle over 500k docs), SimHash signature
#: pass (zero shuffle), Gopher quality signals (zero shuffle, 60M-char
#: scan) -- the shapes a 100 TB pipeline runs constantly, where wall
#: should track the scan.
TIMED = (
    "q01_full_scan",
    "q12_groupby_agg",
    "q05_min_max_metadata",
    "x05_dedup_exact",
    "x08_dedup_simhash",
    "x19_gopher_quality",
    # events family at 10M rows (100x sf0.1): sessionization is one
    # shuffle on user_id + two ordered windows inside it; the as-of join
    # is the union+window plan -- both should track the scan, which is
    # the claim worth measuring at this rung.
    "x16_sessionization",
    "x22_asof_join",
)
HEAVY = "x07_dedup_minhash_lsh"  # skipped with --skip-heavy

assert not set(ALPHA2) & set(sf1_rung.ALPHA), "alphabets must be disjoint"


def _clean_stale_spark_tmp() -> None:
    """Remove /tmp/blockmgr-* and /tmp/spark-* left by DEAD JVMs before a
    big run: a crashed SF10 attempt leaves tens of GB of shuffle blocks
    that the next run's spill then collides with on disk space (the
    documented r7 trap, previously a manual `rm`).  Triple-gated so a
    non-JVM user of those prefixes, another user's dirs on a shared box,
    or a pyspark driver whose JVM has not yet spawned can't lose data:
    (1) only when no java process is alive; (2) only dirs OWNED by the
    current user; (3) only dirs untouched for >= 10 minutes (a driver
    mid-JVM-launch writes within seconds).  Every removal is logged at
    path level."""
    import glob
    import os
    import shutil
    import subprocess
    import time as _time

    live_javas = subprocess.run(
        ["pgrep", "-c", "java"], capture_output=True, text=True
    ).stdout.strip()
    if live_javas not in ("", "0"):
        print(
            f"sf10_rung: {live_javas} live java process(es); skipping "
            "/tmp spark-dir cleanup (run alone for big builds)",
            file=sys.stderr,
        )
        return
    mtime_cutoff = _time.time() - 600
    for d in glob.glob("/tmp/blockmgr-*") + glob.glob("/tmp/spark-*"):
        try:
            st = os.stat(d)
            if st.st_uid != os.getuid() or st.st_mtime > mtime_cutoff:
                continue
            shutil.rmtree(d)
            print(f"sf10_rung: removed stale spark tmp dir {d}", file=sys.stderr)
        except OSError as exc:
            print(f"sf10_rung: could not remove {d}: {exc}", file=sys.stderr)


def _cc_agreement(spark, docs_dir: str) -> dict:
    """SF10 row for the clustering family: mine the near-dup graph once
    over the full 500k-doc corpus, then run BOTH connected-components
    branches -- driver union-find (the <=1M-edge path x26 takes) and
    forced label propagation (x67's subject, small_graph_threshold=0) --
    and check they produce the IDENTICAL (doc_id, cluster_id) labeling.
    The r7 sweep proved branch agreement to 50k docs; this is the same
    claim at 10x, where the label-propagation rounds and checkpoint
    lineage discipline actually matter."""
    from pyspark import StorageLevel

    from conecta_spark.operators.cluster import connected_components
    from conecta_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{docs_dir}/documents.parquet")
    t0 = time.perf_counter()
    pairs = minhash_lsh_pairs(docs, threshold=0.5).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_pairs = pairs.count()
    mine_sec = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    uf = connected_components(pairs).persist(StorageLevel.MEMORY_AND_DISK)
    uf_clusters = uf.select("cluster_id").distinct().count()
    uf_sec = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    lp = connected_components(pairs, small_graph_threshold=0).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    lp_clusters = lp.select("cluster_id").distinct().count()
    lp_sec = round(time.perf_counter() - t0, 3)

    # exact labeling agreement, both directions (cluster_id is the min
    # member id in both branches, so equality is the expected outcome,
    # not just isomorphism)
    diff = uf.exceptAll(lp).count() + lp.exceptAll(uf).count()
    for df in (pairs, uf, lp):
        df.unpersist()
    return {
        "pairs": n_pairs,
        "mine_sec": mine_sec,
        "uf_clusters": uf_clusters,
        "uf_sec": uf_sec,
        "lp_clusters": lp_clusters,
        "lp_sec": lp_sec,
        "label_diff_rows": diff,
        "agree": diff == 0 and uf_clusters == lp_clusters,
    }


def _ann_row(spark, sf_dir: str) -> dict:
    """SF10 row for the similarity-search family: IVF over the full 200k
    vectors (100x the sf0.1 panel corpus) -- sample-trained quantizer,
    one assignment pass, one batched panel search -- against the exact
    brute-force panel as ground truth.

    Config scales the registry's shape with the faiss occupancy heuristic
    (~sqrt(N) cells: 128 cells -> ~1.6k vectors/cell) and keeps the same
    probed fraction (1/2) so the recall claim is comparable to the
    sweep-measured 0.88 at the small SFs.  Two recall flavors are
    reported because the SF10 stack contains EXACT duplicate vectors
    (the embedding decorrelator composes rolls additively mod 64, so
    some replica pairs share a total roll -- module docstring): id-recall
    punishes returning a tied clone with a different vec_id, score-recall
    counts any hit whose cosine reaches the exact 10th-best score."""
    import numpy as np

    from conecta_spark.operators.simsearch import (
        ANN_QUERY_IDS,
        _exact_topk_panel,
        build_ivf_index,
        ivf_search_batch,
    )

    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_vectors = emb.count()

    # 256/96 replaces the r8 128/64 config: on these isotropic synthetic
    # embeddings recall tracks the candidate FRACTION almost exactly
    # (no cluster structure to exploit), and a finer quantizer reaches
    # the same recall at fewer candidates -- measured frontier in the
    # ann block's `frontier` rows of SF10_RUNG.json: 256/96 = 0.915 recall
    # at 37.6% of the corpus vs 128/64's 0.82-0.92 at 50%.
    t0 = time.perf_counter()
    index = build_ivf_index(emb, n_clusters=256)  # materializes the assignment
    build_sec = round(time.perf_counter() - t0, 3)

    try:
        t0 = time.perf_counter()
        ann_rows = ivf_search_batch(
            index, ANN_QUERY_IDS, k=10, n_probe=96
        ).collect()
        search_sec = round(time.perf_counter() - t0, 3)

        t0 = time.perf_counter()
        exact_rows = _exact_topk_panel(emb, "cosine").collect()
        exact_sec = round(time.perf_counter() - t0, 3)
    finally:
        index.unpersist()

    ann: dict = {}
    for r in ann_rows:
        ann.setdefault(r.query_id, []).append((r.vec_id, round(r.score, 6)))
    exact: dict = {}
    for r in exact_rows:
        exact.setdefault(r.query_id, []).append((r.vec_id, round(r.score, 6)))

    id_recalls, score_recalls = [], []
    for qid, truth in exact.items():
        got = ann.get(qid, [])
        truth_ids = {v for v, _ in truth}
        kth = min(s for _, s in truth)  # exact 10th-best cosine
        id_recalls.append(
            len([v for v, _ in got if v in truth_ids]) / len(truth)
        )
        score_recalls.append(
            len([s for _, s in got if s >= kth]) / len(truth)
        )
    return {
        "vectors": n_vectors,
        "n_cells": 256,
        "n_probe": 96,
        "build_sec": build_sec,
        "search_sec": search_sec,
        "exact_panel_sec": exact_sec,
        "id_recall_at_10": round(float(np.mean(id_recalls)), 4),
        "score_recall_at_10": round(float(np.mean(score_recalls)), 4),
    }


def _decontam_row(spark, reg, docs_dir: str) -> dict:
    """SF10 row for lexical decontamination (x68's composition: every
    97th doc held out as the benchmark, rest of the 500k-doc corpus
    checked for exact 5-gram overlap).  The operator is broadcast+linear
    by design; the row proves the wall tracks the scan at 10x the
    sweep-proven scale."""
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    out = reg["x68_ngram_decontaminate"].fn(spark, docs_dir)
    out.write.format("noop").mode("overwrite").save()
    sec = round(time.perf_counter() - t0, 3)
    contaminated = (
        reg["x68_ngram_decontaminate"].fn(spark, docs_dir)
        .where("contaminated").count()
    )
    return {"sec": sec, "contaminated": contaminated}


def _streaming_session_row(spark, sf_dir: str) -> dict:
    """SF10 row for the streaming family: the x72 native session_window
    aggregation executed as a real availableNow streaming query over the
    10M-row events table (100x the sweep-proven scale), drained to a
    complete-mode memory sink and cross-checked against the batch gap
    sessionization's session count.

    What the row proves at this rung: the state store assembles millions
    of per-user sessions (state is one row per session being merged, not
    per event) and the drained table still equals the batch plan -- the
    session-merge discipline survives 100x.  Two timed runs (run 1 warms
    codegen + the streaming source's file listing); both counts must
    agree with batch."""
    from conecta_spark.streaming.events import (
        read_event_stream,
        sessionize_batch,
        streaming_session_windows,
    )

    runs, n_sessions = [], None
    for i in range(2):
        spark.catalog.clearCache()
        name = f"sf10_x72_run{i}"
        t0 = time.perf_counter()
        q = (
            streaming_session_windows(read_event_stream(spark, sf_dir))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(1200):
            q.stop()
            raise RuntimeError("sf10 x72 run did not terminate in 1200s")
        n_sessions = spark.table(name).count()
        runs.append(round(time.perf_counter() - t0, 3))
        spark.catalog.dropTempView(name)
    t0 = time.perf_counter()
    # epoch_micros inside sessionize_batch handles TIMESTAMP vs NTZ
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch_sessions = sessionize_batch(events).count()
    batch_sec = round(time.perf_counter() - t0, 3)
    return {
        "events": events.count(),
        "stream_runs_sec": runs,
        "sessions": n_sessions,
        "batch_sessions": batch_sessions,
        "batch_sec": batch_sec,
        "agree": n_sessions == batch_sessions,
    }


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    _clean_stale_spark_tmp()

    from conecta_spark.queries import REGISTRY, _load_extensions
    from conecta_spark.session import get_session

    _load_extensions()
    spark = get_session(
        app_name="conecta-spark-sf10",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(int(cpus) * 2),
            "spark.ui.enabled": "false",
            "spark.driver.memory": "48g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    sf1_marker = os.path.join(sf1_rung.SF1_DIR, "lineitem.parquet", "_SUCCESS")
    if not os.path.exists(sf1_marker):
        src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        sf1_rung.build(spark, src)

    marker = os.path.join(SF10_DIR, "lineitem.parquet", "_SUCCESS")
    if "--rebuild" in sys.argv or not os.path.exists(marker):
        t0 = time.perf_counter()
        sf1_rung.build(
            spark,
            sf1_rung.SF1_DIR,
            k=10,
            out_dir=SF10_DIR,
            alpha=ALPHA2,
            off=OFF2,
            roll_mult=13,
            rotate_digits=True,
        )
        print(
            f"built SF10 in {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )

    n_lineitem = spark.read.parquet(f"{SF10_DIR}/lineitem.parquet").count()
    n_docs = spark.read.parquet(f"{SF10_DIR}/documents.parquet").count()

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    timings = {}
    for name in TIMED if "--skip-timed" not in sys.argv else ():
        runs = []
        for _ in range(4):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            run(REGISTRY[name].fn(spark, SF10_DIR))
            runs.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(sorted(runs[1:])), 3)
        print(f"{name}: median {timings[name]}s runs={runs}", file=sys.stderr)

    # The dedup heavy: 2 runs (500k docs; run 1 warms codegen + python
    # workers), report both -- the point is the ORDER of magnitude vs the
    # reference's 91.75 s scan at the same row scale.
    n_pairs = None
    if "--skip-heavy" not in sys.argv:
        heavy_runs = []
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            out = REGISTRY[HEAVY].fn(spark, SF10_DIR)
            n_pairs = out.count()
            heavy_runs.append(round(time.perf_counter() - t0, 3))
        timings[HEAVY] = heavy_runs[-1]
        print(
            f"{HEAVY}: runs={heavy_runs} pairs={n_pairs}", file=sys.stderr
        )

    cc = decontam = None
    if "--skip-cc" not in sys.argv:
        cc = _cc_agreement(spark, SF10_DIR)
        print(f"cc: {cc}", file=sys.stderr)
        decontam = _decontam_row(spark, REGISTRY, SF10_DIR)
        print(f"decontam: {decontam}", file=sys.stderr)

    ann = None
    if "--skip-ann" not in sys.argv:
        ann = _ann_row(spark, SF10_DIR)
        print(f"ann: {ann}", file=sys.stderr)

    streaming_sessions = None
    if "--skip-stream" not in sys.argv:
        streaming_sessions = _streaming_session_row(spark, SF10_DIR)
        print(f"streaming_sessions: {streaming_sessions}", file=sys.stderr)

    payload = {
        "metric": "sf10_rung",
        "lineitem_rows": n_lineitem,
        "document_rows": n_docs,
        "timings_sec": timings,
        "lsh_pairs": n_pairs,
        "cc": cc,
        "decontam": decontam,
        "ann": ann,
        "streaming_sessions": streaming_sessions,
        "reference_sf10_scan_sec": [91.75, 152.2],
        "scan_vs_reference_indexed": round(
            timings["q01_full_scan"] / 91.75, 4
        ) if "q01_full_scan" in timings else None,
    }
    # Merge into SF10_RUNG.json instead of overwriting: a --skip-heavy /
    # --skip-cc / --skip-ann refresh keeps the prior run's blocks (and
    # blocks written by other rungs, e.g. mine_1m) rather than silently
    # dropping them; per-query timings merge key-wise for the same reason.
    rung_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SF10_RUNG.json"
    )
    try:
        with open(rung_path) as f:
            old = json.load(f)
    except (OSError, ValueError):
        old = {}
    merged = dict(old)
    merged.update({k: v for k, v in payload.items() if v is not None})
    if isinstance(old.get("timings_sec"), dict):
        merged["timings_sec"] = {**old["timings_sec"], **timings}
    with open(rung_path, "w") as f:
        json.dump(merged, f, indent=1)
    print(json.dumps(merged, separators=(",", ":")))


if __name__ == "__main__":
    main()
