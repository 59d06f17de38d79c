#!/usr/bin/env python
"""500k-doc rung for x77 (persisted signature store): the daily-ingest
claim measured.  The incremental rung (SF10_RUNG.json's
``incremental_500k_cap*`` blocks) showed the honest ceiling of the
recompute form (x73): at cap 100 the union signature recompute dominates
and the warm speedup over a full mine is only 1.14x.  The store is the
fix -- corpus signatures are built ONCE (`store_build_sec`) and every
batch afterwards pays only its own hashing/signing plus the band join
against the stored relation.

Records, per cap (STORE_RUNG_CAP, default 100):

* ``store_build_sec`` -- the one-time corpus front-half;
* ``stored_batch_runs_sec`` -- two timed batch mines against the store
  (cold: includes stored-relation read; warm: OS page cache);
* ``full_mine_runs_sec`` / ``incremental_runs_sec`` are NOT re-measured
  here -- compare against the incremental_500k_cap{N} block of
  SF10_RUNG.json, measured on the same corpus;
* ``pairs_vs_filtered_full`` -- the x73 invariant under frozen-DF
  semantics: pairs are compared against the union-DF filtered full mine
  and any delta is counted (a shingle whose corpus frequency sits
  within batch-volume of the max_df threshold can flip between the two
  DF scopes; the frozen-DF semantics themselves are oracle-pinned at
  sf0.01 by x77's DuckDB twin).

Writes a ``stored_incremental_500k_cap{N}`` block into SF10_RUNG.json
(non-destructive merge) and prints one JSON line.

Run: python store_rung.py   (requires testdata_sf10; sf10_rung.py
                             builds it)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import sf10_rung

CAP = int(os.environ.get("STORE_RUNG_CAP", "100"))
STORE_DIR = os.environ.get("STORE_RUNG_DIR", "/tmp/conecta_spark_store_rung")
#: Corpus override: a documents.parquet dir/file and a block-key label,
#: e.g. STORE_RUNG_SF=/root/repo/testdata_sf20 STORE_RUNG_LABEL=1m for
#: the 1M-doc second corpus point (default: the 500k SF10 corpus).
SF_OVERRIDE = os.environ.get("STORE_RUNG_SF", "")
LABEL = os.environ.get("STORE_RUNG_LABEL", "500k")


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from conecta_spark.operators.dedup import minhash_lsh_pairs
    from conecta_spark.operators.minhash_store import (
        incremental_pairs_stored,
        write_signature_store,
    )
    from conecta_spark.queries import _load_extensions
    from conecta_spark.session import get_session

    _load_extensions()
    spark = get_session(
        app_name="conecta-spark-store-rung",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(int(cpus) * 2),
            "spark.ui.enabled": "false",
            "spark.driver.memory": "48g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    src_dir = SF_OVERRIDE or sf10_rung.SF10_DIR
    docs = spark.read.parquet(f"{src_dir}/documents.parquet")
    n = docs.count()
    cut_row = docs.selectExpr(
        "percentile_disc(0.8) WITHIN GROUP (ORDER BY doc_id) AS cut"
    ).first()
    cut = int(cut_row["cut"])
    new = docs.where(F.col("doc_id") >= cut)
    corpus = docs.where(F.col("doc_id") < cut)
    n_new = new.count()

    store_path = os.path.join(STORE_DIR, f"{LABEL}-cap{CAP}")
    shutil.rmtree(store_path, ignore_errors=True)
    t0 = time.perf_counter()
    manifest = write_signature_store(corpus, store_path)
    store_build = round(time.perf_counter() - t0, 3)
    store_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(store_path)
        for f in fs
    )

    stored_runs = []
    for _ in range(2):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        inc = incremental_pairs_stored(
            spark, store_path, new, threshold=0.5, max_band_width=CAP
        )
        stored_rows = {(r.doc_a, r.doc_b) for r in inc.collect()}
        stored_runs.append(round(time.perf_counter() - t0, 3))

    # union-DF filtered full mine, warm run, for the invariant check
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    full = minhash_lsh_pairs(docs, threshold=0.5, max_band_width=CAP)
    want = {
        (r.doc_a, r.doc_b)
        for r in full.collect()
        if r.doc_a >= cut or r.doc_b >= cut
    }
    full_wall = round(time.perf_counter() - t0, 3)

    block = {
        "docs": n,
        "corpus_docs": int(manifest["n_docs"]),
        "new_batch_docs": n_new,
        "cap": CAP,
        "store_build_sec": store_build,
        "store_bytes": store_bytes,
        "stored_batch_runs_sec": stored_runs,
        "full_mine_filtered_sec": full_wall,
        "stored_pairs": len(stored_rows),
        "filtered_full_pairs": len(want),
        "pairs_missing_vs_full": len(want - stored_rows),
        "pairs_extra_vs_full": len(stored_rows - want),
        "speedup_warm_vs_full": round(
            full_wall / max(min(stored_runs), 1e-9), 2
        ),
        "load_end": round(os.getloadavg()[0], 1),
    }
    rung_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SF10_RUNG.json"
    )
    try:
        with open(rung_path) as f:
            rung = json.load(f)
    except OSError:
        rung = {}
    rung[f"stored_incremental_{LABEL}_cap{CAP}"] = block
    with open(rung_path, "w") as f:
        json.dump(rung, f, indent=1)
    print(json.dumps({"metric": "store_rung", **block}))


if __name__ == "__main__":
    main()
