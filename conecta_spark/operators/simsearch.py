"""Similarity search over embedding columns (extension surface, SURVEY 2.4):
brute-force cosine top-k (the correctness baseline), embedding-cosine
near-dup pairs, deterministic random-hyperplane LSH ANN (the scale path,
still oracle-checkable), and ml-based BRP-LSH / IVF variants.

Scale notes (100 TB):

* three scoring kernels, one implementation each: an expression scorer
  (broadcast query rows, map-side score, no self-matches), a block-matmul
  all-pairs grid and a broadcast-matrix corpus scan (numpy inside
  Arrow-batched mapInPandas).
* single-query top-k ranks via sort-limit (``ORDER BY score LIMIT k`` ->
  TakeOrderedAndProject: per-partition partial top-k, one k-row merge on
  the driver side, no global shuffle-sort) and only then attaches the
  ``rank`` column with a row_number window over the k surviving rows.
  Panels rank with one row_number window per query_id, which plans as
  WindowGroupLimit (per-partition top-k heaps before the shuffle).
  Determinism survives because the sort key (rounded score desc, id) is a
  total order, so every ranking selects the same rows.
* near-dup pairs normalize once per row, then join; the pair join is the
  quadratic wall -- at scale replace with :func:`ann_lsh_topk` buckets or
  ml BucketedRandomProjectionLSH (:func:`brp_lsh_ml`).
* hyperplane components are integer-arithmetic pseudo-randoms, so bucket
  assignment is reproducible across engines and runs -- no RNG state.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import (
    cosine_expr,
    duck_cosine,
    duck_dot,
    duck_l2,
    duck_normalize,
    l2_expr,
    normalize_expr,
)
from ..plans.skew import spread
from ..queries import register, t
from ..session import PersistSlot
from ..sources.parquet import table_fingerprint

DIM = 64  # driver embeddings are 64-dim (FIXTURES.md 4)

#: Deterministic pseudo-random hyperplane component (j = plane, i = dim):
#: integer LCG-style mix mod 1e9+7, centered to [-0.5, 0.5].  Same formula
#: on the DuckDB side -- exact parity.
_PLANE = "((({j} * 64 + i) * 2654435761) % 1000000007) / 1000000007.0 - 0.5"


def _plane_dot(vec: str, j: int, dim: int = DIM) -> str:
    comp = _PLANE.format(j=j)
    return (
        f"aggregate(transform(sequence(1, {dim}), "
        f"i -> element_at({vec}, i) * ({comp})), 0.0D, (acc, x) -> acc + x)"
    )


def _duck_plane_dot(vec: str, j: int, dim: int = DIM) -> str:
    comp = _PLANE.format(j=j)
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {dim} + 1), i -> {vec}[i] * ({comp}))), "
        f"(acc, x) -> acc + x)"
    )


def hyperplane_bucket_expr(vec: str, planes: int = 4, dim: int = DIM) -> str:
    """Spark SQL: LSH bucket id = sign-bit pattern over ``planes`` fixed
    hyperplanes."""
    bits = " + ".join(
        f"IF({_plane_dot(vec, j, dim)} >= 0.0D, {1 << j}L, 0L)"
        for j in range(planes)
    )
    return f"({bits})"


def duck_hyperplane_bucket(vec: str, planes: int = 4, dim: int = DIM) -> str:
    bits = " + ".join(
        f"(CASE WHEN {_duck_plane_dot(vec, j, dim)} >= 0.0 "
        f"THEN {1 << j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(planes)
    )
    return f"({bits})"


# -- DataFrame transforms ----------------------------------------------------


def valid_vectors(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Rows whose embedding is present, non-empty, and all-finite.
    Malformed vectors (nulls from failed embedding jobs, NaNs and
    infinities from overflowed encoders) are a data-quality fact of large
    corpora; they must degrade to exclusion, not crash a matmul batch or
    an ML fit, and NaN scores (a cosine over an infinite component is NaN)
    must never reach a ranking whose NaN order differs between engines
    (found by the pathological-corpus sweep)."""
    return df.where(
        F.col(vec_col).isNotNull()
        & (F.size(vec_col) > 0)
        & F.expr(
            f"forall({vec_col}, x -> x IS NOT NULL AND NOT isnan(x)"
            " AND abs(x) != double('Infinity'))"
        )
    )


def _vectors(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    return valid_vectors(df, vec_col, id_col).select(
        F.col(id_col), F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("v")
    )


def _queries(e: DataFrame, ids, id_col: str, **cols: str) -> DataFrame:
    """The query rows of ``e`` as a query relation (query_id, <name>...),
    each keyword renaming a column of ``e`` (``qv="v"``).  ``ids`` is one
    query id or a panel of them; one id becomes a literal query_id, which
    the optimizer folds into the self-match filter and pushes to the
    scan."""
    if hasattr(ids, "__iter__"):
        rows, qid = e.where(F.col(id_col).isin(*ids)), F.col(id_col)
    else:
        rows, qid = e.where(F.col(id_col) == ids), F.lit(ids)
    return rows.select(
        qid.alias("query_id"), *(F.col(c).alias(n) for n, c in cols.items())
    )


def _cosine(dim: int = DIM):
    """Cosine of the ``v`` and ``qv`` columns, rounded to 6dp as the
    DuckDB oracles round it, named ``score``."""
    return F.round(F.expr(cosine_expr("v", "qv", dim)), 6).alias("score")


def _score(
    vecs: DataFrame,
    queries: DataFrame,
    score,
    id_col: str,
    on=None,
    broadcast: bool = True,
) -> DataFrame:
    """The expression kernel: (query_id, id, <score>) for every row of
    ``vecs`` that meets a row of ``queries`` (query_id, qv...), except a
    query's own id.

    ``on=None`` is a cross join against the query rows; otherwise ``on``
    is the join condition (the LSH bucket or Hamming probe, IVF's
    ``"cell"``).  ``broadcast`` hints the query side, the default for a
    query set known to be small; the score is an expression evaluated
    map-side, next to the scan."""
    q = F.broadcast(queries) if broadcast else queries
    pairs = vecs.crossJoin(q) if on is None else vecs.join(q, on)
    return pairs.where(F.col(id_col) != F.col("query_id")).select(
        "query_id", id_col, score
    )


def _topk_ranked(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Rank the top ``k`` of a single query's ``scored`` rows by (score
    desc, id); returns (id_col, score, rank).

    Sort-limit first: Catalyst plans it as TakeOrderedAndProject, which
    keeps a k-row heap per partition and merges k rows -- no
    single-partition global sort.  The row_number window then runs over
    only the k surviving rows, so the "global" window is O(k)."""
    from pyspark.sql.window import Window

    order = [F.col("score").desc(), F.col(id_col)]
    top = scored.select(id_col, "score").orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w))


def _rank_per_query(
    scored: DataFrame, k: int, id_col: str, order=None
) -> DataFrame:
    """Rank a panel's ``scored`` rows (query_id, id, score...) per query by
    (``order``, id), keeping ranks <= ``k``; ``order`` defaults to score
    descending.  The filtered row_number plans as WindowGroupLimit: a
    k-row heap per query and partition before the shuffle."""
    from pyspark.sql.window import Window

    if order is None:
        order = F.col("score").desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def _block_pairs(
    blocks: DataFrame, threshold: float, cell: str | None = None
) -> DataFrame:
    """The block-matmul kernel: every pair of vectors in ``blocks`` with
    rounded cosine >= ``threshold``, as (vec_a < vec_b, cosine).

    ``blocks`` is (bid, rows: array<struct<vid, nv>>) with unit vectors
    ``nv``; ``cell`` names a further column both blocks of a pair must
    share.  The triangular block-pair grid (``a.bid <= b.bid``) joins
    each block with every block at or above it, and each pair scores as
    one numpy ``A @ B.T`` inside Arrow-batched mapInPandas.  Scores round
    to 6dp before the threshold so the BLAS dot and the oracle's
    sequential fold agree bit-for-bit."""
    import pandas as pd

    a, b = blocks.alias("a"), blocks.alias("b")
    cond = F.col("a.bid") <= F.col("b.bid")
    if cell is not None:
        cond = (F.col(f"a.{cell}") == F.col(f"b.{cell}")) & cond
    grid = a.join(b, cond).select(
        F.col("a.bid").alias("bid_a"),
        F.col("a.rows").alias("rows_a"),
        F.col("b.bid").alias("bid_b"),
        F.col("b.rows").alias("rows_b"),
    )

    def score_blocks(batches):
        import numpy as np

        for pdf in batches:
            outs = []
            for rows_a, rows_b, bid_a, bid_b in zip(
                pdf["rows_a"], pdf["rows_b"], pdf["bid_a"], pdf["bid_b"]
            ):
                ids_a = np.array([r["vid"] for r in rows_a], dtype=np.int64)
                ids_b = np.array([r["vid"] for r in rows_b], dtype=np.int64)
                mat_a = np.array([r["nv"] for r in rows_a], dtype=np.float64)
                mat_b = np.array([r["nv"] for r in rows_b], dtype=np.float64)
                scores = np.round(mat_a @ mat_b.T, 6)
                mask = scores >= threshold
                # same-block pairs need i < j: each row is cosine 1.0
                # with itself, and each pair once
                if bid_a == bid_b:
                    mask &= ids_a[:, None] < ids_b[None, :]
                ii, jj = np.nonzero(mask)
                if len(ii) == 0:
                    continue
                ia, ib = ids_a[ii], ids_b[jj]
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_a": np.minimum(ia, ib),
                            "vec_b": np.maximum(ia, ib),
                            "cosine": scores[ii, jj],
                        }
                    )
                )
            yield (
                pd.concat(outs)
                if outs
                else pd.DataFrame(
                    {"vec_a": [], "vec_b": [], "cosine": []}
                ).astype({"vec_a": "int64", "vec_b": "int64"})
            )

    return grid.mapInPandas(
        score_blocks, schema="vec_a long, vec_b long, cosine double"
    )


def _matrix_scan(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    schema,
    reduce,
) -> DataFrame:
    """The broadcast-matrix kernel: score every ``corpus`` row against a
    bounded query set in one corpus pass.

    ``queries`` and ``corpus`` are (id, v) relations.  The queries are
    unit-normalized, collected in id order (a bounded planner artifact)
    and broadcast as one numpy matrix; the corpus is normalized after a
    :func:`spread` and each Arrow batch computes ``round(M @ Q.T, 6)``.
    ``reduce(ids, scores, query_ids)`` turns a batch's ids and score
    matrix (rows: corpus, columns: queries in id order) into a pandas
    frame of ``schema``.  An empty query set returns an empty frame."""
    q_rows = (
        queries.select(id_col, F.expr(normalize_expr("v", DIM)).alias("qv"))
        .orderBy(id_col)
        .collect()
    )
    # spread: normalize + per-batch matmul on a narrow scan ran one-task
    # (measured 0.93 s one-task at sf0.1)
    corpus = spread(corpus).select(
        id_col, F.expr(normalize_expr("v", DIM)).alias("nv")
    )
    if not q_rows:
        return corpus.sparkSession.createDataFrame([], schema)
    import numpy as np

    sc = corpus.sparkSession.sparkContext
    q_ids = sc.broadcast(np.array([r[0] for r in q_rows], dtype=np.int64))
    q_mat = sc.broadcast(np.array([r["qv"] for r in q_rows], dtype=np.float64))

    def score_batches(batches):
        import numpy as np

        qm, qi = q_mat.value, q_ids.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.array(list(pdf["nv"]), dtype=np.float64)
            yield reduce(ids, np.round(mat @ qm.T, 6), qi)

    return corpus.mapInPandas(score_batches, schema=schema)


def knn_topk(
    df: DataFrame,
    query_id: int = 0,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k against the row with ``query_id``'s vector.

    The single query row is broadcast; scores are computed map-side; ranking
    uses (rounded score, id) so ties are deterministic."""
    e = _vectors(df, vec_col, id_col)
    q = _queries(e, query_id, id_col, qv="v")
    return _topk_ranked(_score(e, q, _cosine(), id_col), k, id_col)


#: embedding_near_dup_pairs' packed block relation.
_X11 = PersistSlot()

#: Corpus-size cap for the exact all-pairs block grid: 256 blocks x 1024
#: rows.  Beyond this the grid is O(N^2/256^2) work PER TASK and the
#: operator raises instead of silently building a quadratic job -- the
#: r7 docstring said "brute force is the wrong tool" but nothing in code
#: stopped a 100M-vector call.
X11_FULL_GRID_CAP_ROWS = 256 * 1024


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.92,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks: int | None = None,
    allow_full_grid: bool = False,
) -> DataFrame:
    """All pairs with cosine >= threshold, as a distributed block matmul.

    A pairwise SQL expression fold costs ~N^2*D interpreted higher-order-fn
    evals (measured 36s for 2k x 2k x 64 -- lambda expressions don't enter
    whole-stage codegen).  Instead: unit-normalize in SQL (parity with the
    oracle's fold), pack rows into ``n_blocks`` matrix blocks (id mod
    n_blocks -- deterministic, balanced for any id distribution), join the
    block-pair grid (n*(n+1)/2 rows), and score each block pair with one
    vectorized numpy ``A @ B.T`` inside Arrow-batched mapInPandas -- the
    standard brute-force ANN layout (each block replicated n_blocks times
    through the shuffle, no driver collect, no row-level cartesian).  Size
    ``n_blocks`` so one block (~N/n_blocks * D * 8 bytes) fits comfortably
    in an executor core's memory.  Scores round to 6dp before the threshold
    so the pairwise-summed BLAS dot and the oracle's sequential fold agree
    bit-for-bit.

    ``n_blocks=None`` adapts to the corpus: ~1024 rows per block (fewer,
    larger matmuls -- measured 4x faster than a fixed 32 on a 2k corpus,
    where 528 near-empty block pairs were pure scheduling overhead), capped
    at 256 blocks so the block-pair grid stays O(32k) tasks.  The count it
    costs is a metadata-only parquet job.

    Corpora beyond :data:`X11_FULL_GRID_CAP_ROWS` RAISE: exact all-pairs
    is O(N^2) total work by construction, and past the 256-block cap each
    task's matmul grows quadratically too -- brute force is the wrong tool
    there and :func:`ann_lsh_topk` / :func:`brp_lsh_ml` /
    :func:`semantic_dedup` take over.  ``allow_full_grid=True`` is the
    explicit escape hatch for callers who have sized their cluster for the
    quadratic bill and want the exact answer anyway."""
    if allow_full_grid and n_blocks is not None:
        # Fully-explicit caller: the cap guard is moot (they accepted the
        # quadratic bill) and the count only fed the adaptive block sizing
        # -- skip it so plan construction stays lazy, as it was before the
        # cap guard landed.
        n_rows = None
    else:
        n_rows = df.count()
        if n_rows > X11_FULL_GRID_CAP_ROWS and not allow_full_grid:
            raise ValueError(
                f"embedding_near_dup_pairs: corpus has {n_rows} rows, above "
                f"the exact-all-pairs cap of {X11_FULL_GRID_CAP_ROWS} (256 "
                "blocks x 1024 rows); the block grid is O(N^2) total work "
                "by construction. Use ann_lsh_topk / brp_lsh_ml / "
                "semantic_dedup for large corpora, or pass "
                "allow_full_grid=True to accept the quadratic cost "
                "explicitly."
            )
    if n_blocks is None:
        n_blocks = max(1, min(256, -(-n_rows // 1024)))
    # spread: normalize + block packing are per-row-heavy interpreted
    # expressions, and the pack aggregation feeds a broadcast build -- on
    # a single-row-group scan the whole prep ran as ONE task (measured
    # 0.83 s single-task at sf0.1); no-op once the scan is wide
    e = spread(_vectors(df, vec_col, id_col)).select(
        F.col(id_col).alias("vid"),
        F.expr(normalize_expr("v", DIM)).alias("nv"),
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("long").alias("bid"),
    )
    # Both grid sides consume the packed blocks and AQE never reuses
    # exchanges across self-join sides -- un-persisted, the validity
    # filter + normalize + pack aggregation ran twice (one extra full
    # corpus pass).  The packed relation is the corpus's unit vectors,
    # exactly once each: same footprint as the input.
    _X11.evict()
    blocks = _X11.hold(
        e.groupBy("bid").agg(
            F.collect_list(F.struct("vid", "nv")).alias("rows")
        )
    )
    return _block_pairs(blocks, threshold)


def ann_lsh_topk(
    df: DataFrame,
    query_id: int = 0,
    k: int = 10,
    planes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_hamming: int = 0,
) -> DataFrame:
    """ANN top-k: random-hyperplane LSH bucket prefilter, then exact cosine
    within the probed buckets.  ~2^planes fold reduction in candidates.

    ``probe_hamming`` is the multiprobe radius: 0 probes only the query's
    own bucket (equi-join, oracle-checkable form); r > 0 also probes every
    bucket whose sign pattern differs in at most r bits -- the standard
    recall fix for near-boundary neighbors whose dot with one hyperplane
    flipped sign.  Physically the probe is ``bit_count(bucket ^ qbucket)
    <= r`` against the broadcast 1-row query (a per-partition filter, no
    extra shuffle, no bucket-list explosion)."""
    e = _vectors(df, vec_col, id_col).withColumn(
        "bucket", F.expr(hyperplane_bucket_expr("v", planes))
    )
    q = _queries(e, query_id, id_col, qv="v", qbucket="bucket")
    if probe_hamming == 0:
        cond = F.col("bucket") == F.col("qbucket")
    else:
        cond = F.expr(f"bit_count(bucket ^ qbucket) <= {probe_hamming}")
    return _topk_ranked(_score(e, q, _cosine(), id_col, on=cond), k, id_col)


def brp_lsh_ml(
    df: DataFrame,
    query_id: int = 0,
    k: int = 10,
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Scale-path ANN via ml BucketedRandomProjectionLSH
    approxNearestNeighbors (Euclidean).  Not SQL-expressible -> rows-only."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    feat = valid_vectors(df, vec_col, id_col).select(
        F.col(id_col), array_to_vector(F.col(vec_col)).alias("features")
    )
    if feat.isEmpty():
        # ml .fit() throws on zero rows; an empty corpus has an empty
        # neighbor set (100 TB pipelines routinely hand operators empty
        # filtered slices -- that must not be a crash).
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, l2_dist double"
        )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=seed,
    )
    model = lsh.fit(feat)
    key = feat.where(F.col(id_col) == query_id).head()
    if key is None:
        raise ValueError(f"query_id {query_id} not found")
    out = model.approxNearestNeighbors(
        feat.where(F.col(id_col) != query_id), key.features, k
    )
    return out.select(id_col, F.col("distCol").alias("l2_dist"))


def brp_lsh_ml_panel(
    df: DataFrame,
    query_ids,
    k: int = 10,
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    feat: DataFrame | None = None,
) -> dict:
    """``{query_id: [neighbor ids]}`` for a panel, sharing one LSH fit, one
    cached feature relation, and one key-vector collect across the panel.

    :func:`brp_lsh_ml` refit the model and re-prepared the corpus per
    query -- 5x the fixed cost for a 5-query acceptance panel.  ml's
    ``approxNearestNeighbors`` is single-key by API, so that call stays
    per-query and results are bit-identical to the one-query form (same
    seeded hyperplanes: the fit is on the same full relation; the query-row
    exclusion happens in the search dataset exactly as before -- parity
    pinned in tests/test_operators.py).  Missing ids are skipped.

    ``feat`` short-circuits the prep with an externally-owned, persisted
    (id, features) relation (the x13/x14 shared _panel_prep cache); its
    lifetime is then the caller's, not this function's."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    owns_feat = feat is None
    if owns_feat:
        feat = valid_vectors(df, vec_col, id_col).select(
            F.col(id_col), array_to_vector(F.col(vec_col)).alias("features")
        )
    else:
        feat = feat.select(id_col, "features")
    if feat.isEmpty():
        return {}
    if owns_feat:
        feat = feat.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        model = BucketedRandomProjectionLSH(
            inputCol="features",
            outputCol="hashes",
            bucketLength=bucket_length,
            numHashTables=num_hash_tables,
            seed=seed,
        ).fit(feat)
        keys = {
            r[0]: r.features
            for r in feat.where(F.col(id_col).isin(*query_ids)).collect()
        }
        return {
            qid: [
                r[0]
                for r in model.approxNearestNeighbors(
                    feat.where(F.col(id_col) != qid), keys[qid], k
                )
                .select(id_col)
                .collect()
            ]
            for qid in sorted(keys)
        }
    finally:
        if owns_feat:
            feat.unpersist()


def ivf_topk(
    df: DataFrame,
    query_id: int = 0,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """IVF-style ANN: KMeans coarse quantizer, search the ``n_probe``
    centroids nearest to the query, exact cosine within those cells.
    Rows-only (KMeans is not SQL-expressible).

    Convenience form that builds the index and searches once; a serving
    pipeline builds with :func:`build_ivf_index` once (one KMeans fit +
    one assignment pass over the corpus, persisted) and calls
    :func:`ivf_search` per query -- the per-query cost is then a cell
    prefilter + exact cosine over ~corpus/n_clusters*n_probe rows."""
    if valid_vectors(df, vec_col, id_col).isEmpty():
        # KMeans.fit throws on zero rows; an empty (or all-malformed)
        # corpus has an empty neighbor set (see brp_lsh_ml -- same
        # contract).
        return df.sparkSession.createDataFrame(
            [], f"{id_col} long, score double, rank int"
        )
    index = build_ivf_index(
        df, n_clusters=n_clusters, vec_col=vec_col, id_col=id_col, seed=seed
    )
    return ivf_search(index, query_id, k=k, n_probe=n_probe)


class IVFIndex:
    """Built IVF index: the cell-assigned corpus (persisted) + centroids.

    ``assigned`` columns: (id, v: array<double>, cell: int).  Centroids are
    a driver-side list (n_clusters x dim -- KBs) that ships in the closure
    of :func:`_probe_cells`, so query routing runs on the executors next
    to the query vectors, like the build's own assignment pass."""

    def __init__(self, assigned: DataFrame, centers, id_col: str):
        self.assigned = assigned
        self.centers = centers
        self.id_col = id_col

    def unpersist(self) -> None:
        self.assigned.unpersist()


#: Coarse-quantizer training-sample cap.  IVF quantizers are trained on a
#: bounded sample regardless of corpus size (the faiss convention: ~10-100
#: points per centroid suffice); training distributed KMeans over the FULL
#: corpus would re-scan 100 TB once per Lloyd iteration to place 16
#: centroids.  16k points x 64 dims x 8 B = 8 MB on the driver.
IVF_TRAIN_CAP = 16384


def _lloyd_kmeans(X, k: int, seed: int, n_iter: int = 20):
    """Seeded k-means++ init + Lloyd's iterations, vectorized numpy.
    ``X`` is (n, d) float64 with n >= 1; returns (min(k, n), d) centroids.
    Deterministic for a given (X, k, seed): the RNG is seeded and numpy
    argmin ties break to the lowest index."""
    import numpy as np

    n = len(X)
    if n == 0:
        raise ValueError(
            "_lloyd_kmeans: empty training matrix -- the quantizer needs "
            "at least one vector (callers guard the sample before collect)"
        )
    k = max(1, min(k, n))
    rng = np.random.RandomState(seed)
    # k-means++ seeding: each next center sampled ~ squared distance to
    # the nearest already-chosen center.
    chosen = [int(rng.randint(n))]
    d2 = ((X - X[chosen[0]]) ** 2).sum(axis=1)
    for _ in range(1, k):
        tot = d2.sum()
        nxt = (
            int(rng.choice(n, p=d2 / tot)) if tot > 0 else int(rng.randint(n))
        )
        chosen.append(nxt)
        d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
    C = X[chosen].copy()
    x2 = (X ** 2).sum(axis=1)
    for _ in range(n_iter):
        # argmin_c ||x - c||^2 via the dot form: n x k, never n x k x d
        D = x2[:, None] - 2.0 * (X @ C.T) + (C ** 2).sum(axis=1)[None, :]
        cell = D.argmin(axis=1)
        moved = False
        for j in range(k):
            m = cell == j
            if m.any():
                nc = X[m].mean(axis=0)
                if not np.array_equal(nc, C[j]):
                    C[j] = nc
                    moved = True
            # empty cell: keep the old centroid (faiss does the same)
        if not moved:
            break
    return C


def build_ivf_index(
    df: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    feat: DataFrame | None = None,
) -> IVFIndex:
    """Sample-trained coarse quantizer + one distributed assignment pass;
    the assigned corpus persists (materialized before return) so every
    subsequent :func:`ivf_search` is a filter, not a rebuild.

    The quantizer trains DRIVER-SIDE on a bounded deterministic sample
    (:data:`IVF_TRAIN_CAP`, hash-bucket selected, id-ordered) -- the faiss
    production pattern: centroid quality saturates at a few thousand
    training points, while a distributed KMeans fit re-scans the full
    corpus once per iteration (the r6 form spent ~20 Spark jobs placing 16
    centroids for a 2000-row corpus).  Assignment is one Arrow-batched
    ``mapInPandas`` pass with the centroid matrix broadcast in the closure
    (KBs): scan -> nearest-cell matmul -> persist, no shuffle, no ml stage.
    ``feat`` short-circuits the corpus prep with an already-validated
    (id, v, ...) relation (the x13/x14 shared _panel_prep cache)."""
    import numpy as np

    vecs = (
        feat.select(id_col, "v")
        if feat is not None
        else _vectors(df, vec_col, id_col)
    )
    n = vecs.count()
    if n == 0:
        raise ValueError(
            "build_ivf_index: corpus has no valid vectors "
            "(callers guard with valid_vectors(...).isEmpty())"
        )
    sample = vecs
    if n > IVF_TRAIN_CAP:
        # Deterministic, order-independent down-select: keep one xxhash64
        # bucket in m, sized so the expectation lands near the cap.
        m = -(-n // IVF_TRAIN_CAP)  # ceil
        sample = vecs.where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(m)) == 0)
        # The bucket size is only an EXPECTATION: a pathological id
        # distribution (all ids hashing off-bucket) can leave the sample
        # empty or far under k, and an empty training matrix is a hard
        # error downstream.  Deterministic fallback: first CAP by id.
        if sample.limit(n_clusters).count() < min(n_clusters, n):
            sample = vecs.orderBy(id_col).limit(IVF_TRAIN_CAP)
    # id-ordered collect so the training matrix (and thus the seeded
    # k-means++ draw) is identical across partition layouts.
    X = np.array(
        [r.v for r in sample.orderBy(id_col).select(id_col, "v").collect()],
        dtype=np.float64,
    )
    centers = _lloyd_kmeans(X, n_clusters, seed)
    assigned = assign_cells(vecs, centers, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Materialize here: a search scans the assignment twice (panel rows
    # and candidates), and AQE would otherwise run one cache-filling job
    # per scan.  The noop sink is one job with no shuffle.
    assigned.write.format("noop").mode("overwrite").save()
    return IVFIndex(assigned, [centers[i] for i in range(len(centers))], id_col)


def _probe_cells(rows: DataFrame, centers, n_probe: int, vec_col: str) -> DataFrame:
    """Each row of ``rows`` repeated once per cell of its ``n_probe``
    nearest centroids, nearest first, with that cell in a new ``cell``
    column: the one routing pass behind every IVF assignment and search.

    One Arrow-batched ``mapInPandas``: the centroid matrix (KBs) ships in
    the closure, distances are one per-batch matmul in the expanded form
    ``|q|^2 - 2 q.c + |c|^2``, and a stable argsort breaks distance ties
    to the lower cell index -- at ``n_probe = 1`` the same cell as
    ``argmin``.  No shuffle and no driver collect, so a query relation of
    any size routes where it lives."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(centers, dtype=np.float64)
    c2 = (C ** 2).sum(axis=1)
    n_probe = min(int(n_probe), len(C))
    out_schema = StructType(
        [StructField(f.name, f.dataType) for f in rows.schema]
        + [StructField("cell", IntegerType())]
    )

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            D = (M ** 2).sum(axis=1)[:, None] - 2.0 * (M @ C.T) + c2[None, :]
            cells = np.argsort(D, axis=1, kind="stable")[:, :n_probe]
            yield pdf.iloc[np.arange(len(pdf)).repeat(n_probe)].assign(
                cell=cells.ravel().astype("int32")
            )

    return rows.mapInPandas(probe, out_schema)


def assign_cells(vecs: DataFrame, centers, id_col: str) -> DataFrame:
    """(id, v) -> (id, v, cell) with ``cell`` = the nearest centroid (the
    ``n_probe = 1`` case of :func:`_probe_cells`).  The coarse-quantization
    half of IVF as a standalone -- build_ivf_index uses it over the
    training corpus, and the persisted ANN store (operators/ann_store.py)
    uses it to assign appended batches against its stored centroids, so a
    stored assignment is bit-identical to an in-memory rebuild's."""
    return _probe_cells(vecs.select(id_col, "v"), centers, 1, "v")


def _cell_search(
    index: IVFIndex, queries: DataFrame, k: int, n_probe: int, panel: bool
) -> DataFrame:
    """Top-``k`` by exact cosine for every (query_id, qv) row of
    ``queries`` within its ``n_probe`` nearest cells: the one IVF scorer.

    The routed queries meet the index in one equi-join on ``cell``; a
    corpus row lives in exactly one cell, so it matches a query at most
    once, and one ``(score desc, id)`` row_number per query ranks the
    candidates.  ``panel`` marks a query set known to be small (a handful
    of ids) and broadcasts it; an ingest batch is unbounded, so AQE
    picks the join side.  A query never returns its own id.
    Returns (query_id, id, score, rank<=k)."""
    id_col = index.id_col
    probes = _probe_cells(
        queries.select("query_id", "qv"), index.centers, n_probe, "qv"
    )
    scored = _score(
        index.assigned,
        probes,
        _cosine(len(index.centers[0])),
        id_col,
        on="cell",
        broadcast=panel,
    )
    return _rank_per_query(scored, k, id_col)


def ivf_search(
    index: IVFIndex, query_id: int, k: int = 10, n_probe: int = 2
) -> DataFrame:
    """Top-k by exact cosine within the ``n_probe`` cells nearest the
    query vector; the rest of the corpus is never touched.  A panel of
    one (:func:`ivf_search_batch`), returned as (id, score, rank) in rank
    order; an id absent from the index raises ``ValueError``."""
    id_col = index.id_col
    if index.assigned.where(F.col(id_col) == query_id).isEmpty():
        raise ValueError(f"query_id {query_id} not found")
    return (
        ivf_search_batch(index, [query_id], k=k, n_probe=n_probe)
        .select(id_col, "score", "rank")
        .orderBy("rank")
    )


def ivf_search_batch(
    index: IVFIndex, query_ids, k: int = 10, n_probe: int = 2
) -> DataFrame:
    """Top-k for a PANEL of queries in one Spark action.

    The panel's own rows of ``index.assigned`` are the query vectors:
    they route through :func:`_probe_cells` on the executors and the
    (query_id, qv, cell) probe relation -- |panel| * n_probe rows --
    broadcasts into :func:`_cell_search`'s equi-join on ``cell``.  Nothing
    runs until the caller's action, and nothing collects to the driver.

    Missing query ids are skipped (same degrade-don't-crash contract as
    the panel helpers).  Returns (query_id, vec_id, score, rank<=k)."""
    queries = _queries(index.assigned, query_ids, index.id_col, qv="v")
    return _cell_search(index, queries, k, n_probe, panel=True)


# -- registered queries ------------------------------------------------------

_DUCK_VECS = (
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "q AS (SELECT v AS qv FROM e WHERE vec_id = 0) "
)


@register(
    "x10_knn_cosine_topk",
    _DUCK_VECS
    + "SELECT vec_id, score, rank FROM ("
    " SELECT vec_id, round(" + duck_cosine("v", "qv", DIM) + ", 6) AS score, "
    "  row_number() OVER (ORDER BY round(" + duck_cosine("v", "qv", DIM) + ", 6) DESC, vec_id) AS rank "
    " FROM e CROSS JOIN q WHERE vec_id <> 0) t WHERE rank <= 10",
    "brute-force cosine top-10 against vec_id=0 (deterministic tie-break)",
)
def x10_knn(spark, sf_dir) -> DataFrame:
    return knn_topk(t(spark, sf_dir, "embeddings"), query_id=0, k=10)


_DUCK_NORMED = (
    "WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    f"e AS (SELECT vec_id, {duck_normalize('v', DIM)} AS nv FROM e0) "
)

_DUCK_PAIR_COS = f"round({duck_dot('a.nv', 'b.nv', DIM)}, 6)"


# Threshold 0.35, not a "near-dup-looking" 0.9x: the driver corpus's
# pairwise-cosine distribution tops out at ~0.60 (measured at all three
# SFs), so any higher cutoff returns zero rows and the oracle compares
# empty frames -- the r6 verdict flagged exactly that vacuity (every
# green row ever earned was 0-vs-0).  0.35 sits in the corpus's real
# near-dup band (the same band x54 verifies semantic duplicates in) and
# yields 257/271/4137 pairs at sf0.001/0.01/0.1 -- the driver row now
# checks actual similarity values.  Non-emptiness is pinned in
# tests/test_oracle.py.
@register(
    "x11_embed_near_dup",
    _DUCK_NORMED
    + "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
    + _DUCK_PAIR_COS
    + " AS cosine FROM e a JOIN e b ON a.vec_id < b.vec_id "
    + "WHERE " + _DUCK_PAIR_COS + " >= 0.35",
    "embedding-cosine near-dup pairs (unit-normalized, threshold 0.35 -- "
    "inside this corpus's measured similarity band)",
)
def x11_near_dup(spark, sf_dir) -> DataFrame:
    return embedding_near_dup_pairs(t(spark, sf_dir, "embeddings"), threshold=0.35)


_DUCK_BUCKETED = (
    "WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    f"e AS (SELECT vec_id, v, {duck_hyperplane_bucket('v')} AS bucket FROM e0), "
    "q AS (SELECT v AS qv, bucket AS qbucket FROM e WHERE vec_id = 0) "
)


@register(
    "x12_ann_lsh_topk",
    _DUCK_BUCKETED
    + "SELECT vec_id, score, rank FROM ("
    " SELECT e.vec_id, round(" + duck_cosine("e.v", "q.qv", DIM) + ", 6) AS score, "
    "  row_number() OVER (ORDER BY round(" + duck_cosine("e.v", "q.qv", DIM) + ", 6) DESC, e.vec_id) AS rank "
    " FROM e JOIN q ON e.bucket = q.qbucket WHERE e.vec_id <> 0) t "
    "WHERE rank <= 10",
    "ANN top-10: deterministic hyperplane-LSH bucket prefilter + exact "
    "cosine (oracle-checkable LSH)",
)
def x12_ann_lsh(spark, sf_dir) -> DataFrame:
    return ann_lsh_topk(t(spark, sf_dir, "embeddings"), query_id=0, k=10)


# -- metric oracles for the ml-internal ANN paths ----------------------------
#
# The hash families inside ml BRP-LSH / KMeans are not SQL-expressible, so
# through r5 x13/x14 were rows-only.  Their QUALITY is portable though:
# redefine each entry's output as (a) the exact kNN answer for a fixed
# query panel -- genuinely recomputed by DuckDB, full cross-engine value
# check -- plus (b) a recall@10 acceptance flag measured Spark-side against
# that exact answer, which the oracle predicts as a literal TRUE.  A broken
# ANN path (wrong bucketing, wrong probe, wrong distance) drives recall to
# ~0 and ships a red driver row; the seeded hash families make the measured
# recall deterministic for a given corpus.
#
# Thresholds come from measured per-query recalls across sf0.001/0.01/0.1
# (5 queries x 3 SFs): BRP min 0.9 (flag at mean >= 0.6); IVF with
# n_probe=8 of 16 cells min 0.7, mean 0.88 at every SF under the
# sample-trained Lloyd quantizer (flag at mean >= 0.5 -- on this isotropic
# random corpus IVF recall ~ probed-cell coverage, so 8/16 cells bounds
# the expectation near 0.5; clustered real corpora do better).

ANN_QUERY_IDS = (0, 1, 2, 3, 4)

#: One-slot cache for the panel-entry prep relation: x13 and x14 each need
#: the valid-vector corpus twice (exact panel: double-cast arrays; ml path:
#: ml vectors), so a bench pass re-scanned/filtered/cast the embeddings
#: table four times.  The prep is computed ONCE per (session, sf_dir) as a
#: persisted (vec_id, v, features) relation shared by both entries and both
#: halves.
_PANEL_PREP = PersistSlot()

#: Rows of 64-dim vectors per partition of the shared panel-prep cache.
#: Sized so the per-row work a partition carries (~0.5 ms/row of
#: interpreted cosine/cast expressions) stays well above the per-task
#: dispatch cost its consumers pay per ML-fit iteration.
_PREP_ROWS_PER_PART = 512


def _panel_prep(spark, sf_dir: str) -> DataFrame:
    """(vec_id, v: array<double>, features: ml VectorUDT) over the valid
    vectors of ``sf_dir``'s embeddings table, persisted and shared across
    the x13/x14 metric-oracle entries."""
    from pyspark.ml.functions import array_to_vector

    from .store import footer_row_count

    # Session-unique key: applicationId, not id(spark) -- id() values can
    # be reused after the old session is garbage-collected, and a stale
    # hit here would hand out a persisted DataFrame bound to a STOPPED
    # session (worse than the harmless re-read the id() pattern risks in
    # queries.py, because this cache holds a persisted relation).  The
    # table's file fingerprint (an os.stat walk, no Spark job) makes a
    # rewritten embeddings table a miss, like _panel_search's store key.
    key = (
        spark.sparkContext.applicationId,
        table_fingerprint(os.path.join(sf_dir, "embeddings.parquet")),
    )
    cached = _PANEL_PREP.get(key)
    if cached is not None:
        return cached
    _PANEL_PREP.evict()
    emb = t(spark, sf_dir, "embeddings")
    # spread before the cast/vectorize projections: the persisted prep
    # inherits the scan's partitioning, and a single-row-group scan would
    # leave every downstream consumer (exact panels, ml fit, IVF assign)
    # reading ONE cached partition -- serializing their per-row work.
    # Width is derived from the corpus row count (parquet footer, a
    # driver-side metadata read), NOT blanket cluster width: the prep
    # feeds ITERATIVE ml fits (KMeans runs ~25 jobs over this cache), so
    # every surplus partition is paid per iteration -- at 2k vectors a
    # 32-wide cache cost x14 ~0.7 s of pure task dispatch.  Past
    # _PREP_ROWS_PER_PART rows per core the derived width saturates at
    # cluster width, so real-scale inputs still spread fully.
    rows = footer_row_count(spark, sf_dir, "embeddings")
    width = max(1, min(
        spark.sparkContext.defaultParallelism,
        -(-rows // _PREP_ROWS_PER_PART),
    ))
    return _PANEL_PREP.hold(
        spread(valid_vectors(emb), parts=width).select(
            F.col("vec_id"),
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
            array_to_vector(F.col("embedding")).alias("features"),
        ),
        key=key,
    )


def _exact_topk_panel(
    df: DataFrame, metric: str, k: int = 10, vecs: DataFrame | None = None
) -> DataFrame:
    """Exact top-``k`` for the fixed query panel: the cross-engine-checked
    half of the x13/x14 metric oracles.  (query_id, vec_id, <dist>, rank).

    Reference path, not the serving path: the per-query window shuffles
    |panel| x |corpus| rows, fine for a fixed 5-query acceptance panel;
    bulk kNN at scale goes through batch_knn's per-partition top-k.
    ``vecs`` short-circuits the corpus prep with an already-validated
    (vec_id, v) relation (the shared _panel_prep cache)."""
    v = vecs.select("vec_id", "v") if vecs is not None else _vectors(df)
    q = _queries(v, ANN_QUERY_IDS, "vec_id", qv="v")
    if metric == "l2":
        val = F.round(F.expr(l2_expr("v", "qv", DIM)), 6).alias("l2")
        order = F.col("l2").asc()
    else:
        val, order = _cosine(), None
    return _rank_per_query(_score(v, q, val, "vec_id"), k, "vec_id", order)


def _with_recall_flag(
    exact: DataFrame, ann_ids: dict, threshold: float
) -> DataFrame:
    """Attach ``recall_ok`` = (micro-averaged recall@k of ``ann_ids``
    against the exact panel) >= threshold.  In-plan: the exact relation is
    computed once; the ANN hits are a tiny literal relation."""
    from pyspark.sql.window import Window

    spark = exact.sparkSession
    pairs = [
        (int(qid), int(vid)) for qid, vids in ann_ids.items() for vid in vids
    ]
    hits = spark.createDataFrame(
        pairs or [], "query_id long, vec_id long"
    ).withColumn("__hit", F.lit(1))
    w = Window.partitionBy(F.lit(0))  # <= |panel| * k rows reach it
    rec = F.sum(F.coalesce(F.col("__hit"), F.lit(0))).over(w) / F.count(
        F.lit(1)
    ).over(w)
    return (
        exact.join(hits, ["query_id", "vec_id"], "left")
        .withColumn("recall_ok", rec >= threshold)
        .drop("__hit")
    )


_DUCK_PANEL = (
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, v AS qv FROM e "
    f" WHERE vec_id IN {ANN_QUERY_IDS}) "
)


@register(
    "x13_ann_brp_ml",
    _DUCK_PANEL
    + "SELECT query_id, vec_id, l2, rank, TRUE AS recall_ok FROM ("
    " SELECT q.query_id, e.vec_id, round(" + duck_l2("e.v", "q.qv", DIM) + ", 6) AS l2, "
    "  row_number() OVER (PARTITION BY q.query_id ORDER BY round("
    + duck_l2("e.v", "q.qv", DIM) + ", 6), e.vec_id) AS rank "
    " FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id) t WHERE rank <= 10",
    "scale-path ANN via ml BucketedRandomProjectionLSH, metric-oracled: "
    "exact L2 top-10 panel cross-checked by DuckDB + measured recall@10 "
    "acceptance flag (mean over 5 queries >= 0.6; seeded, deterministic)",
)
def x13_brp_ml(spark, sf_dir) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    # One fit + one key collect for the whole panel (brp_lsh_ml_panel);
    # a panel id without a valid vector is absent from the prep, so it
    # drops out of the panel with no separate probe job.  The corpus prep is
    # the shared _panel_prep relation -- scanned/validated/cast once for
    # both the ml path and the exact panel, and reused by x14.
    prep = _panel_prep(spark, sf_dir)
    ann = brp_lsh_ml_panel(emb, ANN_QUERY_IDS, k=10, feat=prep)
    return _with_recall_flag(_exact_topk_panel(emb, "l2", vecs=prep), ann, 0.6)


@register(
    "x14_ann_ivf_ml",
    _DUCK_PANEL
    + "SELECT query_id, vec_id, score, rank, TRUE AS recall_ok FROM ("
    " SELECT q.query_id, e.vec_id, round(" + duck_cosine("e.v", "q.qv", DIM) + ", 6) AS score, "
    "  row_number() OVER (PARTITION BY q.query_id ORDER BY round("
    + duck_cosine("e.v", "q.qv", DIM) + ", 6) DESC, e.vec_id) AS rank "
    " FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id) t WHERE rank <= 10",
    "IVF ANN (seeded KMeans cells, 8 of 16 probed), metric-oracled: exact "
    "cosine top-10 panel cross-checked by DuckDB + measured recall@10 "
    "acceptance flag (mean over 5 queries >= 0.5, the coverage bound for "
    "an isotropic corpus; seeded, deterministic)",
)
def x14_ivf_ml(spark, sf_dir) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    prep = _panel_prep(spark, sf_dir)
    if prep.isEmpty():
        # KMeans.fit throws on zero rows; the exact panel (and so the
        # whole metric relation) is empty for an empty corpus.
        return _with_recall_flag(
            _exact_topk_panel(emb, "cosine", vecs=prep), {}, 0.5
        )
    index = build_ivf_index(emb, feat=prep)
    try:
        # One batched job for the whole panel (the per-query loop paid 10
        # sequential driver round trips); assigned is built from
        # valid_vectors, so a panel id without a valid vector drops out.
        ann: dict = {}
        for r in (
            ivf_search_batch(index, ANN_QUERY_IDS, k=10, n_probe=8)
            .select("query_id", "vec_id")
            .collect()
        ):
            ann.setdefault(r.query_id, []).append(r.vec_id)
    finally:
        index.unpersist()
    return _with_recall_flag(
        _exact_topk_panel(emb, "cosine", vecs=prep), ann, 0.5
    )


# -- int8 quantization (scale path for 100 TB ANN) ---------------------------
#
# Symmetric per-vector int8: scale = max|x| / 127, q_i = floor(x_i/scale +
# 0.5).  4x less memory bandwidth than float32 on the brute-force scan --
# at 100 TB the kNN scan is bandwidth-bound, so this is the single biggest
# lever before IVF cell pruning (x14).  Quantized dot products are exact
# int64 arithmetic (|q| <= 127, dim 64 -> |dot| <= 127*127*64 < 2^20), so
# unlike every float path the oracle parity here is bit-exact with NO
# rounding step anywhere.


def quantize_int8_expr(vec: str) -> str:
    """Spark SQL: int8-quantized copy of double-array ``vec`` (array<long>
    for arithmetic headroom; values all within [-127, 127])."""
    amax = f"array_max(transform({vec}, x -> abs(x)))"
    scale = f"(CASE WHEN {amax} = 0.0D THEN 1.0D ELSE {amax} / 127.0D END)"
    return (
        f"transform(array({scale}), s -> "
        f"transform({vec}, x -> CAST(floor(x / s + 0.5D) AS BIGINT)))[0]"
    )


def duck_quantize_int8(vec: str) -> str:
    amax = f"list_max(list_transform({vec}, x -> abs(x)))"
    scale = f"(CASE WHEN {amax} = 0.0 THEN 1.0 ELSE {amax} / 127.0 END)"
    return (
        f"list_transform({vec}, x -> "
        f"CAST(floor(x / {scale} + 0.5) AS BIGINT))"
    )


def quantize_stats(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Per-vector quantization summary: scale plus exact integer stats of
    the quantized values (the scalar projection of the quantized vector the
    driver can hash; the array itself stays an internal representation)."""
    e = _vectors(df, vec_col, id_col)
    amax = "array_max(transform(v, x -> abs(x)))"
    return (
        e.withColumn(
            "q_scale_raw",
            F.expr(f"CASE WHEN {amax} = 0.0D THEN 1.0D "
                   f"ELSE {amax} / 127.0D END"),
        )
        .withColumn("qv", F.expr(quantize_int8_expr("v")))
        .select(
            id_col,
            F.round("q_scale_raw", 6).alias("q_scale"),
            F.expr("aggregate(qv, 0L, (acc, x) -> acc + x)").alias("q_sum"),
            F.expr("array_min(qv)").alias("q_min"),
            F.expr("array_max(qv)").alias("q_max"),
            F.expr("CAST(size(filter(qv, x -> abs(x) = 127)) AS BIGINT)")
            .alias("n_sat"),
        )
    )


def knn_int8_topk(
    df: DataFrame,
    query_id: int = 0,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force top-k by quantized integer dot product against
    ``query_id``'s vector: same shape as :func:`knn_topk` (broadcast query
    row, map-side scores, TakeOrdered ranking) but the scan reads int8-range
    values and the score is exact int64 -- the memory-bandwidth-bound scale
    path, and the only ANN variant with bit-exact oracle parity."""
    e = _vectors(df, vec_col, id_col).select(
        id_col, F.expr(quantize_int8_expr("v")).alias("qa")
    )
    dot = F.expr(
        "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (acc, x) -> acc + x)"
    ).alias("score")
    q = _queries(e, query_id, id_col, qb="qa")
    return _topk_ranked(_score(e, q, dot, id_col), k, id_col)


_DUCK_Q = (
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "qe AS (SELECT vec_id, " + duck_quantize_int8("v") + " AS qa FROM e), "
    "q AS (SELECT qa AS qb FROM qe WHERE vec_id = 0) "
)


@register(
    "x35_embedding_quantize",
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "s AS (SELECT vec_id, v, "
    " CASE WHEN amax = 0.0 THEN 1.0 ELSE amax / 127.0 END AS sc FROM ("
    "  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax "
    "  FROM e)), "
    "qq AS (SELECT vec_id, sc, list_transform(v, x -> "
    " CAST(floor(x / sc + 0.5) AS BIGINT)) AS qv FROM s) "
    "SELECT vec_id, round(sc, 6) AS q_scale, "
    " CAST(list_sum(qv) AS BIGINT) AS q_sum, "
    " list_min(qv) AS q_min, list_max(qv) AS q_max, "
    " CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat "
    "FROM qq",
    "symmetric per-vector int8 quantization: scale + exact integer stats "
    "of the quantized values",
)
def x35_quantize(spark, sf_dir) -> DataFrame:
    return quantize_stats(t(spark, sf_dir, "embeddings"))


@register(
    "x36_knn_int8_topk",
    _DUCK_Q
    + "SELECT vec_id, score, rank FROM ("
    " SELECT vec_id, CAST(list_sum(list_transform(range(1, 65), "
    "  i -> qa[i] * qb[i])) AS BIGINT) AS score, "
    "  row_number() OVER (ORDER BY CAST(list_sum(list_transform("
    "  range(1, 65), i -> qa[i] * qb[i])) AS BIGINT) DESC, vec_id) AS rank "
    " FROM qe CROSS JOIN q WHERE vec_id <> 0) t WHERE rank <= 10",
    "quantized brute-force top-10 by exact int64 dot product against "
    "vec_id=0 (bit-exact oracle parity, no float rounding anywhere)",
)
def x36_knn_int8(spark, sf_dir) -> DataFrame:
    return knn_int8_topk(t(spark, sf_dir, "embeddings"), query_id=0, k=10)


# -- deterministic centroid assignment (IVF coarse step, exact) --------------


def _best_int8_centroid(qe: DataFrame, k: int, id_col: str) -> DataFrame:
    """``qe`` (id, qa: int8-quantized vector, ...) with a ``b`` column =
    struct(s, negcid): each row's best of the ``k`` lowest-id vectors as
    centroids by exact int64 dot product, ties to the lowest cid via max
    on (s, -cid).  The k quantized centroids collapse into ONE
    array-of-structs row that broadcasts, so the argmax is a map-side
    array fold with no shuffle of ``qe``."""
    cents = (
        qe.where(F.col(id_col) < k)
        .select(F.expr(f"named_struct('cid', {id_col}, 'qc', qa)").alias("c"))
        .agg(F.expr("array_agg(c)").alias("cs"))
    )
    return (
        qe.crossJoin(F.broadcast(cents))
        .withColumn(
            "b",
            F.expr(
                "array_max(transform(cs, c -> named_struct("
                " 's', aggregate(zip_with(qa, c.qc, (x, y) -> x * y), 0L,"
                "  (a, x) -> a + x),"
                " 'negcid', -c.cid)))"
            ),
        )
        .drop("cs")
    )


def centroid_assign(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every vector to its best of ``k`` fixed centroids (the
    vectors with the ``k`` lowest ids -- deterministic seeds, the same
    convention as IVF's build step) by maximum quantized-int8 dot product,
    and return the per-centroid census: assigned count + exact integer
    score total.  This is the coarse-assignment half of IVF clustering
    exposed as an auditable standalone: the census tells you whether the
    cell population is balanced before you commit to an index build.

    Scoring is the x36 int8 path, so assignment is exact int64 arithmetic
    with NO float comparisons anywhere -- the argmax is bit-reproducible on
    any engine (ties break to the lowest centroid id via max on
    (score, -cid)).

    Scale design: the k quantized centroids collapse into ONE array-of-
    structs row, broadcast to every task; per-vector argmax is then a
    map-side array fold (no per-centroid row explosion, no shuffle of the
    embedding relation at all) and only the k-row census aggregates.  At
    100 TB this plans as scan -> project -> 8-row partial agg: the minimum
    possible data movement for an assignment pass.
    """
    e = _vectors(df, vec_col, id_col).select(
        id_col, F.expr(quantize_int8_expr("v")).alias("qa")
    )
    best = _best_int8_centroid(e, k, id_col)
    return best.groupBy(
        (-F.col("b.negcid")).cast("long").alias("centroid_id")
    ).agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.sum("b.s").cast("long").alias("sum_score"),
    )


@register(
    "x42_centroid_assign",
    _DUCK_Q
    + ", cents AS (SELECT vec_id AS cid, qa AS qc FROM qe WHERE vec_id < 8), "
    "scored AS ("
    " SELECT qe.vec_id, cents.cid,"
    "  CAST(list_sum(list_transform(range(1, 65), i -> qa[i] * qc[i]))"
    "   AS BIGINT) AS s,"
    "  row_number() OVER (PARTITION BY qe.vec_id ORDER BY"
    "   CAST(list_sum(list_transform(range(1, 65), i -> qa[i] * qc[i]))"
    "    AS BIGINT) DESC, cents.cid) AS rn"
    " FROM qe CROSS JOIN cents) "
    "SELECT CAST(cid AS BIGINT) AS centroid_id, COUNT(*) AS n_assigned, "
    " CAST(SUM(s) AS BIGINT) AS sum_score "
    "FROM scored WHERE rn = 1 GROUP BY cid",
    "IVF coarse assignment census: every vector assigned to its best of 8 "
    "deterministic centroids by exact int8-quantized dot product "
    "(broadcast centroid array, map-side argmax, zero data shuffle)",
)
def x42_assign(spark, sf_dir) -> DataFrame:
    return centroid_assign(t(spark, sf_dir, "embeddings"), k=8)


# -- filtered vector search (metadata predicate + kNN) -----------------------


def filtered_knn(
    emb: DataFrame,
    docs: DataFrame,
    predicate,
    query_id: int = 0,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` cosine neighbors of ``query_id`` among only the vectors
    whose joined document row satisfies ``predicate`` -- filtered vector
    search, the production retrieval shape (a RAG query is almost never
    "nearest over everything": it is nearest over one tenant / language /
    date range / quality tier).

    Mechanics: the predicate is evaluated entirely on the documents scan
    (only the id and predicate columns are read -- pushdown-friendly), the
    surviving ids LEFT SEMI join the vector relation, and scoring + top-k
    proceed as in :func:`knn_topk` (broadcast query row, map-side scores,
    ``TakeOrderedAndProject`` heap merge).  The query vector is taken from
    the UNFILTERED relation, so a query document that fails its own filter
    still anchors the search.

    Scale notes (100 TB): the semi join is the only shuffle and moves ids
    on the filter side and (id, vector) on the embedding side; co-bucket
    both tables by id to eliminate it entirely.  For selective predicates
    AQE broadcasts the survivor id set, turning the whole search into one
    scan of the vector table -- strictly cheaper than post-filtering a
    global top-k, which must over-fetch by an unknowable factor when the
    filter is selective.
    """
    e = _vectors(emb, vec_col, id_col)
    q = _queries(e, query_id, id_col, qv="v")
    allowed = docs.where(predicate).select(F.col(doc_id_col).alias(id_col))
    vecs = e.join(allowed, id_col, "left_semi")
    return _topk_ranked(_score(vecs, q, _cosine(), id_col), k, id_col)


@register(
    "x49_filtered_knn",
    _DUCK_VECS
    + ", allowed AS (SELECT doc_id FROM documents"
    "   WHERE lang = 'en' AND n_chars >= 200) "
    "SELECT vec_id, score, rank FROM ("
    " SELECT vec_id, round(" + duck_cosine("v", "qv", DIM) + ", 6) AS score, "
    "  row_number() OVER (ORDER BY round(" + duck_cosine("v", "qv", DIM) + ", 6) DESC, vec_id) AS rank "
    " FROM e JOIN allowed ON e.vec_id = allowed.doc_id CROSS JOIN q"
    " WHERE vec_id <> 0) t WHERE rank <= 10",
    "filtered vector search: cosine top-10 among vectors whose document "
    "passes a metadata predicate (lang + length), semi-join before scoring",
)
def x49_filtered(spark, sf_dir) -> DataFrame:
    return filtered_knn(
        t(spark, sf_dir, "embeddings"),
        t(spark, sf_dir, "documents"),
        (F.col("lang") == "en") & (F.col("n_chars") >= 200),
    )


# -- semantic dedup (SemDeDup-style, cell-blocked) ---------------------------


#: semantic_dedup's cell-assignment relation.
_SEMDEDUP = PersistSlot()


def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: every vector is assigned to
    its nearest of ``k`` deterministic centroids (the x42 exact int8
    argmax), and WITHIN each cell a vector is flagged a semantic duplicate
    if any lower-id cellmate has rounded cosine >= ``threshold``.  Returns
    one row per vector: (id, centroid_id, is_dup) -- the keep/drop decision
    a corpus build applies before training.

    Why the cell blocking matters: embedding near-dup (x11) compares all
    pairs -- O(n^2) in the corpus.  SemDeDup's observation is that semantic
    duplicates land in the same coarse cluster, so the quadratic only runs
    within cells: cost drops to sum(|cell|^2), and at 100 TB you grow ``k``
    with the corpus (k ~ n / target_cell_size) so cells stay bounded and
    the whole pass stays linear-ish.  Missed cross-cell pairs are the
    documented recall trade the SemDeDup paper accepts.

    Plan shape: one broadcast of the k-centroid array (map-side argmax, as
    x42), then the x11 block-matmul layout RESTRICTED to same-cell block
    pairs: rows pack into (cell, id mod B) matrix blocks, the block-pair
    grid joins on equal cell, and each pair scores as one vectorized numpy
    ``A @ B.T`` (a SQL pair join re-evaluating the 64-term dot per pair in
    an interpreted lambda measured ~10 s at sf0.1; the matmul form is
    sub-second).  A pair flags only its higher id (``vec_b``), so the
    flagged ids come back as a skinny distinct joined onto the
    assignment.
    """
    # spread: quantize/argmax/normalize are interpreted per-row lambdas;
    # a single-row-group scan would evaluate the whole assignment prep
    # single-task (measured 3 x 1.47 s one-task stages at sf0.1)
    e = spread(_vectors(df, vec_col, id_col))
    qe = e.withColumn("qa", F.expr(quantize_int8_expr("v")))
    # Referenced three times (both block-grid sides + the final left
    # join); without a persist each reference replans the whole
    # quantize/argmax/normalize pipeline -- the x07 ReuseExchange
    # lesson.  Skinny relation: (id, cell, unit vector).
    _SEMDEDUP.evict()
    assigned = _SEMDEDUP.hold(
        _best_int8_centroid(qe, k, id_col).select(
            id_col,
            (-F.col("b.negcid")).cast("long").alias("centroid_id"),
            F.expr(normalize_expr("v", DIM)).alias("nv"),
        ),
        StorageLevel.MEMORY_AND_DISK_DESER,
    )
    # Counting the held relation fills its cache in this one job; the
    # grid's three references then read it instead of each running a fill.
    n_blocks = max(1, min(64, -(-assigned.count() // (k * 1024))))
    blocks = (
        assigned.withColumn(
            "bid", F.pmod(F.col(id_col), F.lit(n_blocks)).cast("long")
        )
        .groupBy("centroid_id", "bid")
        .agg(F.collect_list(F.struct(F.col(id_col).alias("vid"), "nv")).alias("rows"))
    )
    dups = (
        _block_pairs(blocks, threshold, cell="centroid_id")
        .select(F.col("vec_b").alias(id_col))
        .distinct()
        .withColumn("flag", F.lit(1).cast("long"))
    )
    return assigned.join(dups, id_col, "left").select(
        id_col,
        "centroid_id",
        F.coalesce(F.col("flag"), F.lit(0).cast("long")).alias("is_dup"),
    )


_DUCK_CELL = (
    ", cents AS (SELECT vec_id AS cid, qa AS qc FROM qe WHERE vec_id < 8), "
    "cell AS (SELECT vec_id, cid FROM ("
    " SELECT qe.vec_id, cents.cid, row_number() OVER ("
    "  PARTITION BY qe.vec_id ORDER BY"
    "  CAST(list_sum(list_transform(range(1, 65), i -> qa[i] * qc[i]))"
    "   AS BIGINT) DESC, cents.cid) AS rn"
    " FROM qe CROSS JOIN cents) t WHERE rn = 1), "
    "av AS (SELECT cell.vec_id, cell.cid, "
    + duck_normalize("e.v", DIM)
    + " AS nv FROM cell JOIN e USING (vec_id)) "
)


@register(
    "x54_semantic_dedup",
    _DUCK_Q
    + _DUCK_CELL
    + ", dups AS (SELECT DISTINCT a.vec_id FROM av a JOIN av b"
    "   ON a.cid = b.cid AND b.vec_id < a.vec_id"
    "   WHERE round(" + duck_dot("a.nv", "b.nv", DIM) + ", 6) >= 0.35) "
    "SELECT av.vec_id, CAST(av.cid AS BIGINT) AS centroid_id, "
    " CAST(CASE WHEN dups.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)"
    "  AS is_dup "
    "FROM av LEFT JOIN dups ON av.vec_id = dups.vec_id",
    "SemDeDup-style semantic dedup: exact int8 centroid assignment, then "
    "within-cell cosine flagging against lower-id cellmates (the quadratic "
    "runs per cell, never corpus-wide)",
)
def x54_semdedup(spark, sf_dir) -> DataFrame:
    return semantic_dedup(t(spark, sf_dir, "embeddings"), k=8, threshold=0.35)


# -- semantic contamination (embedding-level decontamination) ----------------


def semantic_contamination(
    df: DataFrame,
    bench_label: int = 9,
    threshold: float = 0.40,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-level benchmark decontamination: flag every corpus vector
    whose max cosine against ANY benchmark vector (rows with
    ``label = bench_label``) reaches ``threshold``; return
    (id, nearest bench id, rounded score) for the contaminated rows.

    The n-gram contamination check (x31, functions/scrub.py) catches exact
    and near-verbatim inclusions; this catches *paraphrased* test-set
    leakage that shares no shingle -- the second stage of a real
    decontamination gate.

    Same scale asymmetry as x31: the benchmark set is small and bounded,
    so it is unit-normalized once, collected (a bounded planner artifact,
    like the contamination shingle set and the union-find edge list), and
    broadcast to every task as ONE numpy matrix; the corpus is scanned
    exactly once and each Arrow batch scores as a vectorized
    ``block @ bench.T`` -- no join shuffle, no corpus movement, no
    per-pair interpreted dot (the SQL array-of-structs max measured ~6 s
    at sf0.1; the matmul form is sub-second).  Scores round to 6dp before
    the max so BLAS and the oracle's sequential fold agree; ties break to
    the lowest benchmark id (bench rows sorted by id, argmax takes the
    first maximum).
    """
    import pandas as pd

    ev = valid_vectors(df, vec_col, id_col).select(
        F.col(id_col),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("v"),
        F.col(label_col),
    )

    def nearest_bench(ids, scores, bench_ids):
        import numpy as np

        # bench rows are id-sorted, so argmax's first-maximum rule IS the
        # lowest-bench-id tie-break
        best_j = scores.argmax(axis=1)
        best_s = scores[np.arange(len(ids)), best_j]
        keep = best_s >= threshold
        return pd.DataFrame(
            {
                "vec_id": ids[keep],
                "bench_id": bench_ids[best_j[keep]],
                "score": best_s[keep],
            }
        )

    return _matrix_scan(
        ev.where(F.col(label_col) == bench_label),
        ev.where(F.col(label_col) != bench_label),
        id_col,
        "vec_id long, bench_id long, score double",
        nearest_bench,
    )


@register(
    "x55_semantic_contamination",
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label"
    "  FROM embeddings), "
    "nb AS (SELECT vec_id AS bid, " + duck_normalize("v", DIM) + " AS bv"
    "  FROM e WHERE label = 9), "
    "c AS (SELECT vec_id, " + duck_normalize("v", DIM) + " AS nv"
    "  FROM e WHERE label <> 9), "
    "m AS (SELECT c.vec_id, nb.bid,"
    "  round(" + duck_dot("nv", "bv", DIM) + ", 6) AS s,"
    "  row_number() OVER (PARTITION BY c.vec_id ORDER BY"
    "   round(" + duck_dot("nv", "bv", DIM) + ", 6) DESC, nb.bid) AS rn"
    " FROM c CROSS JOIN nb) "
    "SELECT vec_id, CAST(bid AS BIGINT) AS bench_id, s AS score "
    "FROM m WHERE rn = 1 AND s >= 0.40",
    "embedding-level decontamination: corpus vectors whose max cosine "
    "against the broadcast benchmark set (label=9) reaches 0.40 -- catches "
    "paraphrased leakage the n-gram check (x31) cannot",
)
def x55_semantic_contam(spark, sf_dir) -> DataFrame:
    return semantic_contamination(
        t(spark, sf_dir, "embeddings"), bench_label=9, threshold=0.40
    )


# -- batched multi-query kNN -------------------------------------------------


def batch_knn(
    df: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-``k`` cosine neighbors for a BATCH of query vectors in one
    corpus pass.  Production retrieval is never one query at a time: an
    evaluation sweep or an online batch scores hundreds of queries, and
    re-scanning 100 TB per query is the difference between feasible and
    not.

    Dataflow: the query vectors (bounded, like x55's benchmark set)
    collect once, unit-normalized, and broadcast as one numpy matrix.
    Each corpus Arrow batch computes ``block @ Q.T`` and emits only its
    LOCAL top-k rows per query, selected by the exact global order
    (rounded score desc, id asc) so ties cannot drop the global winner.
    The global merge is then a window over at most
    ``partitions * |Q| * k`` skinny rows -- WindowGroupLimit keeps
    per-partition heaps, never a full sort.  Total shuffle: O(candidate
    rows), independent of corpus size.

    A query id never appears in its own result (self-cosine is 1.0); it
    may appear in other queries' results, matching x49's convention.
    """
    import pandas as pd

    if query_ids is None:
        query_ids = list(range(8))
    ev = _vectors(df, vec_col, id_col)

    def local_topk(ids, scores, q_ids):
        import numpy as np

        outs = []
        for j in range(len(q_ids)):
            s = scores[:, j]
            valid = ids != q_ids[j]  # never self-match
            cand_ids, cand_s = ids[valid], s[valid]
            # exact global order locally: (-score, id) lexicographic, so a
            # tie on score keeps the LOWEST ids -- the global winner is
            # always inside the local top-k
            order = np.lexsort((cand_ids, -cand_s))[:k]
            outs.append(
                pd.DataFrame(
                    {
                        "query_id": q_ids[j],
                        "vec_id": cand_ids[order],
                        "score": cand_s[order],
                    }
                )
            )
        return pd.concat(outs)

    cand = _matrix_scan(
        ev.where(F.col(id_col).isin(query_ids)),
        ev,
        id_col,
        "query_id long, vec_id long, score double",
        local_topk,
    )
    return _rank_per_query(cand, k, "vec_id")


@register(
    "x58_batch_knn",
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "qs AS (SELECT vec_id AS query_id, " + duck_normalize("v", DIM) + " AS qv"
    "  FROM e WHERE vec_id < 8), "
    "c AS (SELECT vec_id, " + duck_normalize("v", DIM) + " AS nv FROM e), "
    "s AS (SELECT qs.query_id, c.vec_id,"
    "  round(" + duck_dot("nv", "qv", DIM) + ", 6) AS score"
    " FROM c CROSS JOIN qs WHERE c.vec_id <> qs.query_id) "
    "SELECT query_id, vec_id, score, rank FROM ("
    " SELECT query_id, vec_id, score, row_number() OVER ("
    "  PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank FROM s) t "
    "WHERE rank <= 5",
    "batched multi-query kNN: 8 query vectors scored in ONE corpus pass "
    "(broadcast query matrix, per-batch local top-k in exact global order, "
    "WindowGroupLimit merge) -- shuffle is O(candidates), not O(corpus)",
)
def x58_batchknn(spark, sf_dir) -> DataFrame:
    return batch_knn(t(spark, sf_dir, "embeddings"), k=5)
