"""Every registered query must survive a pathological corpus: null text,
empty strings, whitespace-only docs, unicode, an extreme-length doc, null
metadata columns, and malformed embeddings (null vectors, NaN vectors).

These are data-quality facts of any real 100 TB corpus -- a failed
embedding job writes nulls, an overflowed encoder writes NaNs, scraped
text is empty or enormous.  Operators must degrade to exclusion or null
outputs, never crash.  This sweep found (and now regression-pins) three
real bugs: ``size(NULL)`` = -1 crashing the span-start ``sequence()``,
null embeddings making ragged numpy matmul blocks, and Spark ML ``fit``
on NaN vectors / k > n_points.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conecta_spark.queries import REGISTRY, _load_extensions

_load_extensions()


@pytest.fixture(scope="module")
def nasty_dir(oracle_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("nasty_sf")
    for p in glob.glob(f"{oracle_dir}/*.parquet"):
        name = os.path.basename(p)
        if name not in ("documents.parquet", "embeddings.parquet"):
            pq.write_table(pq.read_table(p), str(d / name))
    docs = pa.table(
        {
            "doc_id": pa.array([0, 1, 2, 3, 4, 5], type=pa.int64()),
            "text": pa.array(
                [
                    None,
                    "",
                    "x",
                    "\U0001f389\U0001f388 ünïcode テキスト " * 10,
                    "word " * 5000,
                    "\n\t  \n",
                ],
                type=pa.string(),
            ),
            "lang": pa.array(["en", None, "", "ja", "en", "en"]),
            "source": pa.array(["a", "a", None, "b", "b", "c"]),
            "n_chars": pa.array([None, 0, 1, 300, 25000, 5], type=pa.int64()),
        }
    )
    pq.write_table(docs, str(d / "documents.parquet"))
    emb = pa.table(
        {
            "vec_id": pa.array([0, 1, 2, 3], type=pa.int64()),
            "embedding": pa.array(
                [[0.0] * 64, None, [1.0] + [0.0] * 63, [float("nan")] * 64],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array([0, 1, 2, 3], type=pa.int32()),
        }
    )
    pq.write_table(emb, str(d / "embeddings.parquet"))
    return str(d)


def test_every_registered_query_survives_pathological_corpus(spark, nasty_dir):
    failures = []
    for name, qd in REGISTRY.items():
        try:
            qd.fn(spark, nasty_dir).count()
        except Exception as e:
            failures.append(f"{name}: {str(e).splitlines()[0][:120]}")
    assert not failures, "\n".join(failures)


def test_malformed_vectors_are_excluded_not_scored(spark, nasty_dir):
    """The null vector and the NaN vector must not appear in any neighbor
    list; the two well-formed vectors still rank."""
    from conecta_spark.operators.simsearch import knn_topk

    emb = spark.read.parquet(f"{nasty_dir}/embeddings.parquet")
    out = knn_topk(emb, query_id=0, k=10).collect()
    assert {r.vec_id for r in out} <= {2}


def test_infinite_vectors_are_excluded_not_scored(spark):
    """An overflowed encoder also writes +-inf.  A cosine over an infinite
    component is NaN, which must not reach a ranking: the vector drops
    out, whether it is a candidate or the query."""
    import math
    import random

    from conecta_spark.operators.simsearch import knn_topk, valid_vectors

    rng = random.Random(5)
    rows = []
    for i in range(40):
        v = [rng.uniform(-1.0, 1.0) for _ in range(64)]
        if i == 5:
            v[7] = float("inf")
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = {r.vec_id for r in valid_vectors(emb).collect()}
    assert kept == set(range(40)) - {5}
    out = {q: knn_topk(emb, query_id=q, k=50).collect() for q in (0, 5)}
    assert not any(math.isnan(r.score) for q in out for r in out[q]), out
    assert {r.vec_id for r in out[0]} == set(range(1, 40)) - {5}
    assert out[5] == []  # an invalid query vector ranks nothing
