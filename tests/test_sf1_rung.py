"""Integrity guards for the SF1 scale-rung builder.

DEPLOY.md cites sf1_rung.py's numbers as the same-row-count baseline
comparison, so the replication must actually preserve what it claims:
schema, join integrity (each replica a self-contained star), in-replica
duplicate structure (bijective text permutation), and vector geometry
(orthogonal rotation).  Verified here on a tiny k=2 build from sf0.001.
"""

from __future__ import annotations

import os
import sys

import pyspark.sql.functions as F
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import sf1_rung


@pytest.fixture(scope="module")
def mini_sf(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf_mini"))
    sf1_rung.build(spark, sf_dir, k=2, out_dir=out)
    return out


def test_row_counts_scale_by_k(spark, mini_sf):
    for name, base_rows in (("lineitem", 6000), ("documents", 500)):
        n = spark.read.parquet(f"{mini_sf}/{name}.parquet").count()
        assert n == 2 * base_rows, (name, n)
    # dims shared by every replica stay unreplicated
    assert spark.read.parquet(f"{mini_sf}/nation.parquet").count() == 25


def test_join_integrity_preserved(spark, mini_sf):
    """Every lineitem must still resolve its order (and vice versa for
    order size distribution): the key offsets move whole stars, never
    tearing an edge."""
    li = spark.read.parquet(f"{mini_sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{mini_sf}/orders.parquet")
    orphans = li.join(
        orders, li.l_orderkey == orders.o_orderkey, "left_anti"
    ).count()
    assert orphans == 0


def test_text_permutation_is_bijective(spark, sf_dir, mini_sf):
    """n_chars stays truthful and the replica keeps the base corpus's
    exact-duplicate structure (a letter permutation cannot merge or split
    duplicate groups)."""
    d = spark.read.parquet(f"{mini_sf}/documents.parquet")
    bad_len = d.where(F.length("text") != F.col("n_chars")).count()
    assert bad_len == 0
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base_groups = sorted(
        r[0] for r in base.groupBy("text").count().select("count").collect()
    )
    for rep_pred in (F.col("doc_id") < sf1_rung.OFF, F.col("doc_id") >= sf1_rung.OFF):
        rep_groups = sorted(
            r[0]
            for r in d.where(rep_pred)
            .groupBy("text")
            .count()
            .select("count")
            .collect()
        )
        assert rep_groups == base_groups


def test_embedding_rotation_preserves_norms(spark, mini_sf):
    """Component rotation is orthogonal: per-vector L2 norms must be
    bit-identical across replicas (same multiset of norms)."""
    e = spark.read.parquet(f"{mini_sf}/embeddings.parquet")
    norm = F.expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    )
    norms = e.select(
        (F.col("vec_id") >= sf1_rung.OFF).alias("rep"),
        F.round(norm, 6).alias("n2"),
    )
    a = sorted(r.n2 for r in norms.where(~F.col("rep")).collect())
    b = sorted(r.n2 for r in norms.where(F.col("rep")).collect())
    assert a == b
