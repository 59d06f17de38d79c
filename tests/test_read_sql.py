"""End-to-end read_sql over the parquet catalog -- mirrors the reference's
integration suite semantics (conecta-python/conecta/tests/test_read_sql.py,
test_partition_plan.py) against driver testdata."""

from __future__ import annotations

import pyarrow as pa
import pytest

from conecta_spark import create_partition_plan, read_sql

LINEITEM_COLS = 11  # driver's reduced lineitem variant (FIXTURES.md 4)


def test_select_star_counts(spark, sf_dir):
    df = read_sql(sf_dir, "select * from lineitem", spark=spark)
    assert df.count() == 6000
    assert len(df.columns) == LINEITEM_COLS


def test_partitioned_read_same_multiset(spark, sf_dir):
    df = read_sql(
        sf_dir,
        "select * from lineitem",
        partition_on="l_orderkey",
        partition_num=4,
        spark=spark,
    )
    assert df.count() == 6000


def test_partitioned_with_user_range_drops_outside(spark, sf_dir):
    full = read_sql(sf_dir, "select * from lineitem", spark=spark)
    lo = full.where("l_orderkey >= 100 and l_orderkey <= 200").count()
    df = read_sql(
        sf_dir,
        "select * from lineitem",
        partition_on="l_orderkey",
        partition_num=3,
        partition_range=(100, 200),
        spark=spark,
    )
    # Reference semantics (SURVEY 1.4): narrower range silently drops rows.
    assert df.count() == lo


def test_limit(spark, sf_dir):
    df = read_sql(sf_dir, "select * from lineitem limit 10", spark=spark)
    assert df.count() == 10


def test_multi_query_union(spark, sf_dir):
    df = read_sql(
        sf_dir,
        [
            "select * from orders where o_orderkey < 750",
            "select * from orders where o_orderkey >= 750",
        ],
        spark=spark,
    )
    assert df.count() == 1500


def test_pyarrow_backend(spark, sf_dir):
    table = read_sql(
        sf_dir,
        "select l_orderkey, l_quantity from lineitem limit 100",
        return_backend="pyarrow",
        spark=spark,
    )
    assert isinstance(table, pa.Table)
    assert table.num_rows == 100
    assert table.column_names == ["l_orderkey", "l_quantity"]


def test_pandas_backend(spark, sf_dir):
    pdf = read_sql(
        sf_dir,
        "select count(*) as c from nation",
        return_backend="pandas",
        spark=spark,
    )
    assert pdf["c"][0] == 25


def test_unknown_backend_raises(spark, sf_dir):
    with pytest.raises(ValueError, match="return_backend"):
        read_sql(sf_dir, "select 1", return_backend="nope", spark=spark)


def test_plan_golden_values(spark, sf_dir):
    # Analog of test_partition_plan.py:4-32 golden assertions, against the
    # driver's lineitem (orderkeys 1..1500 at sf0.001).
    plan = create_partition_plan(
        sf_dir,
        "select * from lineitem",
        partition_on="l_orderkey",
        partition_num=2,
        spark=spark,
    )
    assert plan.partition_count == 2
    assert plan.min is not None and plan.max is not None
    assert plan.min < plan.max
    # union of the bounded queries covers everything
    mid = plan.data_queries[0].split("<")[-1].strip()
    assert f">= {mid}" in plan.data_queries[1].replace("l_orderkey ", "")


def test_partition_union_equals_full(spark, sf_dir):
    plan = create_partition_plan(
        sf_dir,
        "select * from lineitem",
        partition_on="l_orderkey",
        partition_num=3,
        spark=spark,
    )
    from conecta_spark.io import get_source

    src = get_source(sf_dir, spark)
    total = sum(src.query(q).count() for q in plan.data_queries)
    assert total == 6000


def test_interleaved_directories_keep_their_views(spark):
    """Pooled sources over different directories must not inherit each
    other's temp views (views are session-global by name; regression test
    for the pool returning a source whose views another directory
    clobbered)."""
    from conecta_spark.io import read_sql

    a = "/root/testdata/sf0.001"
    b = "/root/testdata/sf0.01"
    q = "select * from lineitem"
    assert read_sql(a, q, spark=spark).count() == 6000
    assert read_sql(b, q, spark=spark).count() == 60000
    assert read_sql(a, q, spark=spark).count() == 6000
    assert read_sql(b, q, spark=spark).count() == 60000


def test_query_catalog_is_the_pooled_source(spark, sf_dir):
    """The query registry's catalog and read_sql share one source per
    (session, dir): a second cache would hold a second copy of the same
    views and footers."""
    from conecta_spark.io import get_source
    from conecta_spark.queries import catalog

    assert catalog(spark, sf_dir) is get_source(sf_dir, spark)
