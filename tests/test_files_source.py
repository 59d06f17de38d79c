"""Multi-format catalog sources: csv/json dirs behave like the parquet
catalog — view registration, SQL, partitioned read_sql — end to end."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from conecta_spark.io import read_sql
from conecta_spark.uri import parse_uri


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    from conecta_spark.sources.parquet import load_parquet

    return load_parquet(spark, f"{sf_dir}/orders.parquet").cache()


@pytest.fixture(scope="module")
def csv_root(orders, tmp_path_factory):
    root = tmp_path_factory.mktemp("csvcat")
    orders.coalesce(1).write.option("header", "true").csv(str(root / "orders.csv"))
    return str(root)


@pytest.fixture(scope="module")
def json_root(orders, tmp_path_factory):
    root = tmp_path_factory.mktemp("jsoncat")
    orders.coalesce(1).write.json(str(root / "orders.json"))
    return str(root)


def test_uri_dispatch_file_schemes():
    assert parse_uri("csv:///data/x").kind == "csv"
    assert parse_uri("json:///data/x").kind == "json"
    assert parse_uri("orc:///data/x").kind == "orc"
    assert parse_uri("parquet:///data/x") == parse_uri("parquet:///data/x")


def test_csv_catalog_counts(spark, orders, csv_root):
    df = read_sql(f"csv://{csv_root}", "select * from orders", spark=spark)
    assert df.count() == orders.count()


def test_csv_partitioned_read(spark, orders, csv_root):
    df = read_sql(
        f"csv://{csv_root}",
        "select * from orders",
        partition_on="o_orderkey",
        partition_num=4,
        spark=spark,
    )
    assert df.count() == orders.count()


def test_json_catalog_aggregate(spark, orders, json_root):
    df = read_sql(
        f"json://{json_root}",
        "select o_orderpriority, count(*) as c from orders group by 1",
        spark=spark,
    )
    got = {r.o_orderpriority: r.c for r in df.collect()}
    want = {
        r.o_orderpriority: r.c
        for r in orders.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == want


def test_read_with_quarantine_splits_good_and_bad(spark, tmp_path_factory):
    from pyspark.sql import types as T

    from conecta_spark.sources.files import read_with_quarantine

    d = tmp_path_factory.mktemp("quarantine")
    p = d / "docs.json"
    p.write_text(
        '{"id": 1, "text": "ok"}\n'
        "this is not json at all\n"
        '{"id": 2, "text": "also ok"}\n'
        '{"id": "not-a-number", "text": "type drift"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    good, bad = read_with_quarantine(spark, str(p), schema, fmt="json")
    assert sorted((r.id, r.text) for r in good.collect()) == [
        (1, "ok"),
        (2, "also ok"),
    ]
    raws = [r.raw_record for r in bad.collect()]
    assert len(raws) == 2
    assert any("not json" in r for r in raws)
    assert any("not-a-number" in r for r in raws)
    assert good.schema.fieldNames() == ["id", "text"]


def test_earlier_quarantine_pair_survives_a_later_read(spark, tmp_path):
    """A pair stays usable while its caller holds it: Spark refuses a
    raw-file query that reads only the corrupt-record column, so the
    parsed relation behind an earlier ``quarantine`` must stay cached
    after later reads (an evict-on-next-call cache would break it)."""
    from pyspark.sql import types as T

    from conecta_spark.sources.files import read_with_quarantine

    schema = T.StructType([T.StructField("id", T.LongType())])
    pairs = []
    for n in (3, 2):
        p = tmp_path / f"rows{n}.json"
        p.write_text("".join(f'{{"id": {i}}}\n' for i in range(n)) + "{bad\n")
        pairs.append(read_with_quarantine(spark, str(p), schema))
    for (good, bad), n in zip(pairs, (3, 2)):
        assert good.count() == n
        assert [r.raw_record for r in bad.collect()] == ["{bad"]


def test_read_with_quarantine_rejects_unsupported_format(spark):
    import pytest as _pytest
    from pyspark.sql import types as T

    from conecta_spark.sources.files import read_with_quarantine

    with _pytest.raises(ValueError, match="csv/json"):
        read_with_quarantine(
            spark, "/tmp/x", T.StructType([]), fmt="parquet"
        )
