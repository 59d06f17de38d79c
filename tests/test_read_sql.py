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


def test_partitioned_read_drops_null_keys_and_keeps_both_envelope_ends(
    spark, tmp_path
):
    """The partitioned parquet read is one scan under the closed envelope
    [min, max]: NULL keys are dropped, and rows at either end are kept,
    whether the envelope comes from the probe or from partition_range."""
    import pyarrow.parquet as pq

    keys = [None, -5, 0, 3, None, 7, 10, 11]
    pq.write_table(pa.table({"k": pa.array(keys, pa.int64())}),
                   str(tmp_path / "t.parquet"))

    def read(q="select * from t", **kw):
        df = read_sql(str(tmp_path), q, partition_on="k",
                      partition_num=3, spark=spark, **kw)
        return sorted(r.k for r in df.collect())

    assert read() == [-5, 0, 3, 7, 10, 11]
    assert read(partition_range=(0, 10)) == [0, 3, 7, 10]
    # a statement's trailing ";" or "-- comment" must not break the bounds
    assert read("select * from t;", partition_range=(0, 10)) == [0, 3, 7, 10]
    assert read("select * from t ; \n") == [-5, 0, 3, 7, 10, 11]
    assert read("select * from t -- all of t",
                partition_range=(0, 10)) == [0, 3, 7, 10]


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


def test_interleaved_directories_keep_their_views(spark, sf_dir, oracle_dir):
    """Pooled sources over different directories must not inherit each
    other's temp views (views are session-global by name; regression test
    for the pool returning a source whose views another directory
    clobbered)."""
    from conecta_spark.io import read_sql

    a, b = sf_dir, oracle_dir
    q = "select * from lineitem"
    assert read_sql(a, q, spark=spark).count() == 6000
    assert read_sql(b, q, spark=spark).count() == 60000
    assert read_sql(a, q, spark=spark).count() == 6000
    assert read_sql(b, q, spark=spark).count() == 60000


def test_concurrent_catalogs_read_their_own_table(spark, tmp_path):
    """Two threads read two catalogs that both hold a table ``t`` (disjoint
    values), through ``read_sql`` and the query registry's ``t()``: every
    result comes from the caller's own catalog, although the view name
    ``t`` is shared by the whole session."""
    import sys
    import threading

    import pyarrow.parquet as pq

    from conecta_spark import queries

    dirs = {}
    for name, lo in (("a", 0), ("b", 1000)):
        d = tmp_path / name
        d.mkdir()
        pq.write_table(pa.table({"k": pa.array(range(lo, lo + 5), pa.int64())}),
                       str(d / "t.parquet"))
        dirs[str(d)] = set(range(lo, lo + 5))
    calls_per_thread = 500
    wrong, errors = [], []

    def reader(d):
        try:
            for i in range(calls_per_thread):
                if i % 2:
                    got = read_sql(d, "select k from t", spark=spark,
                                   return_backend="pyarrow")["k"].to_pylist()
                else:
                    got = [r.k for r in queries.t(spark, d, "t").collect()]
                if set(got) != dirs[d]:
                    wrong.append((d, got))
        except Exception as e:  # surfaces in the main thread below
            errors.append(e)

    threads = [threading.Thread(target=reader, args=(d,)) for d in dirs]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert len(wrong) == 0, f"{len(wrong)} of {2 * calls_per_thread} wrong"


def test_query_catalog_is_the_pooled_source(spark, sf_dir):
    """The query registry's catalog and read_sql share one source per
    (session, dir): a second cache would hold a second copy of the same
    views and footers."""
    from conecta_spark.io import get_source
    from conecta_spark.queries import catalog

    assert catalog(spark, sf_dir) is get_source(sf_dir, spark)


# -- MIN/MAX from parquet footers -------------------------------------------


def _spark_min_max(spark, path, column, df=None):
    from pyspark.sql import functions as F

    df = spark.read.parquet(path) if df is None else df
    row = df.agg(
        F.min(column).cast("long"), F.max(column).cast("long")
    ).collect()[0]
    return row[0], row[1]


def _write_multi_file(spark, path):
    spark.range(-50, 250, 1, 3).selectExpr("id as k", "id * 2 as v") \
        .write.parquet(path)


def _write_all_null_row_group(spark, path):
    import pyarrow.parquet as pq

    t = pa.table({"k": pa.array([None] * 4 + [5, -3, 9, 2], pa.int64())})
    pq.write_table(t, path, row_group_size=4)


def _write_with_empty_part(spark, path):
    import os

    import pyarrow.parquet as pq

    os.makedirs(path)
    pq.write_table(pa.table({"k": pa.array([7, 3], pa.int32())}),
                   os.path.join(path, "part-0.parquet"))
    pq.write_table(pa.table({"k": pa.array([], pa.int32())}),
                   os.path.join(path, "part-1.parquet"))


def _write_all_null(spark, path):
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": pa.array([None, None], pa.int64())}), path)


def _write_shifted_leaves(spark, path):
    """A struct before ``k`` with a leaf also called ``k``: ``k`` is leaf 2
    but Arrow field 1, and ``s.k`` holds other values."""
    import pyarrow.parquet as pq

    s = pa.array([{"k": 1000, "x": -1000}, {"k": 2000, "x": -2000}])
    pq.write_table(pa.table({"s": s, "k": pa.array([4, 8], pa.int16())}), path)


@pytest.mark.parametrize("write", [
    _write_multi_file, _write_all_null_row_group, _write_with_empty_part,
    _write_all_null, _write_shifted_leaves,
])
def test_footer_min_max_equals_spark_aggregate(spark, tmp_path, write):
    from conecta_spark.sources.parquet import footer_min_max

    path = str(tmp_path / "t.parquet")
    write(spark, path)
    assert footer_min_max(path, "k") == _spark_min_max(spark, path, "k")


def test_footer_probe_answers_projection_without_a_job(
    spark, tmp_path, spark_jobs
):
    from conecta_spark.sources.parquet import ParquetDirSource

    _write_multi_file(spark, str(tmp_path / "t.parquet"))
    src = ParquetDirSource(spark, str(tmp_path))
    want = _spark_min_max(spark, str(tmp_path / "t.parquet"), "k")
    for sql in ("select * from t", "select v, k from t", "SELECT k FROM t"):
        with spark_jobs() as jobs:
            assert src.min_max(sql, "k") == want == (-50, 249)
        assert jobs == [], sql
    # A filtered query is not a whole-table scan: the aggregate runs.
    with spark_jobs() as jobs:
        assert src.min_max("select * from t where k > 0", "k") == (1, 249)
    assert jobs


def _write_no_statistics(path):
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), path,
                   write_statistics=False)


def _write_typed(typ, values):
    def write(path):
        import pyarrow.parquet as pq

        pq.write_table(pa.table({"k": pa.array(values, typ)}), path)

    return write


def _write_hive(path):
    import os

    import pyarrow.parquet as pq

    os.makedirs(os.path.join(path, "p=1"))
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}),
                   os.path.join(path, "p=1", "part-0.parquet"))


def _write_nested_only(path):
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"s": pa.array([{"k": 1}, {"k": 2}])}), path)


@pytest.mark.parametrize("write", [
    _write_no_statistics,
    _write_typed(pa.date32(), [1, 20000]),
    _write_typed(pa.float64(), [1.5, 2.5]),
    _write_typed(pa.timestamp("ns"), [1, 2_000_000_000]),
    _write_hive,
    _write_nested_only,
], ids=["no_statistics", "date", "double", "timestamp_ns", "hive", "nested"])
def test_footer_min_max_falls_back(spark, tmp_path, write):
    from conecta_spark.sources.parquet import ParquetDirSource, footer_min_max

    path = str(tmp_path / "t.parquet")
    write(path)
    assert footer_min_max(path, "k") is None
    if write is not _write_nested_only:
        # ... and min_max then answers with the Spark aggregate.
        src = ParquetDirSource(spark, str(tmp_path))
        assert src.min_max("select * from t", "k") == _spark_min_max(
            spark, path, "k", src.query("select * from t")
        )


def test_read_sql_after_upsert_sees_merged_rows(spark, tmp_path):
    """A source's views follow an upsert_parquet rewrite of their table:
    no manual refresh, no read of the deleted files."""
    from conecta_spark.sources.parquet import ParquetDirSource
    from conecta_spark.sources.sinks import upsert_parquet

    path = str(tmp_path / "accounts.parquet")
    upsert_parquet(
        spark, path, spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        ["k"],
    )
    src = ParquetDirSource(spark, str(tmp_path))
    assert read_sql(src, "select * from accounts", spark=spark).count() == 2
    upsert_parquet(
        spark, path, spark.createDataFrame([(2, 21), (3, 30)], "k long, v long"),
        ["k"],
    )
    got = read_sql(
        src, "select k, v from accounts", partition_on="k", partition_num=2,
        return_backend="pyarrow", spark=spark,
    )
    assert sorted(zip(got["k"].to_pylist(), got["v"].to_pylist())) == [
        (1, 10), (2, 21), (3, 30),
    ]


def test_nanos_conf_is_set_only_for_nanos_columns(spark, tmp_path):
    """A catalog never sets ``nanosAsLong`` on the caller's session, and a
    TIMESTAMP(NANOS) column still reads as microseconds."""
    import pyarrow.parquet as pq

    from conecta_spark.sources.parquet import ParquetDirSource

    key = "spark.sql.legacy.parquet.nanosAsLong"
    plain = tmp_path / "plain"
    plain.mkdir()
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}),
                   str(plain / "t.parquet"))
    s = spark.newSession()
    ParquetDirSource(s, str(plain)).register_views()
    assert s.conf.get(key, None) is None

    nanos = tmp_path / "nanos"
    nanos.mkdir()
    ts = pa.array([1_000_001_999], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), str(nanos / "e.parquet"))
    got = ParquetDirSource(s, str(nanos)).query(
        "select unix_micros(ts) as us from e"
    ).collect()
    assert s.conf.get(key, None) is None
    assert got[0].us == 1_000_001


def _catalog(tmp_path, **tables):
    import pyarrow.parquet as pq

    for name, ks in tables.items():
        pq.write_table(pa.table({"k": pa.array(ks, pa.int64())}),
                       str(tmp_path / f"{name}.parquet"))
    return str(tmp_path)


def test_catalog_tables_stay_out_of_the_callers_session(spark, tmp_path):
    """``read_sql`` over a catalog leaves no temp view in the caller's
    session: the tables live in the catalog's private session."""
    d = _catalog(tmp_path, own_t1=[1, 2], own_t2=[3])
    s = spark.newSession()
    assert read_sql(d, "select * from own_t1 union all select * from own_t2",
                    spark=s).count() == 3
    assert [t.name for t in s.catalog.listTables()] == []


def test_catalog_plans_under_the_callers_conf_at_call_time(spark, tmp_path):
    """A conf change on the caller after its catalog was pooled, a set or
    an unset, applies to the catalog's SQL text: ANSI makes a bad cast
    fail instead of returning NULL."""
    key = "spark.sql.ansi.enabled"
    d = _catalog(tmp_path, t=[1])
    s = spark.newSession()
    q = "select cast('a' as int) as v from t"
    s.conf.set(key, "true")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        read_sql(d, q, spark=s).collect()
    s.conf.set(key, "false")
    assert read_sql(d, q, spark=s).collect()[0].v is None
    s.conf.unset(key)  # back to Spark's default, on
    assert s.conf.get(key) == "true"
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        read_sql(d, q, spark=s).collect()


def test_catalog_result_belongs_to_the_caller(spark, tmp_path):
    """A result is a DataFrame of the caller's session: a function the
    caller registered resolves in ``selectExpr`` on it."""
    d = _catalog(tmp_path, t=[1, 2])
    s = spark.newSession()
    s.udf.register("plus_one", lambda k: k + 1, "long")
    got = read_sql(d, "select k from t", spark=s).selectExpr("plus_one(k) as v")
    assert sorted(r.v for r in got.collect()) == [2, 3]


def test_published_views_follow_an_upsert(spark, tmp_path):
    """``register_views`` publishes the catalog's tables in the caller's
    session; after an upsert and the caller's ``refreshTable`` both the
    published view and the catalog read the merged rows."""
    from conecta_spark.sources.parquet import ParquetDirSource
    from conecta_spark.sources.sinks import upsert_parquet

    s = spark.newSession()
    path = str(tmp_path / "accounts.parquet")
    upsert_parquet(
        s, path, s.createDataFrame([(1, 10), (2, 20)], "k long, v long"), ["k"],
    )
    src = ParquetDirSource(s, str(tmp_path))
    src.register_views()
    upsert_parquet(
        s, path, s.createDataFrame([(2, 21), (3, 30)], "k long, v long"), ["k"],
    )
    s.catalog.refreshTable("accounts")
    want = [(1, 10), (2, 21), (3, 30)]
    got = s.sql("select k, v from accounts").collect()
    assert sorted((r.k, r.v) for r in got) == want
    got = read_sql(src, "select k, v from accounts", spark=s).collect()
    assert sorted((r.k, r.v) for r in got) == want


def test_source_pool_serves_the_session_asked_for(spark, tmp_path):
    """Sessions made, dropped and garbage-collected in turn each get a
    pooled source of their own session, never one of an earlier session."""
    import gc

    from conecta_spark.io import get_source

    d = _catalog(tmp_path, t=[1])
    for _ in range(4):
        s = spark.newSession()
        src = get_source(d, s)
        assert src.spark is s
        assert src.query("select k from t").sparkSession is s
        del s, src
        gc.collect()
