"""Write-side behavior: partitioned layout prunes, bucketed layout joins
without an exchange, round trips preserve data."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from conecta_spark.sources.sinks import write_bucketed_table, write_parquet


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    from conecta_spark.sources.parquet import load_parquet

    return load_parquet(spark, f"{sf_dir}/orders.parquet").cache()


def test_roundtrip_preserves_rows(spark, orders, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sink") / "orders_plain")
    write_parquet(orders, path, target_files=4)
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    assert sorted(back.columns) == sorted(orders.columns)
    # target_files controls the physical layout
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 4


def test_partitioned_write_prunes_directories(spark, orders, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sink") / "orders_by_priority")
    write_parquet(orders, path, partition_by=("o_orderpriority",))
    # hive layout on disk
    subdirs = [d for d in os.listdir(path) if d.startswith("o_orderpriority=")]
    assert len(subdirs) == 5
    back = spark.read.parquet(path)
    q = back.where(F.col("o_orderpriority") == "1-URGENT")
    # partition filter must prune at the source, not post-scan
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert q.count() == orders.where("o_orderpriority = '1-URGENT'").count()


def test_bucketed_join_skips_shuffle(spark, orders, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("sink"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed_table(
            orders.select("o_orderkey", "o_totalprice"),
            "orders_b1",
            bucket_by=("o_orderkey",),
            n_buckets=8,
            path=f"{base}/b1",
        )
        write_bucketed_table(
            orders.select("o_orderkey", "o_orderpriority"),
            "orders_b2",
            bucket_by=("o_orderkey",),
            n_buckets=8,
            path=f"{base}/b2",
        )
        j = spark.table("orders_b1").join(spark.table("orders_b2"), "o_orderkey")
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted"
        )
        # co-bucketed join: no Exchange on either side
        import re

        assert not re.findall(r"^\(\d+\) Exchange", plan, flags=re.M), plan
        assert j.count() == orders.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b1")
        spark.sql("DROP TABLE IF EXISTS orders_b2")


def test_target_mb_sizes_file_count_from_plan_stats(spark, orders, tmp_path_factory):
    from conecta_spark.sources.sinks import estimated_bytes

    assert estimated_bytes(orders) > 0
    # A relation Catalyst estimates at ~16 MB (2M longs): a 4 MB target
    # must split the write into ~4 files; a huge target must produce one.
    wide = spark.range(2_000_000)
    est = estimated_bytes(wide)
    assert est >> 20 >= 8
    path_many = str(tmp_path_factory.mktemp("sink") / "sized_many")
    write_parquet(wide, path_many, target_mb=4)
    path_one = str(tmp_path_factory.mktemp("sink") / "sized_one")
    write_parquet(wide, path_one, target_mb=(est >> 20) + 1024)
    n_many = len([f for f in os.listdir(path_many) if f.endswith(".parquet")])
    n_one = len([f for f in os.listdir(path_one) if f.endswith(".parquet")])
    assert n_one == 1
    assert n_many == -(-est // (4 << 20))


def test_cluster_by_narrows_row_group_ranges(spark, orders, tmp_path_factory):
    """sortWithinPartitions before write must produce parquet files whose
    row groups are internally sorted on the cluster column -- the property
    row-group min/max pruning depends on."""
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("sink") / "clustered")
    write_parquet(orders, path, target_files=2, cluster_by=("o_orderdate",))
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert files
    for fname in files:
        md = pq.ParquetFile(os.path.join(path, fname)).metadata
        idx = md.schema.to_arrow_schema().get_field_index("o_orderdate")
        ranges = [
            (
                md.row_group(g).column(idx).statistics.min,
                md.row_group(g).column(idx).statistics.max,
            )
            for g in range(md.num_row_groups)
        ]
        # Sorted within the file: successive row groups never overlap
        # backwards (each group's min >= the previous group's min).
        assert ranges == sorted(ranges)


def test_cluster_by_adds_no_exchange(spark, orders):
    """The clustering sort is partition-local: the write plan must not
    gain a shuffle from it."""
    out = orders.repartition(2).sortWithinPartitions("o_orderdate")
    p = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    import re

    # exactly the one explicit repartition exchange, none from the sort
    assert len(re.findall(r"^\(\d+\) Exchange\b", p, flags=re.M)) == 1
    assert "Sort" in p


def test_upsert_parquet_replaces_by_key_and_carries_rest(
    spark, tmp_path_factory
):
    from pyspark.sql import Row

    from conecta_spark.sources.sinks import upsert_parquet

    path = str(tmp_path_factory.mktemp("upsert") / "tbl")
    base = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
    )
    upsert_parquet(spark, path, base, ("k",))          # initial load
    updates = spark.createDataFrame([Row(k=2, v="B2"), Row(k=4, v="d")])
    upsert_parquet(spark, path, updates, ("k",))
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 4: "d"}
    # idempotent replay of the same updates changes nothing
    upsert_parquet(spark, path, updates, ("k",))
    again = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert again == got
    import os

    assert not os.path.exists(path + ".__staging__")
    assert not os.path.exists(path + ".__retired__")


# -- crash-safe upsert: failure injection across every swap window ----------


def _mk_table(spark, path, rows):
    from conecta_spark.sources.sinks import upsert_parquet

    df = spark.createDataFrame(rows, "k long, v string")
    upsert_parquet(spark, path, df, ("k",))
    return df


def _read_kv(spark, path):
    return {(r.k, r.v) for r in spark.read.parquet(path).collect()}


def test_upsert_crash_between_renames_rolls_forward(
    spark, tmp_path_factory, monkeypatch
):
    """Crash after `path` was retired but before staging was promoted:
    the staged version is complete (_SUCCESS), so the next call completes
    the interrupted upsert -- a reader then sees the NEW table, never a
    torn one."""
    from conecta_spark.sources import sinks

    path = str(tmp_path_factory.mktemp("crash") / "tbl")
    _mk_table(spark, path, [(1, "a"), (2, "b")])
    updates = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")

    real_rename = sinks.os.rename
    calls = {"n": 0}

    def exploding_rename(src, dst):
        real_rename(src, dst)
        calls["n"] += 1
        if calls["n"] == 1:  # crash right after path -> retired
            raise RuntimeError("injected crash between swap renames")

    monkeypatch.setattr(sinks.os, "rename", exploding_rename)
    with pytest.raises(RuntimeError, match="injected"):
        sinks.upsert_parquet(spark, path, updates, ("k",))
    monkeypatch.setattr(sinks.os, "rename", real_rename)

    assert not os.path.exists(path)  # the crash window, honestly missing
    assert sinks.recover_upsert(path) == "rolled_forward"
    assert _read_kv(spark, path) == {(1, "a"), (2, "B"), (3, "c")}
    # idempotent: a second recover is a no-op
    assert sinks.recover_upsert(path) == "clean"


def test_upsert_crash_during_staging_write_keeps_old_table(
    spark, tmp_path_factory
):
    """A staging dir without _SUCCESS (write died mid-job) must be
    discarded; the current table stands and the next upsert reruns
    cleanly."""
    from conecta_spark.sources import sinks

    path = str(tmp_path_factory.mktemp("crash2") / "tbl")
    _mk_table(spark, path, [(1, "a"), (2, "b")])
    staged, _ = sinks._upsert_side_dirs(path)
    os.makedirs(staged)
    with open(os.path.join(staged, "part-00000.parquet"), "wb") as f:
        f.write(b"torn half-written bytes")  # no _SUCCESS marker

    assert sinks.recover_upsert(path) == "clean"
    assert not os.path.exists(staged)
    assert _read_kv(spark, path) == {(1, "a"), (2, "b")}

    updates = spark.createDataFrame([(2, "B")], "k long, v string")
    sinks.upsert_parquet(spark, path, updates, ("k",))
    assert _read_kv(spark, path) == {(1, "a"), (2, "B")}


def test_upsert_first_write_crash_leaves_no_torn_table(
    spark, tmp_path_factory, monkeypatch
):
    """The FIRST write must stage too: if the job dies mid-write there is
    no final directory at all (a torn one would pass recover_upsert's
    existence check as 'clean' and later upserts would merge into torn
    data -- the r6 advice finding).  After recovery the next first write
    succeeds cleanly."""
    from conecta_spark.sources import sinks

    path = str(tmp_path_factory.mktemp("crash4") / "tbl")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")

    def exploding_write(frame, dst, target_mb=None, **kw):
        os.makedirs(dst)
        with open(os.path.join(dst, "part-00000.parquet"), "wb") as f:
            f.write(b"torn half-written bytes")  # no _SUCCESS marker
        raise RuntimeError("injected crash during first write")

    monkeypatch.setattr(sinks, "write_parquet", exploding_write)
    with pytest.raises(RuntimeError, match="injected"):
        sinks.upsert_parquet(spark, path, df, ("k",))
    monkeypatch.undo()

    assert not os.path.exists(path)  # never a torn final directory
    assert sinks.recover_upsert(path) == "missing"  # staging swept
    staged, _ = sinks._upsert_side_dirs(path)
    assert not os.path.exists(staged)

    sinks.upsert_parquet(spark, path, df, ("k",))
    assert _read_kv(spark, path) == {(1, "a"), (2, "b")}


def test_upsert_first_write_crash_before_promote_rolls_forward(
    spark, tmp_path_factory, monkeypatch
):
    """First write completed staging but died before the rename: the
    staged version is complete and recover_upsert promotes it."""
    from conecta_spark.sources import sinks

    path = str(tmp_path_factory.mktemp("crash5") / "tbl")
    df = spark.createDataFrame([(1, "a")], "k long, v string")

    def exploding_rename(src, dst):
        raise RuntimeError("injected crash before first-write promote")

    monkeypatch.setattr(sinks.os, "rename", exploding_rename)
    with pytest.raises(RuntimeError, match="injected"):
        sinks.upsert_parquet(spark, path, df, ("k",))
    monkeypatch.undo()

    assert not os.path.exists(path)
    assert sinks.recover_upsert(path) == "rolled_forward"
    assert _read_kv(spark, path) == {(1, "a")}


def test_upsert_crash_with_incomplete_staging_rolls_back(
    spark, tmp_path_factory
):
    """Pathological double fault: path already retired AND staging has no
    _SUCCESS.  Recovery restores the retired (pre-upsert) version -- the
    reader sees the complete OLD table, not data loss."""
    from conecta_spark.sources import sinks

    path = str(tmp_path_factory.mktemp("crash3") / "tbl")
    _mk_table(spark, path, [(1, "a"), (2, "b")])
    staged, retired = sinks._upsert_side_dirs(path)
    os.rename(path, retired)  # simulate crash after the first rename
    os.makedirs(staged)       # ... with staging torn (no _SUCCESS)

    assert sinks.recover_upsert(path) == "rolled_back"
    assert _read_kv(spark, path) == {(1, "a"), (2, "b")}


def test_upsert_reader_never_sees_torn_data(spark, tmp_path_factory):
    """Every recovery outcome yields either the complete old or complete
    new version; sweep all injection points and assert the read-back set
    is always one of the two."""
    from conecta_spark.sources import sinks

    old = {(1, "a"), (2, "b")}
    new = {(1, "a"), (2, "B"), (3, "c")}
    for crash_at in (1, 2):
        path = str(
            tmp_path_factory.mktemp(f"crash_sweep{crash_at}") / "tbl"
        )
        _mk_table(spark, path, [(1, "a"), (2, "b")])
        updates = spark.createDataFrame(
            [(2, "B"), (3, "c")], "k long, v string"
        )
        real_rename = os.rename
        calls = {"n": 0}

        def exploding(src, dst, _real=real_rename, _calls=calls, _at=crash_at):
            _real(src, dst)
            _calls["n"] += 1
            if _calls["n"] == _at:
                raise RuntimeError("injected")

        sinks.os.rename = exploding
        try:
            with pytest.raises(RuntimeError, match="injected"):
                sinks.upsert_parquet(spark, path, updates, ("k",))
        finally:
            sinks.os.rename = real_rename
        sinks.recover_upsert(path)
        assert _read_kv(spark, path) in (old, new), crash_at


# -- the upsert's schema from the footer --------------------------------------


def test_footer_schema_equals_inferred_schema(spark, tmp_path):
    from conecta_spark.sources.sinks import footer_schema

    path = str(tmp_path / "nested")
    spark.sql(
        "select id as k, named_struct('a', id, 'b', array(id, null)) as s, "
        "array(named_struct('x', id)) as arr, map('m', array(id)) as m, "
        "cast(id as decimal(12, 2)) as d, current_date() as day "
        "from range(10)"
    ).repartition(2).write.parquet(path)
    got = footer_schema(spark, path)
    assert got is not None
    assert got == spark.read.parquet(path).schema


def test_footer_schema_falls_back_without_spark_metadata(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from conecta_spark.sources.sinks import footer_schema

    path = tmp_path / "arrow"
    path.mkdir()
    pq.write_table(pa.table({"k": [1, 2]}), str(path / "part-0.parquet"))
    assert footer_schema(spark, str(path)) is None


def test_upsert_skips_the_schema_inference_job(
    spark, tmp_path, spark_jobs, monkeypatch
):
    """With the schema from the footer, an upsert into a Spark-written
    dataset runs one job fewer than with Spark's inference."""
    from conecta_spark.sources import sinks

    path = str(tmp_path / "tbl")
    _mk_table(spark, path, [(1, "a"), (2, "b")])
    updates = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    with spark_jobs() as footer:
        sinks.upsert_parquet(spark, path, updates, ("k",))
    monkeypatch.setattr(sinks, "footer_schema", lambda spark, path: None)
    with spark_jobs() as inferred:
        sinks.upsert_parquet(spark, path, updates, ("k",))
    assert len(footer) == len(inferred) - 1
    assert _read_kv(spark, path) == {(1, "a"), (2, "B"), (3, "c")}


def test_catalog_registers_upserted_table_without_a_job(
    spark, tmp_path, spark_jobs
):
    """A catalog table written by ``upsert_parquet`` is registered with the
    schema from its footer: no schema-inference job."""
    from conecta_spark.sources.parquet import ParquetDirSource

    path = str(tmp_path / "tbl.parquet")
    _mk_table(spark, path, [(1, "a"), (2, "b")])
    src = ParquetDirSource(spark, str(tmp_path))
    with spark_jobs() as jobs:
        df = src.query("select * from tbl")
    assert len(jobs) == 0
    assert df.schema == spark.read.parquet(path).schema
    assert {(r.k, r.v) for r in df.collect()} == {(1, "a"), (2, "b")}


# -- the upsert's output sized by bytes ---------------------------------------


def _n_files(path):
    from conecta_spark.sources.parquet import table_files

    return len(table_files(path).files)


def test_repeated_upserts_keep_one_file(spark, tmp_path):
    """Each upsert writes ceil(estimate / maxPartitionBytes) files, so a
    small dataset stays one file instead of gaining the update side as a
    new file per upsert."""
    from conecta_spark.sources.sinks import upsert_parquet

    path = str(tmp_path / "tbl")
    base = spark.range(0, 2000, 1, 4).selectExpr("id as k", "id * 3 as v")
    upsert_parquet(spark, path, base, ("k",))
    assert _n_files(path) == 1
    want = {k: k * 3 for k in range(2000)}
    for i in range(10):
        lo = 150 * i  # 100 of the 2000 keys: a 5% batch
        batch = spark.range(lo, lo + 100, 1, 1).selectExpr("id as k", f"{i} as v")
        upsert_parquet(spark, path, batch, ("k",))
        want.update((k, i) for k in range(lo, lo + 100))
        assert _n_files(path) == 1, i
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == want


def test_upsert_writes_one_file_per_max_partition_bytes(
    spark, tmp_path, spark_jobs
):
    """With maxPartitionBytes below openCostInBytes the file count is
    ceil(estimated_bytes / maxPartitionBytes), capped by the plan's
    partitions (coalesce never adds any); the rewrite runs one
    task per file, and the estimate runs no job."""
    import math

    from conecta_spark.sources.sinks import estimated_bytes, upsert_parquet

    s2 = spark.newSession()
    split_conf = "spark.sql.files.maxPartitionBytes"
    first = s2.range(0, 20000, 1, 8).selectExpr("id as k", "id as v")
    est = estimated_bytes(first)
    for split, want in ((-(-est // 3), 3), (1024, 8)):  # 8: first's partitions
        assert min(math.ceil(est / split), 8) == want
        s2.conf.set(split_conf, str(split))
        path = str(tmp_path / f"first{split}")
        upsert_parquet(s2, path, first, ("k",))
        assert _n_files(path) == want
        assert s2.read.parquet(path).count() == 20000

    path = str(tmp_path / "merge")
    s2.conf.unset(split_conf)
    s2.range(0, 20000, 1, 6).selectExpr("id as k", "id as v").write.parquet(path)
    s2.range(19990, 20010, 1, 1).selectExpr("id as k", "-id as v").write.parquet(
        str(tmp_path / "batch")
    )
    updates = s2.read.parquet(str(tmp_path / "batch"))

    def merged():  # the upsert's plan
        current = s2.read.parquet(path)
        return current.join(updates, ["k"], "left_anti").unionByName(updates)

    split = -(-estimated_bytes(merged()) // 3)
    s2.conf.set(split_conf, str(split))
    plan = merged()  # re-planned: the split size also sets the scan's partitions
    want = min(math.ceil(estimated_bytes(plan) / split), plan.rdd.getNumPartitions())
    assert want == 3
    with spark_jobs() as jobs:
        upsert_parquet(s2, path, updates, ("k",))
    assert _n_files(path) == want
    # The update side's broadcast (one task for its one file), then the
    # rewrite: one task per output file.
    assert len(jobs) == 2
    assert jobs.tasks == 1 + want
    back = s2.read.parquet(path)
    assert back.count() == 20010
    assert back.where("k >= 19990").agg({"v": "sum"}).first()[0] == -sum(
        range(19990, 20010)
    )


def test_upsert_spreads_a_mid_size_rewrite_over_the_cores(spark, tmp_path):
    """Below cores x maxPartitionBytes Spark's reader cuts one split per
    core, and so does the rewrite: a dataset above openCostInBytes is not
    squeezed into ceil(size / maxPartitionBytes) = 1 task."""
    from conecta_spark.sources.sinks import estimated_bytes, upsert_parquet

    s2 = spark.newSession()
    s2.conf.set("spark.sql.files.openCostInBytes", "1")
    s2.conf.set("spark.sql.files.minPartitionNum", "3")
    path = str(tmp_path / "tbl")
    first = s2.range(0, 20000, 1, 8).selectExpr("id as k", "id as v")
    assert estimated_bytes(first) < s2._jsparkSession.sessionState().conf(
    ).filesMaxPartitionBytes()
    upsert_parquet(s2, path, first, ("k",))
    assert _n_files(path) == 3
    batch = s2.range(19000, 21000, 1, 1).selectExpr("id as k", "-id as v")
    upsert_parquet(s2, path, batch, ("k",))
    assert _n_files(path) == 3
    back = s2.read.parquet(path)
    assert back.count() == 21000
    assert back.where("k >= 19000").agg({"v": "sum"}).first()[0] == -sum(
        range(19000, 21000)
    )


def test_upsert_target_mb_coalesces_too(spark, tmp_path):
    """An explicit ``target_mb`` takes the split's place in the same
    coalesce: ceil(estimate / target_mb) files."""
    from conecta_spark.sources.sinks import upsert_parquet

    path = str(tmp_path / "tbl")
    df = spark.range(0, 1000, 1, 4).selectExpr("id as k", "id as v")
    upsert_parquet(spark, path, df, ("k",), target_mb=1)
    assert _n_files(path) == 1
    big = spark.range(0, 300000, 1, 4).selectExpr("id as k", "id as v")
    upsert_parquet(spark, path, big, ("k",), target_mb=1)
    # ceil(3.6 MB / 1 MiB) files from a plan of 1 + 4 partitions.
    assert _n_files(path) == 4
    assert spark.read.parquet(path).count() == 300000


def test_upsert_merges_rdd_backed_updates(spark, tmp_path):
    """Catalyst cannot size an RDD-backed input -- its estimate is
    Long.MaxValue, scaled down by projections -- so the merge keeps the
    plan's partitioning instead of coalescing to a bogus count."""
    from conecta_spark.sources.sinks import output_files, upsert_parquet

    path = str(tmp_path / "tbl")
    upsert_parquet(
        spark, path, spark.range(0, 100, 1, 1).selectExpr("id as k", "0 as v"),
        ("k",),
    )
    rows = [(k, k + 1, "x" * 50) for k in range(90, 110)]
    updates = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3), "k long, v long, pad string"
    ).select("k", "v")
    assert output_files(updates, 1 << 20) is None
    upsert_parquet(spark, path, updates, ("k",))
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {k: (k + 1 if k >= 90 else 0) for k in range(110)}


def test_write_parquet_target_mb_keeps_partitioning_of_unsized_input(
    spark, tmp_path
):
    """``target_mb`` over an input Catalyst cannot size writes with the
    input's partitioning (it used to pass a Long to ``repartition``)."""
    rdd_df = spark.createDataFrame(
        spark.sparkContext.parallelize([(k, str(k)) for k in range(30)], 3),
        "k long, v string",
    )
    path = str(tmp_path / "out")
    write_parquet(rdd_df, path, target_mb=128)
    assert _n_files(path) == 3
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == list(range(30))
