"""One listing and one fingerprint per table (``sources/parquet.py``),
over the three layouts a table comes in: a single file, a flat directory
of part files and a hive-partitioned directory.  The catalog refresh, the
footer probes, the stores and the registry caches all read this walk."""

from __future__ import annotations

import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conecta_spark.operators.store import footer_row_count
from conecta_spark.sources.parquet import (
    ParquetDirSource,
    footer_min_max,
    table_files,
    table_fingerprint,
)

LAYOUTS = ["single_file", "flat_dir", "hive_partitioned"]


def _part(layout: str, table: str, i: int) -> str:
    if layout == "single_file":
        return table
    if layout == "flat_dir":
        return os.path.join(table, f"part-{i}.parquet")
    return os.path.join(table, "k=1", f"part-{i}.parquet")


def _write(path: str, values: list[int]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"v": pa.array(values, pa.int64())}), path)


@pytest.mark.parametrize("layout", LAYOUTS)
def test_one_listing_per_table(spark, tmp_path, layout):
    table = str(tmp_path / "t.parquet")
    _write(_part(layout, table, 0), [3, 7])
    if layout != "single_file":
        _write(_part(layout, table, 1), [-2])
        # Spark's rule: ``_``/``.`` names are not data, at every level.
        open(os.path.join(table, "_SUCCESS"), "w").close()
        open(os.path.join(table, ".part-0.parquet.crc"), "w").close()
        os.makedirs(os.path.join(table, "_temporary", "0"))
        _write(os.path.join(table, "_temporary", "0", "part-9.parquet"), [99])
    listing = table_files(table)
    assert [f.path for f in listing.files] == sorted(
        {_part(layout, table, i) for i in (0, 1)}
    )
    assert listing.partitioned == (layout == "hive_partitioned")

    # The footers answer COUNT(*) for every layout, MIN/MAX only where no
    # value lives in a directory name.
    n = spark.read.parquet(table).count()
    assert footer_row_count(spark, str(tmp_path), "t") == n
    want = None if layout == "hive_partitioned" else (
        (3, 7) if layout == "single_file" else (-2, 7)
    )
    assert footer_min_max(table, "v") == want

    # Same name, same size, new mtime: the fingerprint moves.
    fp = table_fingerprint(table)
    assert fp == table_fingerprint(table)
    assert re.fullmatch(r"[0-9a-f]+", fp)
    os.utime(_part(layout, table, 0), ns=(1, 1))
    assert table_fingerprint(table) != fp
    if layout != "single_file":
        fp = table_fingerprint(table)
        extra = _part(layout, table, 2)
        _write(extra, [5])
        assert table_fingerprint(table) != fp
        os.remove(extra)
        assert table_fingerprint(table) == fp

    # Two copies of a table never share a fingerprint.
    copy = str(tmp_path / "copy" / "t.parquet")
    os.makedirs(os.path.dirname(copy))
    (shutil.copytree if os.path.isdir(table) else shutil.copy2)(table, copy)
    assert table_fingerprint(copy) != table_fingerprint(table)

    # The catalog refreshes on an in-place rewrite of a part file, also
    # one under a partition directory.
    src = ParquetDirSource(spark, str(tmp_path))
    assert src.query("select * from t").count() == n
    _write(_part(layout, table, 0), [3, 7, 8, 9])
    assert src.query("select * from t").count() == n + 2


def test_catalog_reloads_a_table_rewritten_with_a_new_column(spark, tmp_path):
    """A rewrite that adds a column reaches the catalog's next query: the
    view is loaded again, schema included, not only re-listed.  Later
    rewrites and appends keep the row count current."""
    table = tmp_path / "t.parquet"
    table.mkdir()
    pq.write_table(pa.table({"a": [1, 2, 3]}), str(table / "part-0.parquet"))
    src = ParquetDirSource(spark, str(tmp_path))
    assert src.query("select * from t").columns == ["a"]

    pq.write_table(
        pa.table({"a": [1, 2, 3, 4, 5], "b": [5, 4, 3, 2, 1]}),
        str(table / "part-0.parquet"),
    )
    got = src.query("select * from t")
    assert got.columns == ["a", "b"]
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, 5), (2, 4), (3, 3), (4, 2), (5, 1),
    ]

    pq.write_table(
        pa.table({"a": [7, 8], "b": [0, 0]}), str(table / "part-0.parquet")
    )
    assert src.query("select * from t").count() == 2
    pq.write_table(
        pa.table({"a": [9, 10, 11], "b": [1, 1, 1]}),
        str(table / "part-1.parquet"),
    )
    assert src.query("select * from t").count() == 5
