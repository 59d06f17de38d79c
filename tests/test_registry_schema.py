"""Every registered query must emit only driver-canonicalizable columns.

The driver's correctness harness canonicalizes results with pandas
``sort_values`` over every column and hashes the values; array/map/struct
columns crash it (``TypeError: unhashable type: 'numpy.ndarray'`` -- the
round-2 x26 failure) and binary hashes are not portable across engines.
Keep every output column scalar so no registry entry can regress into a
harness crash.  Schema analysis alone is enough -- no job runs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from conecta_spark.queries import REGISTRY, _load_extensions

_load_extensions()

_SCALAR_TYPES = (
    T.NullType,
    T.BooleanType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
    T.StringType,
    T.DateType,
    T.TimestampType,
    T.TimestampNTZType,
)


@pytest.mark.parametrize("name", list(REGISTRY))
def test_output_columns_are_scalar(name, spark, sf_dir):
    df = REGISTRY[name].fn(spark, sf_dir)
    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if not isinstance(f.dataType, _SCALAR_TYPES)
    ]
    assert not bad, (
        f"{name} emits non-scalar columns the driver cannot canonicalize: "
        f"{bad}; stringify at the query boundary (array_join / to_json)"
    )


def test_registry_prefixes_unique():
    """bench.py keys its driver-facing JSON by the registry-name prefix
    ("q01", "x37") to fit the driver's 2000-char capture window; a prefix
    collision would silently drop a timing."""
    names = list(REGISTRY)
    prefixes = [n.split("_", 1)[0] for n in names]
    assert len(set(prefixes)) == len(names), (
        "duplicate registry prefixes: "
        f"{[p for p in prefixes if prefixes.count(p) > 1]}"
    )


def test_load_extensions_propagates_import_errors(monkeypatch):
    """A registry module that fails to import must fail the load, not
    silently drop its entries from every registry sweep."""
    import importlib

    real = importlib.import_module

    def broken(name, *args, **kwargs):
        if name == "conecta_spark.operators.simsearch":
            raise ImportError("simulated breakage in simsearch")
        return real(name, *args, **kwargs)

    monkeypatch.setattr(importlib, "import_module", broken)
    with pytest.raises(ImportError, match="simulated breakage"):
        _load_extensions()
