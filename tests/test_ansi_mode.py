"""The registry must not depend on the session's ANSI mode.

Spark 4 defaults ``spark.sql.ansi.enabled=true``; our ``get_session``
pins it off, but the DRIVER constructs its own session and its config is
not ours to control.  Under ANSI, several non-ANSI idioms stop returning
NULL and start throwing (``element_at`` on a missing map key was the one
real instance -- q68 now uses ``try_element_at``).  This test flips ANSI
on at runtime and re-runs the mode-sensitive queries against their
oracles, so a future registry entry that only works in one mode fails
here instead of in a driver row.  (A full-registry ANSI sweep ran green
in round 5; this pins the queries whose semantics ANSI actually
touches: casts, modulo, date arithmetic, collection lookups.)
"""

from __future__ import annotations

import pytest

from conecta_spark.queries import REGISTRY, _load_extensions, catalog

_load_extensions()

from .oracle_utils import assert_match, duckdb_con

_MODE_SENSITIVE = [
    "q62_modulo_semantics",
    "q63_try_cast_matrix",
    "q66_date_arithmetic",
    "q68_map_struct_access",
    "q54_array_funcs",
    "q33_math_funcs",
]


@pytest.fixture(scope="module")
def ansi(spark, sf_dir):
    # the registry tunes a session (ANSI off among its defaults) the
    # first time it sees it: do that now, so the flip below holds for
    # every query instead of being undone by the first one
    catalog(spark, sf_dir)
    prev = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", prev)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", _MODE_SENSITIVE)
def test_oracle_parity_holds_under_ansi(name, ansi, sf_dir, con):
    qd = REGISTRY[name]
    assert_match(name, qd.fn(ansi, sf_dir), con, qd.oracle)
    assert ansi.conf.get("spark.sql.ansi.enabled") == "true"
