"""Declared correctness queries (SURVEY 2.3 Q1-Q16) + the query registry.

Every operator the engine claims is registered here as a named query: a
Spark callable ``fn(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
an equivalent ANSI-SQL oracle string for DuckDB.  The driver hash-compares
the two at sf=0.01; ``tests/test_oracle.py`` does the same locally.

Determinism rules used throughout:

* Column names are aliased identically in Spark and oracle SQL (the driver
  sorts columns by name before hashing).
* Floating aggregates go through exact ``DECIMAL(18,4)`` arithmetic and are
  cast back to ``DOUBLE`` at the end -- decimal addition is associative, so
  Spark's partial-aggregate tree and DuckDB's sequential sum produce the
  same value bit-for-bit; a raw double SUM would differ in the last ulps
  depending on summation order (SURVEY 7.5 risk 4).
* No raw nanosecond timestamps in outputs (Spark truncates parquet NANOS to
  micros -- sources/parquet.py).
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import get_source
from .plans.partition import wrap_query_with_bounds
from .session import tune_session
from .sources.parquet import ParquetDirSource


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    doc: str


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


#: Sessions :func:`catalog` has tuned.
_TUNED: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def catalog(spark: SparkSession, sf_dir: str) -> ParquetDirSource:
    """The pooled parquet catalog for (session, dir) (``io.get_source``);
    tunes the session the first time the registry sees it.  Resolve its
    tables through ``.query(sql)``."""
    if spark not in _TUNED:
        tune_session(spark)
        _TUNED.add(spark)
    return get_source(sf_dir, spark)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog(spark, sf_dir).query(f"select * from {name}")


def epoch_micros(df: DataFrame, col: str = "ts") -> Column:
    """Microseconds since the epoch for a timestamp column, robust to the
    session reading parquet naive timestamps as TIMESTAMP or TIMESTAMP_NTZ.

    The testdata's ``events.ts`` is parquet ``timestamp[us]`` with
    isAdjustedToUTC=false; Spark 4 reads that as TIMESTAMP_NTZ whenever
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` is true (the driver's
    session does), and ``unix_micros`` rejects NTZ outright.  For NTZ we
    difference against the NTZ epoch instead -- pure field arithmetic,
    independent of the session timezone, and exactly DuckDB's ``epoch_us``
    on a naive timestamp.
    """
    from pyspark.sql import types as T

    if isinstance(df.schema[col].dataType, T.TimestampNTZType):
        return F.expr(
            "timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{col}`)"
        )
    return F.unix_micros(F.col(col))


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent SUM of a double column (see module docstring)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,4)")).cast("double").alias(alias)


def DSUM(expr: str) -> str:
    """Oracle-side twin of :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE)"


# ---------------------------------------------------------------------------
# Q1-Q10: the reference-implemented operator surface (SURVEY 2.1)
# ---------------------------------------------------------------------------


@register(
    "q01_full_scan",
    "SELECT * FROM lineitem",
    "O11 full scan: cursor-stream equivalent, parquet batch scan",
)
def q01(spark, sf_dir):
    return t(spark, sf_dir, "lineitem")


@register(
    "q02_projection",
    "SELECT l_orderkey, l_extendedprice, l_shipdate FROM lineitem",
    "O15 schema probe / column pruning: scan reads only 3 columns",
)
def q02(spark, sf_dir):
    return t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_shipdate"
    )


@register(
    "q03_bounded_interior",
    "SELECT * FROM (SELECT * FROM lineitem) AS query_inner "
    "WHERE l_orderkey >= 100 AND l_orderkey < 200",
    "O6 bounded partition query, interior half-open bound",
)
def q03(spark, sf_dir):
    src = catalog(spark, sf_dir)
    return src.query(
        wrap_query_with_bounds(
            "select * from lineitem", "l_orderkey", (100, 200), is_last=False
        )
    )


@register(
    "q04_bounded_last",
    "SELECT * FROM (SELECT * FROM lineitem) AS query_inner "
    "WHERE l_orderkey >= 100 AND l_orderkey <= 200",
    "O6 bounded partition query, last bound inclusive",
)
def q04(spark, sf_dir):
    src = catalog(spark, sf_dir)
    return src.query(
        wrap_query_with_bounds(
            "select * from lineitem", "l_orderkey", (100, 200), is_last=True
        )
    )


@register(
    "q05_min_max_metadata",
    "SELECT CAST(MIN(l_orderkey) AS BIGINT) AS mn, "
    "CAST(MAX(l_orderkey) AS BIGINT) AS mx FROM lineitem",
    "O8 MIN/MAX metadata pushdown (postgres.rs:556-592)",
)
def q05(spark, sf_dir):
    # The planner's own probe: answered from the parquet footers on the
    # driver, no Spark job (reference: metadata is 5-40% of total load time
    # when probed naively).  An Arrow table becomes a LocalTableScan.
    import pyarrow as pa

    src = catalog(spark, sf_dir)
    mn, mx = src.min_max("select * from lineitem", "l_orderkey")
    return spark.createDataFrame(pa.table({
        "mn": pa.array([mn], pa.int64()), "mx": pa.array([mx], pa.int64()),
    }))


@register(
    "q06_count_metadata",
    "SELECT COUNT(*) AS c FROM lineitem",
    "O9 COUNT(*) preallocation metadata (postgres.rs:353-366)",
)
def q06(spark, sf_dir):
    return t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("c"))


@register(
    "q07_merged_counts",
    "SELECT (SELECT COUNT(*) FROM orders) + (SELECT COUNT(*) FROM customer) "
    "AS total_count",
    "O10 merged multi-query count (postgres.rs:512-526)",
)
def q07(spark, sf_dir):
    o = t(spark, sf_dir, "orders").agg(F.count(F.lit(1)).alias("a"))
    c = t(spark, sf_dir, "customer").agg(F.count(F.lit(1)).alias("b"))
    return o.crossJoin(c).select(
        (F.col("a") + F.col("b")).alias("total_count")
    )


@register(
    "q08_partition_union_invariant",
    "SELECT COUNT(*) AS c FROM ("
    " SELECT * FROM lineitem WHERE l_orderkey >= "
    "  (SELECT MIN(l_orderkey) FROM lineitem) AND l_orderkey < 3000"
    " UNION ALL SELECT * FROM lineitem WHERE l_orderkey >= 3000 "
    "  AND l_orderkey <= (SELECT MAX(l_orderkey) FROM lineitem)) t",
    "O5+O6: union of bounded partitions == full scan (row preservation)",
)
def q08(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    # Driver-side min/max probe, exactly the planner's metadata step.
    row = li.agg(
        F.min("l_orderkey").alias("mn"), F.max("l_orderkey").alias("mx")
    ).collect()[0]
    k = F.col("l_orderkey")
    lo = li.where((k >= row["mn"]) & (k < 3000))
    hi = li.where((k >= 3000) & (k <= row["mx"]))
    return lo.unionAll(hi).agg(F.count(F.lit(1)).alias("c"))


@register(
    "q09_limit",
    "SELECT * FROM (SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber) "
    "t LIMIT 10",
    "LIMIT pushdown (deterministic: ordered on a unique key first)",
)
def q09(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(10)
    )


@register(
    "q10_multi_query_union",
    "SELECT * FROM orders WHERE o_orderkey < 750 "
    "UNION ALL SELECT * FROM orders WHERE o_orderkey >= 750",
    "O12/user-partitioned multi-query read via read_sql(list[str])",
)
def q10(spark, sf_dir):
    from .io import read_sql

    return read_sql(
        sf_dir,
        [
            "select * from orders where o_orderkey < 750",
            "select * from orders where o_orderkey >= 750",
        ],
        spark=spark,
    )


# ---------------------------------------------------------------------------
# Q11-Q16: the delegated SQL surface (SURVEY 2.2) -- native Spark ops
# ---------------------------------------------------------------------------


@register(
    "q11_filter_projection",
    "SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem "
    "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'",
    "pushdown filter + projection (TPC-H Q1 input shape)",
)
def q11(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")).select(
        "l_returnflag", "l_linestatus", "l_quantity"
    )


@register(
    "q12_groupby_agg",
    "SELECT l_returnflag, l_linestatus, "
    f" {DSUM('l_quantity')} AS sum_qty, "
    f" {DSUM('l_extendedprice')} AS sum_base, "
    f" {DSUM('l_extendedprice * (1 - l_discount)')} AS sum_disc, "
    f" {DSUM('l_quantity')} / COUNT(*) AS avg_qty, "
    " COUNT(*) AS cnt "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus",
    "grouped aggregation, TPC-H Q1 shape (partial aggs map-side)",
)
def q12(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base"),
            dsum(disc, "sum_disc"),
            (
                F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@register(
    "q13_join_agg",
    "SELECT n.n_name, COUNT(*) AS c FROM customer c "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name",
    "equi-join + grouped count; nation is broadcast (no shuffle of customer)",
)
def q13(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("c"))
    )


@register(
    "q14_three_way_join",
    "SELECT r.r_name, n.n_name, COUNT(*) AS c FROM customer c "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey "
    "GROUP BY r.r_name, n.n_name",
    "3-way join; both dims broadcast, fact table never shuffled pre-agg",
)
def q14(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("c"))
    )


@register(
    "q15_window",
    "SELECT o_custkey, o_orderkey, ROW_NUMBER() OVER "
    "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn "
    "FROM orders",
    "window function: per-key ordered numbering (deterministic tiebreak)",
)
def q15(spark, sf_dir):
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.row_number().over(w).alias("rn")
    )


@register(
    "q16_events_rollup",
    "SELECT user_id, event_type, COUNT(*) AS c, "
    f"{DSUM('value')} AS v FROM events GROUP BY user_id, event_type",
    "event-stream rollup on batch (streaming-shape aggregation)",
)
def q16(spark, sf_dir):
    return (
        t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"), dsum("value", "v"))
    )


def _load_extensions() -> None:
    """Import the extension-operator modules so their @register entries
    land in REGISTRY (dedup / similarity / text analysis / streaming)."""
    import importlib

    for mod in (
        "conecta_spark.sql_surface",
        "conecta_spark.operators.dedup",
        "conecta_spark.operators.simsearch",
        "conecta_spark.operators.asof",
        "conecta_spark.operators.cluster",
        "conecta_spark.operators.skyline",
        "conecta_spark.operators.minhash_store",
        "conecta_spark.operators.ann_store",
        "conecta_spark.operators.stringsim",
        "conecta_spark.functions.sampling",
        "conecta_spark.functions.zorder",
        "conecta_spark.functions.scrub",
        "conecta_spark.functions.text",
        "conecta_spark.functions.quality",
        "conecta_spark.functions.stats",
        "conecta_spark.functions.pipeline",
        "conecta_spark.streaming.events",
        "conecta_spark.multimodal.ops",
    ):
        importlib.import_module(mod)


# The driver's CORRECTNESS file records at most ~50 registry entries in
# iteration order (r1 truncated at exactly 50, leaving x12-x29 unchecked).
# Emit the registry in an explicit priority order so the cap always lands on
# the least informative tail: new/changed oracles first, then the oldest
# freshness floor, refilled per round.
# Window composition for round 12 (exactly 50 slots), per the round-11
# verdict (task 2 -- rotate the eight r8-stale carries first):
#   1. q17-q20/q27/q31-q33, the eight entries whose last driver row is
#      r8 (the registry's only three-round-old proofs; the r11 verdict's
#      documented rotation plan);
#   2. NEW this round: x79 (persisted IVF ANN store -- build/append/
#      search lifecycle behind the x14 metric oracle), x80 (refrozen
#      signature store -- build 3/5, append, refreeze_common, mine,
#      behind exactly x77's frozen-4/5-DF oracle), and x81 (reclustered
#      ANN store -- build 3/5, two appends, recluster_ann_store from
#      the stored vectors, search) -- first driver rows;
#   3. core q01/q02/q12 (every-round scan/projection/agg smoke);
#   4. standing regression sentinels: x16 (TIMESTAMP_NTZ testdata
#      drift), x56 (oracle numeric-kind class), x65 (real Structured
#      Streaming driver row);
#   5. engine-moved re-proofs: the minhash_store lifecycle rework
#      (grace-sweep compaction, committed-batch guards, generation-aware
#      common/) touches x77/x78's code paths, and the assign_cells
#      factor-out of build_ivf_index touches x14 (x42 shares the file);
#   6. 29 of the 43-entry r9 freshness floor (histogram going into r12:
#      r8:8 / r9:44 / r10:44 / r11:50 from CORRECTNESS_r01-r11, minus
#      x14 pulled into tier 5): all fifteen r9 q-entries + the fourteen
#      lowest-numbered r9 x-entries.
# 8 + 3 + 3 + 3 + 4 + 29 = 50 with exactly FOURTEEN carried r9 entries
# (x24, x25, x27-x33, x52, x67-x70): extension operators whose engine
# code hasn't moved since r9 and whose classes stay locally
# oracle-checked every test run; they lead the r13 rotation.  Post-r12
# freshness floor: r9 (those fourteen), then r10.
_ROTATION_FIRSTS = (
    "q17", "q18", "q19", "q20", "q27", "q31", "q32", "q33",
)
_NEW_THIS_ROUND = ("x79", "x80", "x81")
_CORE_SMOKE = ("q01", "q02", "q12")
_REGRESSION_SENTINELS = ("x16", "x56", "x65")
_ENGINE_MOVED = ("x77", "x78", "x14", "x42")
_STALE_R9_REFRESH = (
    "q03", "q05", "q06", "q07", "q08", "q09", "q10", "q11", "q13",
    "q14", "q15", "q16", "q24", "q35", "q37",
    "x01", "x02", "x03", "x04", "x06", "x09", "x10", "x12", "x13",
    "x15", "x17", "x19", "x20", "x21",
)
_WINDOW = (
    _ROTATION_FIRSTS
    + _NEW_THIS_ROUND
    + _CORE_SMOKE
    + _REGRESSION_SENTINELS
    + _ENGINE_MOVED
    + _STALE_R9_REFRESH
)
_PRIORITY_TIERS: tuple[tuple[str, ...], ...] = (
    _ROTATION_FIRSTS,
    _NEW_THIS_ROUND,
    _CORE_SMOKE,
    _REGRESSION_SENTINELS,
    _ENGINE_MOVED,
    _STALE_R9_REFRESH,
    # below the 50-slot window: the fourteen r9 carries first (they
    # lead the r13 rotation), then r10/r11 greens -- newest proofs last
    (
        "x24", "x25", "x27", "x28", "x29", "x30", "x31", "x32", "x33",
        "x52", "x67", "x68", "x69", "x70",
    ),
    tuple(
        f"q{i:02d}" for i in range(3, 69) if f"q{i:02d}" not in _WINDOW
    ),
    tuple(
        f"x{i:02d}" for i in range(1, 82) if f"x{i:02d}" not in _WINDOW
    ),
)


def _priority(name: str) -> tuple[int, int]:
    prefix = name.split("_", 1)[0]
    for tier, names in enumerate(_PRIORITY_TIERS):
        if prefix in names:
            return (tier, names.index(prefix))
    return (len(_PRIORITY_TIERS), 0)


def _ordered() -> list[QueryDef]:
    _load_extensions()
    names = list(REGISTRY)
    return [
        REGISTRY[n]
        for n in sorted(names, key=lambda n: (_priority(n), names.index(n)))
    ]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.fn for q in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in _ordered() if q.oracle}
