"""Delegated-SQL-surface queries (SURVEY 2.2): the relational operations the
reference forwards to the source database as SQL text.  In the Spark engine
they come from Catalyst "for free"; this module pins them down as registered,
DuckDB-oracle-checked queries so the surface is *proved*, not assumed.

Covers: sort/top-k, DISTINCT, set operations (INTERSECT/EXCEPT/UNION),
semi/anti/outer joins, HAVING + CASE, scalar subqueries, CTE shapes
(TPC-H Q3/Q5/Q10 forms), ROLLUP grouping sets, string functions, date
functions, math functions, JSON extraction, conditional pivot, and exact
COUNT(DISTINCT).

Scale notes (100 TB):

* Top-k (``ORDER BY ... LIMIT k``) compiles to TakeOrderedAndProject --
  per-partition partial top-k, no global sort. This is why q17/q28/q30 use
  sort-limit rather than a row_number window over the whole relation.
* Semi/anti joins keep only the probe side's columns -- Catalyst plans a
  LeftSemi/LeftAnti broadcast join when the build side is small (orders here
  is the big side, so these broadcast the *aggregated* key set at real
  scale; on cluster, prefer a bloom-filter pre-pass for 100 TB probes).
* The TPC-H-shaped CTE queries join facts to broadcast dims and aggregate
  with map-side partials; none of them shuffles the fact table more than
  once.
* All float aggregates use the DECIMAL(18,4) trick (queries.dsum) so the
  result is independent of Spark's partial-aggregation tree shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .queries import DSUM, catalog, dsum, register, t


# ---------------------------------------------------------------------------
# sort / distinct / set operations
# ---------------------------------------------------------------------------


@register(
    "q17_orderby_topk",
    "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
    "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100",
    "global top-k by sort-limit (TakeOrderedAndProject, partial top-k "
    "per partition -- no full sort at scale)",
)
def q17(spark, sf_dir) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(
            F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
        )
        .limit(100)
    )


@register(
    "q18_distinct",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "DISTINCT via hash aggregate (map-side partial dedup)",
)
def q18(spark, sf_dir) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
    )


@register(
    "q19_set_ops",
    "SELECT 'both' AS tag, nk FROM ("
    " SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer"
    " INTERSECT SELECT CAST(s_nationkey AS BIGINT) FROM supplier) a "
    "UNION ALL "
    "SELECT 'cust_only' AS tag, nk FROM ("
    " SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer"
    " EXCEPT SELECT CAST(s_nationkey AS BIGINT) FROM supplier) b",
    "INTERSECT + EXCEPT + UNION ALL over nation-key sets",
)
def q19(spark, sf_dir) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nk")
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nk")
    )
    both = c.intersect(s).select(F.lit("both").alias("tag"), "nk")
    cust_only = c.subtract(s).select(F.lit("cust_only").alias("tag"), "nk")
    return both.unionAll(cust_only)


@register(
    "q20_union_distinct",
    "SELECT CAST(c_nationkey AS BIGINT) AS nk FROM customer "
    "UNION SELECT CAST(s_nationkey AS BIGINT) FROM supplier",
    "UNION (distinct) of two key sets",
)
def q20(spark, sf_dir) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("long").alias("nk")
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("long").alias("nk")
    )
    return c.unionAll(s).distinct()


# ---------------------------------------------------------------------------
# join shapes beyond inner: semi / anti / left outer
# ---------------------------------------------------------------------------


@register(
    "q21_anti_join",
    "SELECT c_custkey FROM customer c WHERE NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
    "left anti join: customers with zero orders (NOT EXISTS form)",
)
def q21(spark, sf_dir) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey")


@register(
    "q22_semi_join",
    "SELECT c_custkey FROM customer c WHERE EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
    "left semi join: customers with at least one order (EXISTS form)",
)
def q22(spark, sf_dir) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey")


@register(
    "q23_left_outer_join",
    "SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders "
    "FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey "
    "GROUP BY c.c_custkey",
    "left outer join + count of matches (zero-order customers kept)",
)
def q23(spark, sf_dir) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# HAVING / CASE / scalar subquery / grouping sets
# ---------------------------------------------------------------------------


@register(
    "q24_case_having",
    "SELECT o_orderpriority, COUNT(*) AS c, "
    "CAST(SUM(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_big "
    "FROM orders GROUP BY o_orderpriority HAVING COUNT(*) > 10",
    "CASE WHEN inside aggregate + HAVING post-filter",
)
def q24(spark, sf_dir) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(
                F.when(F.col("o_totalprice") > 100000, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_big"),
        )
        .where(F.col("c") > 10)
    )


@register(
    "q25_scalar_subquery",
    "SELECT p_partkey, p_retailprice FROM part WHERE p_retailprice > "
    "(SELECT CAST(AVG(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) "
    " FROM part)",
    "scalar-subquery threshold (above-average price); broadcast 1-row agg",
)
def q25(spark, sf_dir) -> DataFrame:
    p = t(spark, sf_dir, "part")
    avg = p.agg(
        F.avg(F.col("p_retailprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("avg_price")
    )
    return (
        p.crossJoin(F.broadcast(avg))
        .where(F.col("p_retailprice") > F.col("avg_price"))
        .select("p_partkey", "p_retailprice")
    )


@register(
    "q26_rollup",
    "SELECT r_name, n_name, COUNT(*) AS c FROM customer c "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey "
    "GROUP BY ROLLUP(r_name, n_name)",
    "ROLLUP grouping sets: per-(region,nation), per-region, grand total",
)
def q26(spark, sf_dir) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("c"))
    )


@register(
    "q27_count_distinct",
    "SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_cust, "
    "COUNT(*) AS c FROM orders GROUP BY o_orderpriority",
    "exact COUNT(DISTINCT) per group (expand + two-phase agg in Spark)",
)
def q27(spark, sf_dir) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_cust"),
            F.count(F.lit(1)).alias("c"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped multi-join CTE queries
# ---------------------------------------------------------------------------


@register(
    "q28_tpch_q3_shape",
    "SELECT l_orderkey, "
    f"{DSUM('l_extendedprice * (1 - l_discount)')} AS revenue, o_orderdate "
    "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "WHERE c.c_mktsegment = 'BUILDING' "
    " AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00' "
    " AND l.l_shipdate > TIMESTAMP '1997-01-01 00:00:00' "
    "GROUP BY l_orderkey, o_orderdate "
    "ORDER BY revenue DESC, l_orderkey LIMIT 10",
    "TPC-H Q3 shape: 3-way join, filter, agg, deterministic top-10",
)
def q28(spark, sf_dir) -> DataFrame:
    c = t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    l = t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(rev, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q29_tpch_q5_shape",
    "SELECT n_name, "
    f"{DSUM('l_extendedprice * (1 - l_discount)')} AS revenue "
    "FROM customer c "
    "JOIN orders o ON c.c_custkey = o.o_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
    " AND c.c_nationkey = s.s_nationkey "
    "JOIN nation n ON s.s_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey "
    "WHERE r.r_name = 'ASIA' "
    " AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' "
    " AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00' "
    "GROUP BY n_name",
    "TPC-H Q5 shape: 6-way join (local-supplier volume), dims broadcast",
)
def q29(spark, sf_dir) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(rev, "revenue"))
    )


@register(
    "q30_tpch_q10_shape",
    "SELECT c.c_custkey, c.c_name, "
    f"{DSUM('l_extendedprice * (1 - l_discount)')} AS revenue "
    "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "WHERE l.l_returnflag = 'R' "
    "GROUP BY c.c_custkey, c.c_name "
    "ORDER BY revenue DESC, c_custkey LIMIT 20",
    "TPC-H Q10 shape: returned-item revenue, deterministic top-20",
)
def q30(spark, sf_dir) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(dsum(rev, "revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# scalar-function surface: string / date / math / JSON
# ---------------------------------------------------------------------------


@register(
    "q31_string_funcs",
    "SELECT p_partkey, upper(p_brand) AS brand_u, "
    "substr(p_name, 1, 10) AS name10, "
    "concat(p_type, '#', p_brand) AS type_brand, "
    "length(p_name) AS name_len, "
    "replace(p_type, ' ', '_') AS type_snake "
    "FROM part WHERE p_name LIKE '%a%'",
    "string functions: upper/substr/concat/length/replace + LIKE filter",
)
def q31(spark, sf_dir) -> DataFrame:
    p = t(spark, sf_dir, "part")
    return p.where(F.col("p_name").like("%a%")).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 10).alias("name10"),
        F.concat_ws("#", "p_type", "p_brand").alias("type_brand"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias(
            "type_snake"
        ),
    )


@register(
    "q32_date_funcs",
    "SELECT o_orderkey, "
    "CAST(year(o_orderdate) AS INT) AS yr, "
    "CAST(month(o_orderdate) AS INT) AS mon, "
    "CAST(dayofmonth(o_orderdate) AS INT) AS dom, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start, "
    "CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) "
    " AS INT) AS days_since "
    "FROM orders",
    "date functions: year/month/day extraction, truncation, day diff",
)
def q32(spark, sf_dir) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mon"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).alias("days_since"),
    )


@register(
    "q33_math_funcs",
    "SELECT p_partkey, abs(p_retailprice - 1000.0) AS dev, "
    "round(p_retailprice, 1) AS price_r1, "
    "CAST(floor(p_retailprice) AS BIGINT) AS price_floor, "
    "CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil, "
    "round(sqrt(p_retailprice), 6) AS price_sqrt, "
    "round(ln(p_retailprice), 6) AS price_ln, "
    "CAST(p_size % 7 AS INT) AS size_mod "
    "FROM part",
    "math functions: abs/round/floor/ceil/sqrt/ln/modulo "
    "(transcendentals rounded to 6dp for cross-engine libm parity)",
)
def q33(spark, sf_dir) -> DataFrame:
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.abs(F.col("p_retailprice") - 1000.0).alias("dev"),
        F.round("p_retailprice", 1).alias("price_r1"),
        F.floor("p_retailprice").alias("price_floor"),
        F.ceil("p_retailprice").alias("price_ceil"),
        F.round(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        F.round(F.log("p_retailprice"), 6).alias("price_ln"),
        (F.col("p_size") % 7).alias("size_mod"),
    )


@register(
    "q34_json_extract",
    "SELECT event_id, "
    "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k "
    "FROM events",
    "JSON extraction from a string column (SURVEY 1.3: JSON via "
    "StringType + get_json_object)",
)
def q34(spark, sf_dir) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


@register(
    "q35_conditional_pivot",
    "SELECT CAST(year(o_orderdate) AS INT) AS yr, "
    "CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)"
    " AS BIGINT) AS n_urgent, "
    "CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)"
    " AS BIGINT) AS n_high, "
    "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') "
    "THEN 0 ELSE 1 END) AS BIGINT) AS n_other, COUNT(*) AS c "
    "FROM orders GROUP BY 1",
    "pivot via conditional aggregation (orders per year x priority)",
)
def q35(spark, sf_dir) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    pri = F.col("o_orderpriority")
    return (
        o.groupBy(F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(F.when(pri == "1-URGENT", 1).otherwise(0))
            .cast("long")
            .alias("n_urgent"),
            F.sum(F.when(pri == "2-HIGH", 1).otherwise(0))
            .cast("long")
            .alias("n_high"),
            F.sum(F.when(pri.isin("1-URGENT", "2-HIGH"), 0).otherwise(1))
            .cast("long")
            .alias("n_other"),
            F.count(F.lit(1)).alias("c"),
        )
    )


@register(
    "q36_window_agg_frames",
    "SELECT o_orderkey, o_custkey, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER "
    " (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) "
    " AS running_spend, "
    "CAST(lag(o_totalprice) OVER "
    " (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) "
    " AS prev_price, "
    "CAST(rank() OVER (PARTITION BY o_custkey "
    " ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS spend_rank "
    "FROM orders",
    "window frames: running sum (ROWS), lag, rank -- one shuffle, "
    "three functions over a shared partitioning",
)
def q36(spark, sf_dir) -> DataFrame:
    from pyspark.sql.window import Window

    w_time = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    w_run = w_time.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .over(w_run)
        .cast("double")
        .alias("running_spend"),
        F.lag("o_totalprice").over(w_time).cast("double").alias("prev_price"),
        F.rank().over(w_rank).cast("long").alias("spend_rank"),
    )


@register(
    "q37_cube",
    "SELECT lang, source, COUNT(*) AS n_docs, "
    "CAST(SUM(n_chars) AS BIGINT) AS chars "
    "FROM documents GROUP BY CUBE(lang, source)",
    "CUBE grouping: all (lang, source) aggregation combinations in one "
    "pass (Spark expands to a union of grouping sets map-side)",
)
def q37(spark, sf_dir) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q38_correlated_exists",
    "SELECT c_custkey, c_name FROM customer c WHERE EXISTS ("
    " SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey"
    " AND o.o_totalprice > 300000)",
    "correlated EXISTS subquery: Catalyst rewrites to a left-semi join "
    "(no per-row subquery execution)",
)
def q38(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "SELECT c_custkey, c_name FROM customer c WHERE EXISTS ("
        " SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey"
        " AND o.o_totalprice > 300000)"
    )


@register(
    "q39_unpivot",
    "SELECT l_orderkey, l_linenumber, k AS measure, v AS val FROM ("
    " SELECT l_orderkey, l_linenumber, 'qty' AS k, "
    "  CAST(l_quantity AS DOUBLE) AS v FROM lineitem"
    " UNION ALL SELECT l_orderkey, l_linenumber, 'price', "
    "  CAST(l_extendedprice AS DOUBLE) FROM lineitem"
    " UNION ALL SELECT l_orderkey, l_linenumber, 'disc', "
    "  CAST(l_discount AS DOUBLE) FROM lineitem) u "
    "WHERE l_orderkey <= 100",
    "unpivot via stack(): wide measures to long (k, v) rows -- one scan, "
    "no join (the oracle's UNION ALL form scans three times)",
)
def q39(spark, sf_dir) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'qty', CAST(l_quantity AS DOUBLE), "
            "'price', CAST(l_extendedprice AS DOUBLE), "
            "'disc', CAST(l_discount AS DOUBLE)) AS (measure, val)"
        ),
    )


# ---------------------------------------------------------------------------
# round-4 additions: grouping sets, explode, ranking, frames, per-group
# top-n, ordered string aggregation
# ---------------------------------------------------------------------------


@register(
    "q40_grouping_sets",
    "SELECT l_returnflag AS rf, l_linestatus AS ls, "
    " GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls, "
    " COUNT(*) AS n, " + DSUM("l_quantity") + " AS sum_qty "
    "FROM lineitem "
    "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())",
    "explicit GROUPING SETS with GROUPING() disambiguation -- the general "
    "form behind ROLLUP (q26) and CUBE (q37); one shuffle, Spark expands "
    "the sets map-side",
)
def q40(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "SELECT l_returnflag AS rf, l_linestatus AS ls, "
        " GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls, "
        " COUNT(*) AS n, " + DSUM("l_quantity") + " AS sum_qty "
        "FROM lineitem "
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"
    )


@register(
    "q41_explode_tokens",
    "SELECT p_partkey, UNNEST(string_split(p_name, ' ')) AS tok FROM part",
    "lateral explode of a split column: generator expands JVM-side inside "
    "whole-stage codegen, zero shuffle (DuckDB oracle: UNNEST)",
)
def q41(spark, sf_dir) -> DataFrame:
    return t(spark, sf_dir, "part").select(
        "p_partkey",
        F.explode(F.split(F.col("p_name"), " ")).alias("tok"),
    )


@register(
    "q42_ranking_funcs",
    "SELECT c_custkey, c_mktsegment, "
    " NTILE(4) OVER w AS quartile, "
    " PERCENT_RANK() OVER w AS pct_rank, "
    " CUME_DIST() OVER w AS cume "
    "FROM customer "
    "WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)",
    "distribution window functions (ntile/percent_rank/cume_dist): one "
    "shuffle on the partition key; tie-broken ORDER BY for determinism",
)
def q42(spark, sf_dir) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "q43_frame_first_last",
    "SELECT o_orderkey, o_custkey, "
    " FIRST_VALUE(o_totalprice) OVER w AS first_price, "
    " LAST_VALUE(o_totalprice) OVER w AS last_price, "
    " NTH_VALUE(o_totalprice, 2) OVER w AS second_price "
    "FROM orders "
    "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
    " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)",
    "navigation functions over an explicit unbounded ROWS frame -- "
    "first/last/nth order per customer; frame pinned so last_value is not "
    "the running default",
)
def q43(spark, sf_dir) -> DataFrame:
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@register(
    "q44_top2_per_group",
    "SELECT o_custkey, o_orderkey, o_totalprice FROM ("
    " SELECT o_custkey, o_orderkey, o_totalprice, "
    "  ROW_NUMBER() OVER (PARTITION BY o_custkey "
    "   ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) "
    "WHERE rn <= 2",
    "greatest-n-per-group via row_number + filter: Spark pushes the rank "
    "filter into the window sort (WindowGroupLimit -- per-partition top-n "
    "heaps, not a full sort of every group)",
)
def q44(spark, sf_dir) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 2)
        .drop("rn")
    )


@register(
    "q45_string_agg",
    "SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names, "
    " COUNT(*) AS n FROM nation GROUP BY n_regionkey",
    "ordered string aggregation: deterministic via explicit element sort "
    "(collect_list order is undefined in Spark -- array_sort pins it)",
)
def q45(spark, sf_dir) -> DataFrame:
    return (
        t(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("n_name")), ","
            ).alias("names"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "q46_rolling_range_window",
    "WITH e AS (SELECT user_id, event_id, "
    " epoch_us(CAST(ts AS TIMESTAMP)) AS tsu, value FROM events) "
    "SELECT user_id, event_id, tsu, "
    " CAST(COUNT(*) OVER w AS BIGINT) AS n_1h, "
    " CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS v_1h "
    "FROM e "
    "WINDOW w AS (PARTITION BY user_id ORDER BY tsu "
    " RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)",
    "rolling 1-hour aggregates via a RANGE frame over event-time micros: "
    "the standard form for rolling rates/sums on an event stream; RANGE "
    "(not ROWS) so timestamp ties share one frame and the result is "
    "order-independent; the DECIMAL trick keeps the windowed double SUM "
    "independent of within-frame evaluation order",
)
def q46(spark, sf_dir) -> DataFrame:
    from pyspark.sql.window import Window

    from .queries import epoch_micros

    events = t(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        "event_id",
        epoch_micros(events).alias("tsu"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tsu")
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        "tsu",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("v_1h"),
    )


_Q47_SQL = (
    "SELECT 'except' AS op, l_returnflag FROM ("
    " SELECT l_returnflag FROM lineitem WHERE l_quantity <= 25"
    " EXCEPT ALL"
    " SELECT l_returnflag FROM lineitem WHERE l_quantity <= 10) "
    "UNION ALL "
    "SELECT 'intersect' AS op, l_returnflag FROM ("
    " SELECT l_returnflag FROM lineitem WHERE l_quantity <= 25"
    " INTERSECT ALL"
    " SELECT l_returnflag FROM lineitem WHERE l_quantity <= 10)"
)


@register(
    "q47_set_ops_all",
    _Q47_SQL,
    "multiplicity-preserving set operations (EXCEPT ALL / INTERSECT ALL): "
    "bag semantics, a different operator from q19's distinct set ops -- "
    "Spark plans both as a single aggregate over tagged counts, not a "
    "distinct + join",
)
def q47(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(_Q47_SQL)


@register(
    "q48_full_outer_join",
    "SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey, "
    " CAST(c.c_custkey IS NULL AS INT) AS only_orders, "
    " CAST(o.o_custkey IS NULL AS INT) AS only_customer, "
    " c.c_name, o.o_orderkey "
    "FROM customer c FULL OUTER JOIN orders o "
    " ON c.c_custkey = o.o_custkey",
    "FULL OUTER JOIN with null-side flags: preserves unmatched rows from "
    "BOTH relations (q23 covers left outer; full outer cannot broadcast "
    "-- Spark must plan a shuffled join, which is the correct plan)",
)
def q48(spark, sf_dir) -> DataFrame:
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    j = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_custkey").isNull().cast("int").alias("only_orders"),
        F.col("o_custkey").isNull().cast("int").alias("only_customer"),
        "c_name",
        "o_orderkey",
    )


# ---------------------------------------------------------------------------
# recursive CTE + lateral subquery (Spark 4 surface)
# ---------------------------------------------------------------------------


# Log-depth spine generation.  The naive linear recursion (m -> m+1 month)
# costs one SCHEDULED JOB per month on Spark's UnionLoop -- measured 11.0 s
# for an 80-month spine at sf0.1, pure per-iteration overhead.  Three fixes,
# 11.0 s -> 1.7 s steady-state:
#  * doubling recursion: step t turns {0..2^t-1} into {0..2^(t+1)-1}, so
#    depth is O(log months), not O(months);
#  * a width-16 anchor (explode(sequence(0,15))) removes the first 4
#    doubling steps -- 3 iterations cover 128 months;
#  * the month-count limit rides along as recursion STATE (computed once in
#    the anchor) instead of a WHERE scalar subquery, which Spark re-plans
#    -- and re-scans orders for -- on every iteration.
_Q49_SPINE = (
    "WITH RECURSIVE g(i, span, lim) AS ("
    " SELECT {anchor}, 16, "
    "  (SELECT CAST({mdiff} AS INT) + 1 FROM orders)"
    " UNION ALL"
    " SELECT g.i + s.side * g.span, g.span * 2, g.lim"
    " FROM g CROSS JOIN (SELECT 0 AS side UNION ALL SELECT 1) s{salias}"
    " WHERE g.span < g.lim"
    "), "
    "bounds AS (SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE)"
    "  AS mn, CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS mx"
    " FROM orders), "
    "months AS ("
    " SELECT DISTINCT {addm} AS m FROM g CROSS JOIN bounds"
    " WHERE {addm} <= mx"
    ") "
    "SELECT months.m AS month_start, "
    " COUNT(o.o_orderkey) AS n_orders, "
    " CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 0.0)"
    "  AS DOUBLE) AS total_price "
    "FROM months LEFT JOIN orders o"
    " ON CAST(date_trunc('month', o.o_orderdate) AS DATE) = months.m "
    "GROUP BY months.m"
)

_Q49_SPARK = _Q49_SPINE.format(
    anchor="explode(sequence(0, 15))",
    mdiff="months_between(date_trunc('month', MAX(o_orderdate)), "
    "date_trunc('month', MIN(o_orderdate)))",
    salias="",
    addm="add_months(mn, i)",
)

_Q49_DUCK = _Q49_SPINE.format(
    anchor="unnest(range(0, 16))",
    mdiff="datediff('month', date_trunc('month', MIN(o_orderdate)), "
    "date_trunc('month', MAX(o_orderdate)))",
    salias="(side)",
    addm="(mn + i * INTERVAL 1 MONTH)::DATE",
)


@register(
    "q49_recursive_month_spine",
    _Q49_DUCK,
    "WITH RECURSIVE month spine from MIN to MAX order date, LEFT JOINed to "
    "per-month order totals -- gap-preserving time series (months with no "
    "orders appear with n_orders=0).  The recursion generates index space "
    "by doubling, so UnionLoop schedules O(log months) iterations instead "
    "of one job per month (see _Q49_SPINE comment: 11.0 s -> 1.7 s at "
    "sf0.1); the spine is tiny either way and orders joins it once.",
)
def q49(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(_Q49_SPARK)


_Q50_SQL = (
    "SELECT r.r_name, t.n_name, t.c FROM region r, "
    "LATERAL ("
    " SELECT n.n_name, COUNT(*) AS c FROM nation n JOIN customer c"
    "  ON c.c_nationkey = n.n_nationkey"
    " WHERE n.n_regionkey = r.r_regionkey"
    " GROUP BY n.n_name ORDER BY c DESC, n.n_name LIMIT 2"
    ") AS t"
)


@register(
    "q50_lateral_topk_per_region",
    _Q50_SQL,
    "correlated LATERAL subquery: per-region top-2 nations by customer "
    "count with ORDER BY ... LIMIT inside the lateral body.  Catalyst "
    "decorrelates this into a join + per-key WindowGroupLimit rather than "
    "re-executing the subquery per outer row, so the fact side is scanned "
    "once regardless of outer cardinality (q44 pins the same physical "
    "guarantee for the window-function spelling).",
)
def q50(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(_Q50_SQL)


@register(
    "q51_right_join_filtered_agg",
    "SELECT c_mktsegment, COUNT(*) AS n_rows, "
    " COUNT(o_orderkey) FILTER (WHERE o_totalprice > 100000) AS n_big, "
    " COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS n_orderless "
    "FROM orders RIGHT JOIN customer ON o_custkey = c_custkey "
    "GROUP BY c_mktsegment",
    "right outer join + FILTER-clause aggregates: customers without orders "
    "survive the join (NULL order side) and are counted selectively -- the "
    "two delegated-SQL shapes the surface still lacked",
)
def q51(spark, sf_dir) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey, "right_outer")
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr(
            "count(o_orderkey) FILTER (WHERE o_totalprice > 100000)"
        ).alias("n_big"),
        F.expr("count(*) FILTER (WHERE o_orderkey IS NULL)").alias(
            "n_orderless"
        ),
    )


@register(
    "q52_group_by_all",
    "SELECT r_name, n_name, COUNT(*) AS c, "
    + DSUM("c_acctbal")
    + " AS bal FROM customer"
    " JOIN nation ON c_nationkey = n_nationkey"
    " JOIN region ON n_regionkey = r_regionkey"
    " GROUP BY ALL",
    "GROUP BY ALL: every non-aggregated select column becomes a grouping "
    "key (both engines infer the same key set)",
)
def q52(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "SELECT r_name, n_name, COUNT(*) AS c, "
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal "
        "FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY ALL"
    )


@register(
    "q53_values_inline_join",
    "WITH tiers(mkt, tier) AS (VALUES"
    " ('AUTOMOBILE', 'retail'), ('MACHINERY', 'industrial'),"
    " ('BUILDING', 'industrial')) "
    "SELECT tier, COUNT(*) AS c FROM customer"
    " JOIN tiers ON c_mktsegment = mkt GROUP BY tier",
    "inline VALUES relation joined to a table (the ad-hoc lookup-table "
    "shape; broadcasts as a literal LocalRelation)",
)
def q53(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "WITH tiers AS (SELECT * FROM VALUES"
        " ('AUTOMOBILE', 'retail'), ('MACHINERY', 'industrial'),"
        " ('BUILDING', 'industrial') AS t(mkt, tier)) "
        "SELECT tier, COUNT(*) AS c FROM customer"
        " JOIN tiers ON c_mktsegment = mkt GROUP BY tier"
    )


@register(
    "q54_array_funcs",
    "WITH a AS (SELECT o_custkey, list_sort(list(DISTINCT o_orderpriority))"
    "  AS ps FROM orders GROUP BY o_custkey) "
    "SELECT CAST(len(ps) AS BIGINT) AS n_prio, "
    " array_to_string(ps, '|') AS prios, COUNT(*) AS n_cust "
    "FROM a GROUP BY ps",
    "array construction/sort/length/join over per-customer priority sets "
    "(arrays stringified at the boundary for the driver)",
)
def q54(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "WITH a AS (SELECT o_custkey,"
        "  sort_array(collect_set(o_orderpriority)) AS ps"
        "  FROM orders GROUP BY o_custkey) "
        "SELECT CAST(size(ps) AS BIGINT) AS n_prio, "
        " array_join(ps, '|') AS prios, COUNT(*) AS n_cust "
        "FROM a GROUP BY ps"
    )


@register(
    "q55_named_window",
    "SELECT o_custkey, o_orderkey, "
    " row_number() OVER w AS rn, "
    " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)"
    "  AS running "
    "FROM orders "
    "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)",
    "named WINDOW clause shared by two window functions (running sum uses "
    "the decimal cast so partial-order summation is engine-independent)",
)
def q55(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "SELECT o_custkey, o_orderkey, "
        " row_number() OVER w AS rn, "
        " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)"
        "  AS running "
        "FROM orders "
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"
    )


@register(
    "q56_null_safe_join",
    "WITH l AS (SELECT CASE WHEN o_orderkey % 3 = 0 THEN NULL"
    "  ELSE o_orderpriority END AS k, o_orderkey FROM orders),"
    " r AS (SELECT DISTINCT CASE WHEN o_orderkey % 5 = 0 THEN NULL"
    "  ELSE o_orderpriority END AS k FROM orders) "
    "SELECT COALESCE(l.k, '<null>') AS k, COUNT(*) AS c "
    "FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k GROUP BY l.k",
    "null-safe equality join (Spark <=> / SQL IS NOT DISTINCT FROM): NULL "
    "keys match each other instead of vanishing -- the semantics ETL "
    "key-reconciliation needs",
)
def q56(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "WITH l AS (SELECT CASE WHEN o_orderkey % 3 = 0 THEN NULL"
        "  ELSE o_orderpriority END AS k, o_orderkey FROM orders),"
        " r AS (SELECT DISTINCT CASE WHEN o_orderkey % 5 = 0 THEN NULL"
        "  ELSE o_orderpriority END AS k FROM orders) "
        "SELECT COALESCE(l.k, '<null>') AS k, COUNT(*) AS c "
        "FROM l JOIN r ON l.k <=> r.k GROUP BY l.k"
    )


@register(
    "q57_nulls_ordering_rank",
    "WITH s AS (SELECT o_orderkey,"
    " CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS p"
    " FROM orders WHERE o_orderkey <= 200) "
    "SELECT o_orderkey, "
    " row_number() OVER (ORDER BY p DESC NULLS LAST, o_orderkey)"
    "  AS rn_last, "
    " row_number() OVER (ORDER BY p DESC NULLS FIRST, o_orderkey)"
    "  AS rn_first "
    "FROM s",
    "explicit NULLS FIRST/LAST ordering made observable through rank "
    "columns (the engines' DEFAULT null placement differs -- Spark asc is "
    "NULLS FIRST, DuckDB is NULLS LAST -- so portable SQL must say it)",
)
def q57(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "WITH s AS (SELECT o_orderkey,"
        " CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS p"
        " FROM orders WHERE o_orderkey <= 200) "
        "SELECT o_orderkey, "
        " row_number() OVER (ORDER BY p DESC NULLS LAST, o_orderkey)"
        "  AS rn_last, "
        " row_number() OVER (ORDER BY p DESC NULLS FIRST, o_orderkey)"
        "  AS rn_first "
        "FROM s"
    )


@register(
    "q58_horizontal_min_max",
    "SELECT l_orderkey, l_linenumber, "
    " greatest(l_tax, l_discount, 0.05) AS hi, "
    " least(l_tax, nullif(l_discount, 0.0)) AS lo "
    "FROM lineitem WHERE l_orderkey <= 100",
    "row-wise greatest/least incl. NULL operands (both engines skip "
    "NULLs rather than propagating them -- pinned because it is the "
    "opposite of scalar comparison semantics)",
)
def q58(spark, sf_dir) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.greatest("l_tax", "l_discount", F.lit(0.05)).alias("hi"),
        F.least(F.col("l_tax"), F.nullif("l_discount", F.lit(0.0))).alias(
            "lo"
        ),
    )


@register(
    "q59_conditional_chain",
    "SELECT o_orderkey, "
    " coalesce(nullif(o_orderstatus, 'O'), '<open>') AS status_tag, "
    " CASE WHEN o_totalprice > 200000 THEN 'jumbo'"
    "  WHEN o_totalprice > 100000 THEN 'large' ELSE 'standard' END"
    "  AS size_tier, "
    " ifnull(nullif(o_orderpriority, o_orderpriority), 'self-null') AS self_null_check "
    "FROM orders WHERE o_orderkey <= 500",
    "conditional-expression chains: nullif/coalesce/ifnull composition "
    "and a searched CASE (nullif(x, x) is always NULL -- the standard "
    "self-null idiom)",
)
def q59(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "SELECT o_orderkey, "
        " coalesce(nullif(o_orderstatus, 'O'), '<open>') AS status_tag, "
        " CASE WHEN o_totalprice > 200000 THEN 'jumbo'"
        "  WHEN o_totalprice > 100000 THEN 'large' ELSE 'standard' END"
        "  AS size_tier, "
        " ifnull(nullif(o_orderpriority, o_orderpriority), 'self-null') AS self_null_check "
        "FROM orders WHERE o_orderkey <= 500"
    )


@register(
    "q60_outer_explode_null_rows",
    "WITH d AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN []"
    "  ELSE string_split(substr(text, 1, 40), ' ') END AS toks"
    " FROM documents WHERE doc_id < 100), "
    "u AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,"
    "  unnest(toks) AS w FROM d) "
    "SELECT d.doc_id, "
    " CAST(coalesce(u.pos, -1) AS BIGINT) AS pos, "
    " coalesce(u.w, '<no-token>') AS w "
    "FROM d LEFT JOIN u ON d.doc_id = u.doc_id",
    "OUTER posexplode: a row with an EMPTY array still produces one "
    "null-padded output row (plain explode silently drops it -- the bug "
    "class where empty documents vanish from per-token accounting)",
)
def q60(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "WITH d AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN array()"
        "  ELSE split(substr(text, 1, 40), ' ') END AS toks"
        " FROM documents WHERE doc_id < 100) "
        "SELECT doc_id, CAST(coalesce(pos, -1) AS BIGINT) AS pos, "
        " coalesce(w, '<no-token>') AS w "
        "FROM d LATERAL VIEW OUTER posexplode(toks) AS pos, w"
    )


@register(
    "q61_percentile_disc",
    "SELECT event_type, "
    " CAST(quantile_disc(value, 0.5) AS DOUBLE) AS p50_disc, "
    " CAST(quantile_disc(value, 0.9) AS DOUBLE) AS p90_disc "
    "FROM events WHERE value IS NOT NULL GROUP BY event_type",
    "discrete percentiles (WITHIN GROUP inverse-distribution): the result "
    "is an actual data element, never an interpolated value -- the "
    "variant x24's continuous percentiles cannot express",
)
def q61(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "SELECT event_type, "
        " percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50_disc, "
        " percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90_disc "
        "FROM events WHERE value IS NOT NULL GROUP BY event_type"
    )


@register(
    "q62_modulo_semantics",
    "WITH n AS (SELECT o_orderkey, o_orderkey - 750 AS d FROM orders"
    "  WHERE o_orderkey <= 1500) "
    "SELECT o_orderkey, d % 7 AS m, ((d % 7) + 7) % 7 AS pm "
    "FROM n",
    "modulo with negative operands: both engines give % the dividend's "
    "sign (C semantics), so nonnegative bucketing needs the "
    "((n % m) + m) % m form -- Spark's pmod(), expanded on the oracle "
    "side.  Pinned because every hash-bucket sampler in this repo "
    "depends on it",
)
def q62(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "WITH n AS (SELECT o_orderkey, o_orderkey - 750 AS d FROM orders"
        "  WHERE o_orderkey <= 1500) "
        "SELECT o_orderkey, d % 7 AS m, pmod(d, 7) AS pm FROM n"
    )


@register(
    "q63_try_cast_matrix",
    "SELECT o_orderkey, "
    " TRY_CAST(o_orderpriority AS INT) AS junk_to_int, "
    " TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS digit_to_int, "
    # Spark CAST(double AS INT) TRUNCATES toward zero; DuckDB ROUNDS
    # half-up.  A genuine cross-engine divergence: the oracle must spell
    # the truncation out to match Spark's (and ANSI's) behavior.
    " CAST(trunc(o_totalprice / 1000.0) AS INT) AS price_k "
    "FROM orders WHERE o_orderkey <= 500",
    "safe-cast matrix: garbage strings degrade to NULL in both engines, "
    "and double->int conversion is pinned as TRUNCATION (Spark/ANSI) "
    "with the DuckDB twin made explicit -- DuckDB's bare cast ROUNDS, "
    "a divergence that silently shifts bucket boundaries if unstated",
)
def q63(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "SELECT o_orderkey, "
        " TRY_CAST(o_orderpriority AS INT) AS junk_to_int, "
        " TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS digit_to_int, "
        " CAST(o_totalprice / 1000.0 AS INT) AS price_k "
        "FROM orders WHERE o_orderkey <= 500"
    )


@register(
    "q64_ignore_nulls_navigation",
    # DuckDB's parser (this version) lacks IGNORE NULLS, so the oracle
    # derives the semantics from first principles: the next non-null is
    # the head of the filtered forward window list, the previous one the
    # tail of the filtered backward list.  That makes this a genuine
    # cross-check of Spark's IGNORE NULLS implementation, not a syntax
    # echo.
    "WITH o AS (SELECT o_custkey, o_orderkey,"
    " CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice END AS p"
    " FROM orders) "
    "SELECT o_custkey, o_orderkey, p, "
    " list_filter(list(p) OVER (PARTITION BY o_custkey ORDER BY o_orderkey"
    "  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),"
    "  v -> v IS NOT NULL)[1] AS next_p, "
    " list_filter(list(p) OVER (PARTITION BY o_custkey ORDER BY o_orderkey"
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),"
    "  v -> v IS NOT NULL)[-1] AS prev_p "
    "FROM o",
    "IGNORE NULLS navigation: lead/lag skipping null gaps per customer, "
    "oracle-checked against a first-principles windowed-list emulation "
    "(the sparse-event carry-forward shape: last known price, next "
    "reading)",
)
def q64(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "WITH o AS (SELECT o_custkey, o_orderkey,"
        " CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice END AS p"
        " FROM orders) "
        "SELECT o_custkey, o_orderkey, p, "
        " lead(p, 1) IGNORE NULLS OVER (PARTITION BY o_custkey"
        "  ORDER BY o_orderkey) AS next_p, "
        " lag(p, 1) IGNORE NULLS OVER (PARTITION BY o_custkey"
        "  ORDER BY o_orderkey) AS prev_p "
        "FROM o"
    )


@register(
    "q65_grouping_functions",
    "SELECT o_orderpriority, o_orderstatus, "
    " CAST(GROUPING(o_orderpriority) AS INT) AS g_pri, "
    " CAST(GROUPING(o_orderstatus) AS INT) AS g_st, "
    " CAST(GROUPING_ID(o_orderpriority, o_orderstatus) AS BIGINT) AS gid, "
    " COUNT(*) AS c "
    "FROM orders GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),"
    " (o_orderpriority), (o_orderstatus), ())",
    "GROUPING()/GROUPING_ID() over grouping sets: distinguishes a real "
    "NULL group key from a superaggregate row, and pins the bit order "
    "(first argument = most significant) as identical across engines",
)
def q65(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "SELECT o_orderpriority, o_orderstatus, "
        " CAST(grouping(o_orderpriority) AS INT) AS g_pri, "
        " CAST(grouping(o_orderstatus) AS INT) AS g_st, "
        " CAST(grouping_id(o_orderpriority, o_orderstatus) AS BIGINT)"
        "  AS gid, "
        " COUNT(*) AS c "
        "FROM orders GROUP BY GROUPING SETS"
        " ((o_orderpriority, o_orderstatus), (o_orderpriority),"
        "  (o_orderstatus), ())"
    )


@register(
    "q66_date_arithmetic",
    # parity corners pinned: both engines clamp month addition to the
    # shorter month's end (Jan 31 + 1 month = Feb 28/29), truncate weeks
    # to ISO Monday, and count day differences as signed whole days.
    # DuckDB date+interval yields TIMESTAMP and date_trunc('week', DATE)
    # yields DATE -- both cast to the Spark output type explicitly.
    "SELECT o_orderkey, o_orderdate, "
    " last_day(o_orderdate) AS month_end, "
    " CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start, "
    " CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start, "
    " CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS plus_month, "
    " CAST(date_diff('day', o_orderdate, DATE '1998-12-31') AS INT)"
    "  AS days_to_end "
    "FROM orders WHERE o_orderkey <= 2000",
    "date arithmetic matrix: end-of-month clamping, ISO week / quarter "
    "truncation, signed day differences -- the calendar semantics every "
    "retention/cohort query depends on, pinned identical cross-engine",
)
def q66(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "SELECT o_orderkey, o_orderdate, "
        " last_day(o_orderdate) AS month_end, "
        " date_trunc('week', o_orderdate) AS week_start, "
        " CAST(date_trunc('quarter', o_orderdate) AS DATE)"
        "  AS quarter_start, "
        " CAST(o_orderdate + INTERVAL '1' MONTH AS DATE) AS plus_month, "
        " datediff(DATE '1998-12-31', o_orderdate) AS days_to_end "
        "FROM orders WHERE o_orderkey <= 2000"
    )


@register(
    "q67_regexp_matrix",
    # Spark regexp_replace replaces ALL matches by default; DuckDB needs
    # the explicit 'g' flag.  DuckDB has no regexp_count -- emulated via
    # length delta.  Patterns stay in the Java-regex/RE2 common subset.
    "SELECT p_partkey, "
    " regexp_extract(p_name, '([a-z]+)', 1) AS first_word, "
    " regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled, "
    " CAST(regexp_matches(p_name, '^[a-z]+ ') AS INT) AS starts_word, "
    " CAST(length(p_name) - length(regexp_replace(p_name, ' ', '', 'g'))"
    "  AS BIGINT) AS n_spaces "
    "FROM part",
    "regexp matrix: group extraction, global replace (Spark's default "
    "vs DuckDB's 'g' flag -- a silent single-replace bug if unstated), "
    "anchored match as boolean, and match counting",
)
def q67(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "SELECT p_partkey, "
        " regexp_extract(p_name, '([a-z]+)', 1) AS first_word, "
        " regexp_replace(p_name, '[aeiou]', '_') AS devoweled, "
        " CAST(p_name RLIKE '^[a-z]+ ' AS INT) AS starts_word, "
        " CAST(regexp_count(p_name, ' ') AS BIGINT) AS n_spaces "
        "FROM part"
    )


@register(
    "q68_map_struct_access",
    # DuckDB map extraction returns a single-element LIST (this
    # version); [1] unwraps it.  Missing-key lookup uses Spark's
    # try_element_at, which returns NULL under BOTH ANSI modes --
    # element_at throws under ANSI (the Spark 4 default), and the
    # driver's session config is not ours to pin.  Made explicit on the
    # oracle side.
    "SELECT c_custkey, "
    " map(['seg','nat'], [c_mktsegment, CAST(c_nationkey AS VARCHAR)])"
    "  ['seg'][1] AS seg, "
    " {'k': c_custkey, 'bal': c_acctbal}.bal AS bal, "
    " CAST(NULL AS DOUBLE) AS missing_key "
    "FROM customer",
    "map/struct access: per-row map construction + key lookup, struct "
    "field extraction, and missing-key semantics (NULL, not error) -- "
    "the property-bag shape metadata columns use",
)
def q68(spark, sf_dir) -> DataFrame:
    return catalog(spark, sf_dir).query(
        "SELECT c_custkey, "
        " element_at(map('seg', c_mktsegment,"
        "  'nat', CAST(c_nationkey AS STRING)), 'seg') AS seg, "
        " named_struct('k', c_custkey, 'bal', c_acctbal).bal AS bal, "
        " try_element_at(map('a', c_acctbal * 2), 'missing')"
        "  AS missing_key "
        "FROM customer"
    )
