"""Advanced relational + training-data queries (round-2 widening).

Classic warehouse shapes the base suite didn't cover yet: TPC-H Q5/Q10
join trees, latest-row-per-key compaction (the batch shape of CDC
upsert), exact median, scalar-subquery shares, windowed moving sums,
and PII masking for training-data pipelines. All pure DataFrame plans:
broadcast the true dimensions, one shuffle per agg/window, filters
pushed to the scan.

Reference parity note: the reference delegates all SQL to DuckDB
(duckdb_util.py:execute_duckdb_query); these queries extend the same
delegated surface Spark-first.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from parquet_pipeline_spark import tables
from parquet_pipeline_spark.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # cached handle (schema + listing), not cached data — see tables.py
    return tables.table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# q60 — latest order per customer (the batch twin of CDC upsert
# compaction: keep the newest row per key). MAX of a struct ordered
# (o_orderdate, o_orderkey) instead of a row_number window: the
# window needs a full per-partition SORT, the struct max is a plain
# hash aggregate with map-side partial combine — no sort anywhere,
# measured 1.6× at sf1 and the gap widens with rows-per-key. NULL
# dates agree with the window's DESC NULLS LAST: a null struct field
# compares smallest, so max prefers dated rows and an all-null key
# falls back to the highest orderkey (pinned vs the oracle on a
# crafted fixture in test_relational).
# ---------------------------------------------------------------------------
@register(
    "q60_latest_per_key",
    oracle="""
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def q60_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    top = orders.groupBy("o_custkey").agg(
        F.max(F.struct("o_orderdate", "o_orderkey", "o_totalprice")).alias("t")
    )
    return top.select(
        "o_custkey",
        F.col("t.o_orderkey").alias("o_orderkey"),
        F.date_format("t.o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.col("t.o_totalprice").alias("o_totalprice"),
    )


# ---------------------------------------------------------------------------
# q61 — exact median (interpolated) per group; Spark median() ==
# DuckDB median() for numeric input
# ---------------------------------------------------------------------------
@register(
    "q61_median",
    oracle="""
    SELECT l_returnflag,
           ROUND(median(l_quantity), 4) AS med_qty,
           ROUND(median(l_discount), 4) AS med_disc,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q61_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
        F.round(F.median("l_discount"), 4).alias("med_disc"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# q62 — scalar subquery: each nation's share of all customers
# (the total is one scalar — broadcast cross join, no per-row subquery)
# ---------------------------------------------------------------------------
@register(
    "q62_share_of_total",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(COUNT(*) / (SELECT COUNT(*)::DOUBLE FROM customer), 6) AS share
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q62_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    total = cust.agg(F.count(F.lit(1)).cast("double").alias("_total"))
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .crossJoin(F.broadcast(total))
        .select(
            "n_name",
            "n_customers",
            F.round(F.col("n_customers") / F.col("_total"), 6).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# q63 — TPC-H Q5 shape: local-supplier volume. Six-way join; the
# classic scale test — facts shuffle once on their join keys,
# nation/region broadcast, customer-nation == supplier-nation applied
# as a join-time filter
# ---------------------------------------------------------------------------
@register(
    "q63_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def q63_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # where(str)/selectExpr/F.expr join conditions: the Column-API
    # form built this plan in ~600 py4j round-trips (tools/
    # py4j_count.py); the string forms parse server-side to the
    # identical expressions in ~150 (r16 round 2). All column names
    # across the six tables are distinct, so name-resolved equi-join
    # conditions bind exactly like the qualified-column form did.
    cust = _t(spark, sf_dir, "customer").selectExpr("c_custkey", "c_nationkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .where(
            "o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1997-01-01'"
        )
        .selectExpr("o_orderkey", "o_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = _t(spark, sf_dir, "supplier").selectExpr("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where("r_name = 'ASIA'")
    return (
        cust.join(orders, F.expr("c_custkey = o_custkey"))
        .join(li, F.expr("o_orderkey = l_orderkey"))
        # supplier scales with SF (10k rows × sf) — forcing a broadcast
        # OOMs at the 100-TB design point. Nation/region below are
        # fixed-size dims, so those hints stay; supplier is left to
        # AQE/statistics, which still broadcasts it when small.
        .join(supp, F.expr("l_suppkey = s_suppkey AND c_nationkey = s_nationkey"))
        .join(F.broadcast(nation), F.expr("s_nationkey = n_nationkey"))
        .join(F.broadcast(region), F.expr("n_regionkey = r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.expr(
                "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# ---------------------------------------------------------------------------
# q64 — moving window sum (3-order rolling spend per customer).
# Frame sums of 2-decimal values round exactly at 2dp on both engines
# (sum of cents is cents — no half-cent boundary exists)
# ---------------------------------------------------------------------------
@register(
    "q64_moving_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate NULLS FIRST, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS rolling_spend
    FROM orders
    WHERE o_custkey < 100
    """,
)
def q64_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("rolling_spend"),
    )


# ---------------------------------------------------------------------------
# q65 — TPC-H Q10 shape: revenue lost to returned items, top-20
# customers
# ---------------------------------------------------------------------------
@register(
    "q65_returned_item_revenue",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           -- exact DECIMAL money (the q83 contract, extended r9: the
           -- seed-11 dirty-lineitem battery flapped this query's
           -- double SUM by a half cent on a .xx5 boundary)
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q65_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        # exact DECIMAL (q83 contract; this query flapped at seed 11)
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# t09 — PII masking for training corpora: digit runs and @-handles
# replaced before text ships to a training set. Pure regexp_replace
# (codegen'd); DuckDB needs the 'g' flag for replace-all parity.
# ---------------------------------------------------------------------------
@register(
    "t09_pii_mask",
    oracle="""
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '[0-9]+', '#', 'g'),
                          '@[A-Za-z0-9_]+', '@USER', 'g') AS masked,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INT)
             AS n_digits_masked
    FROM documents
    WHERE doc_id < 200
    """,
)
def t09_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    masked = F.regexp_replace(
        F.regexp_replace(F.col("text"), r"[0-9]+", "#"), r"@[A-Za-z0-9_]+", "@USER"
    )
    n_digits = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), r"[0-9]", "")
    )
    return docs.select(
        "doc_id", masked.alias("masked"), n_digits.cast("int").alias("n_digits_masked")
    )


# ---------------------------------------------------------------------------
# q66 — TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
# finished multi-supplier order. The two classic correlated predicates
# — EXISTS (another supplier on the order) and NOT EXISTS (another
# LATE supplier on the order) — are decorrelated into per-order
# distinct-supplier counts computed by window functions over ONE
# flagged lineitem⋈orders scan: a row qualifies iff it is late,
# its order has ≥2 distinct suppliers, and exactly 1 distinct LATE
# supplier. The r4 semi+anti formulation recomputed the late-join
# subplan twice and scanned lineitem three times (Spark does not
# dedupe common subplans); the sf1 sweep showed it going 15×
# super-linear on 10× data from AQE broadcast-build churn. This form
# shuffles lineitem ONCE on l_orderkey — the windows and the join
# reuse the same exchange — which is the 100-TB plan.
# "Late" is l_shipdate > o_orderdate + 60 days (this corpus has no
# receipt/commit dates; the join/subquery topology is what Q21 tests).
# Supplier is NOT hint-broadcast (it scales with SF); nation would be,
# but this corpus keys suppliers by s_nationkey directly.
# ---------------------------------------------------------------------------
@register(
    "q66_waiting_supplier",
    oracle="""
    WITH l1 AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
      SELECT 1 FROM l1 l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
    )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)
def q66_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # string-form plan build (r16 round 2): ~590 py4j round-trips →
    # ~150; identical expressions, pinned by the q66 oracle row
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .where("o_orderstatus = 'F'")
        .selectExpr("o_orderkey", "o_orderdate")
    )
    # inner join is sufficient even though EXISTS ranges over ALL
    # lineitem rows: a qualifying row's order is 'F' by construction,
    # so every row the EXISTS could probe lives on an 'F' order too —
    # non-'F' orders can contribute neither late rows nor witnesses,
    # and the join prunes them before the shuffle
    flagged = li.join(orders, F.expr("l_orderkey = o_orderkey")).selectExpr(
        "l_orderkey",
        "l_suppkey",
        "(l_shipdate > o_orderdate + INTERVAL 60 DAYS) AS is_late",
    )
    # Two-level codegen aggregation behind ONE explicit l_orderkey
    # repartition (r17, VERDICT r16 item 1; guide §2.4). History: the
    # r15 form paid two agg exchanges in the broadcast-join regime
    # (pair agg hashed on (l_orderkey, l_suppkey), order agg re-hashed
    # on l_orderkey); r16 replaced it with one collect_list(struct)
    # aggregation — fewer exchanges, but it compiles to
    # ObjectHashAggregate, which has no whole-stage codegen and falls
    # back to sort-based aggregation past 128 in-memory keys
    # (spark.sql.objectHashAggregate.sortBased.fallbackThreshold) —
    # and the driver measured it 0.60× (PERF_r16). This form keeps the
    # single shuffle AND the codegen HashAggregates:
    # HashPartitioning(l_orderkey) satisfies ClusteredDistribution for
    # BOTH aggregations (subset rule), so the pair agg and the order
    # agg run exchange-free behind the one repartition. AQE sizes the
    # repartition (no pinned partition count), and in the 100 TB
    # sort-merge regime the optimizer ELIDES it outright — the SMJ
    # output is already l_orderkey-partitioned; B/C plans verified
    # byte-identical under autoBroadcastJoinThreshold=-1.
    # Interleaved A/B/C (OPTIMIZATION_r17.md item 1; identity
    # collect-checked):
    # sf0.1 medians A(collect_list) 0.868 / B(r15) 0.797 / C(this)
    # 0.716; sf5 A 13.92 / B 12.70 / C 8.84.
    per_os = (
        flagged.repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.expr("sum(CASE WHEN is_late THEN 1 ELSE 0 END) AS late_rows"))
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.expr("count(1) AS n_supp"),
        F.expr("sum(CAST(late_rows > 0 AS INT)) AS n_late_supp"),
        F.expr("max(CASE WHEN late_rows > 0 THEN l_suppkey END) AS l_suppkey"),
        F.expr("sum(late_rows) AS n_late_rows"),
    )
    qual = per_order.where("n_supp >= 2 AND n_late_supp = 1").selectExpr(
        "l_suppkey", "CAST(n_late_rows AS BIGINT) AS n_late_rows"
    )
    supp = _t(spark, sf_dir, "supplier").selectExpr("s_suppkey", "s_name")
    return (
        qual.join(supp, F.expr("l_suppkey = s_suppkey"))
        .groupBy("s_name")
        .agg(F.expr("CAST(sum(n_late_rows) AS BIGINT) AS numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q67 — TPC-H Q22 shape: customers with above-average balance and no
# URGENT orders, grouped by a country-code stand-in (c_nationkey % 10;
# this corpus has no c_phone, and every customer has ≥1 order so the
# anti-join filters to urgent ones to stay non-trivial). The
# correlated aggregate scalar subquery becomes a one-row broadcast
# crossJoin; NOT EXISTS becomes a left-anti join on o_custkey.
# ---------------------------------------------------------------------------
@register(
    "q67_global_sales_opportunity",
    oracle="""
    SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM (
      SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode, c_acctbal
      FROM customer c
      WHERE c_nationkey % 10 IN (1, 3, 5, 7)
        AND c_acctbal > (
          SELECT AVG(c_acctbal) FROM customer
          WHERE c_acctbal > 0 AND c_nationkey % 10 IN (1, 3, 5, 7)
        )
        AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderpriority = '1-URGENT'
        )
    )
    GROUP BY cntrycode
    """,
)
def q67_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(
        (F.col("c_nationkey") % 10).isin(1, 3, 5, 7)
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))  # one-row scalar, broadcast
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 10).cast("int").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# q68 — TPC-H Q8 shape: a nation's market share inside one region's
# PROMO-part order volume, per year. Fact chain shuffles on its join
# keys; nation/region are fixed-size dims (broadcast); part and
# supplier scale with SF so they get NO hint (AQE decides). Ratio
# discipline: both double sums rounded to 2dp (cents-exact) before
# the division, then the share rounded at 6dp — accumulation-order
# differences between engines cannot flip the hash.
# ---------------------------------------------------------------------------
@register(
    "q68_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o    ON l.l_orderkey = o.o_orderkey
      JOIN customer c  ON o.o_custkey = c.c_custkey
      JOIN nation n1   ON c.c_nationkey = n1.n_nationkey
      JOIN region r    ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s  ON l.l_suppkey = s.s_suppkey
      JOIN nation n2   ON s.s_nationkey = n2.n_nationkey
      JOIN part p      ON l.l_partkey = p.p_partkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
    )
    SELECT o_year,
           ROUND(ROUND(SUM(CASE WHEN supp_nation = 'NATION_3'
                                THEN volume ELSE 0 END), 2)
                 / ROUND(SUM(volume), 2), 6) AS mkt_share
    FROM vol
    GROUP BY o_year
    """,
)
def q68_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_nationkey"), F.col("n_name").alias("supp_nation")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    vol = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(region), n1.n_regionkey == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_nationkey"))
        .join(part, li.l_partkey == part.p_partkey)
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    nat_vol = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(0.0)
    )
    return vol.groupBy("o_year").agg(
        F.round(F.round(nat_vol, 2) / F.round(F.sum("volume"), 2), 6).alias(
            "mkt_share"
        )
    )


# ---------------------------------------------------------------------------
# q69 — mode() aggregate with a deterministic tie-break (most frequent
# order priority per market segment; ties resolve to the lexically
# smallest priority). Mode isn't portable across engines when ties
# are arbitrary, so both sides spell it as count + row_number — one
# agg shuffle plus one tiny window over ≤ segments×priorities rows.
# ---------------------------------------------------------------------------
@register(
    "q69_mode_priority",
    oracle="""
    SELECT c_mktsegment, o_orderpriority AS mode_priority,
           CAST(cnt AS BIGINT) AS n_orders
    FROM (
      SELECT c_mktsegment, o_orderpriority, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
      FROM customer JOIN orders ON c_custkey = o_custkey
      GROUP BY c_mktsegment, o_orderpriority
    ) WHERE rn = 1
    """,
)
def q69_mode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    counts = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy("c_mktsegment").orderBy(F.col("cnt").desc(), "o_orderpriority")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("cnt").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# q70 — TPC-H Q11 shape: groups whose value exceeds a FRACTION OF THE
# GLOBAL TOTAL (HAVING against a scalar subquery). The global total
# is one row — broadcast crossJoin, so the plan is two aggregates
# over one scan lineage plus a map-side filter; no per-group
# re-aggregation. Both sides compare ROUNDED sums (cents) so
# accumulation order can't flip a boundary group.
# ---------------------------------------------------------------------------
@register(
    "q70_important_stock",
    oracle="""
    SELECT l_partkey, ROUND(SUM(l_extendedprice * l_quantity), 2) AS value
    FROM lineitem
    GROUP BY l_partkey
    HAVING ROUND(SUM(l_extendedprice * l_quantity), 2) >
           -- threshold in exact DECIMAL, scale-matched on both
           -- engines (ADVICE r9: SUM*DECIMAL(7,4) let Spark's
           -- allowPrecisionLoss reduce the product to scale 6 while
           -- DuckDB kept scale 8 — a half-cent boundary class).
           -- ROUND(SUM*6, -2)/10000 ≡ ROUND(SUM*0.0006, 2) but the
           -- decimal math is integer-scaled and exact everywhere:
           -- multiply by INT 6 (scale preserved), round to a
           -- multiple of 100, cast, divide by the exact double 1e4.
           (SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(l_quantity AS DECIMAL(18,2))) * 6, -2) AS DOUBLE)
                   / 10000
            FROM lineitem)
    """,
)
def q70_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", (F.col("l_extendedprice") * F.col("l_quantity")).alias("v")
    )
    per_part = li.groupBy("l_partkey").agg(F.round(F.sum("v"), 2).alias("value"))
    # threshold in exact DECIMAL (see the oracle comment)
    vd = F.col("l_extendedprice").cast("decimal(18,2)") * F.col(
        "l_quantity"
    ).cast("decimal(18,2)")
    threshold = _t(spark, sf_dir, "lineitem").agg(
        (F.round(F.sum(vd) * F.lit(6), -2).cast("double") / F.lit(10000.0))
        .alias("_thr")
    )
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .filter(F.col("value") > F.col("_thr"))
        .select("l_partkey", "value")
    )


# ---------------------------------------------------------------------------
# q71 — per-row CORRELATED aggregate subquery (orders ≥ 1.1× their
# own customer's average order value), decorrelated the way Catalyst
# would: aggregate per key once, join back on the key, filter. One
# agg shuffle + one equi-join on o_custkey — no per-row subquery
# execution. Threshold rounded (4dp) on both sides so avg
# accumulation order can't flip a boundary row.
# ---------------------------------------------------------------------------
@register(
    "q71_above_customer_avg",
    oracle="""
    SELECT o.o_custkey, o.o_orderkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice > (
      SELECT ROUND(1.1 * AVG(o2.o_totalprice), 4)
      FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    """,
)
def q71_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.round(1.1 * F.avg("o_totalprice"), 4).alias("_thr")
    )
    return (
        orders.join(per_cust, "o_custkey")
        .filter(F.col("o_totalprice") > F.col("_thr"))
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# q72 — time-based RANGE window frame (30-day rolling spend per
# customer): the frame is defined by the ORDER-BY VALUE (seconds),
# not row offsets — the shape rows-frames (q64) can't express when
# events are unevenly spaced. Spark: rangeBetween over unix seconds;
# DuckDB: RANGE BETWEEN INTERVAL. Both include equal-timestamp peers.
# ---------------------------------------------------------------------------
@register(
    "q72_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW), 2)
             AS spend_30d
    FROM orders WHERE o_custkey < 200
    """,
)
def q72_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
    )


# ---------------------------------------------------------------------------
# q73 — multiple COUNT(DISTINCT) in one aggregate: plans through
# Spark's Expand operator (one row replicated per distinct column,
# then two-phase aggregation) — the standard shuffle-heavy shape
# worth pinning because naive rewrites (self-joins per distinct)
# would scan the fact N times.
# ---------------------------------------------------------------------------
@register(
    "q73_multi_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           CAST(COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS BIGINT) AS n_months,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q73_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct(F.date_format("o_orderdate", "yyyy-MM")).alias("n_months"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# q74 — RECURSIVE CTE (Spark 4 supports WITH RECURSIVE): generate a
# date spine and LEFT-join facts onto it so zero-activity days
# appear — the calendar-fill pattern windowed aggs can't express
# (they only see days that exist). Recursion depth = spine length
# (31), driver-bounded; the join is a broadcast of the tiny spine.
# Both sides use their native date-increment dialect.
# ---------------------------------------------------------------------------
@register(
    "q74_recursive_date_spine",
    oracle="""
    WITH RECURSIVE days(d) AS (
      SELECT DATE '1996-01-01'
      UNION ALL SELECT d + 1 FROM days WHERE d < DATE '1996-01-31'
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
    FROM days LEFT JOIN orders ON CAST(o_orderdate AS DATE) = d
    GROUP BY d
    """,
)
def q74_recursive_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        WITH RECURSIVE days(d) AS (
          SELECT DATE '1996-01-01'
          UNION ALL SELECT date_add(d, 1) FROM days WHERE d < DATE '1996-01-31'
        )
        SELECT date_format(d, 'yyyy-MM-dd') AS day,
               CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
        FROM days LEFT JOIN orders_v ON to_date(o_orderdate) = d
        GROUP BY d
        """
    )


# ---------------------------------------------------------------------------
# q75 — sorted string aggregation (LISTAGG/STRING_AGG shape): the
# group's members concatenated in a DETERMINISTIC order (collect_list
# alone is partition-order-dependent — array_sort before concat is
# what makes the result stable and hash-comparable).
# ---------------------------------------------------------------------------
@register(
    "q75_string_agg",
    oracle="""
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q75_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


# ---------------------------------------------------------------------------
# q76 — NTILE + PERCENT_RANK + CUME_DIST distribution windows (the
# quantile-bucketing shape feature stores use for binning): one
# window shuffle on the partition key.
# ---------------------------------------------------------------------------
@register(
    "q76_ntile_buckets",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           NTILE(4) OVER w AS bal_quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pr,
           ROUND(CUME_DIST() OVER w, 6) AS cd
    FROM customer
    WHERE c_custkey < 500
    -- NULLS FIRST pinned: Spark ASC defaults to NULLS FIRST, DuckDB
    -- to NULLS LAST — silent divergence once c_acctbal is nullable
    -- (the r7 window-null lesson, caught again by the dirty-dims
    -- battery in r8)
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal NULLS FIRST, c_custkey)
    """,
)
def q76_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc_nulls_first(), "c_custkey"
    )
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        F.ntile(4).over(w).alias("bal_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


# ---------------------------------------------------------------------------
# q80 — TPC-H Q2 shape: the minimum-cost supplier per part. The
# correlated "price = (SELECT MIN(price) ... WHERE same part)"
# decorrelates into one aggregate per part + an equi-join back on
# the part key (the same exchange), then broadcast joins to the
# supplier→nation dimension chain. Equality against MIN is exact —
# MIN returns one of the input doubles verbatim, no arithmetic — so
# the cross-engine hash can't wobble. DISTINCT collapses multi-row
# ties within a (part, supplier) pair. (The canonical Q2 runs on
# partsupp, which this dataset lacks; lineitem supplies the same
# topology: fact → correlated min → dimension chain.)
# ---------------------------------------------------------------------------
@register(
    "q80_min_cost_supplier",
    oracle="""
    SELECT DISTINCT l.l_partkey,
           s.s_name,
           n.n_name,
           l.l_extendedprice AS min_price
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE l.l_partkey < 500
      AND l.l_extendedprice = (
        SELECT MIN(l2.l_extendedprice)
        FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q80_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") < 500)
        .select("l_partkey", "l_suppkey", "l_extendedprice")
    )
    min_per_part = li.groupBy("l_partkey").agg(
        F.min("l_extendedprice").alias("_min_price")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(min_per_part, "l_partkey")
        .filter(F.col("l_extendedprice") == F.col("_min_price"))
        # supplier grows with SF — broadcast is AQE's runtime call;
        # nation is fixed 25 rows, safe to force
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select(
            "l_partkey",
            "s_name",
            "n_name",
            F.col("l_extendedprice").alias("min_price"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# q92 — gaps & islands: per-user streaks of consecutive active DAYS
# (the classic sequential-analytics shape: date minus row_number is
# constant within a consecutive run). One dedup aggregate + one
# window + one grouped aggregate, all partitioned by user_id — a
# single shuffle key end to end, no self-join.
# ---------------------------------------------------------------------------
@register(
    "q92_activity_streaks",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events WHERE user_id < 50
    ), grouped AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INT) AS grp
      FROM daily
    )
    SELECT user_id,
           strftime(MIN(d), '%Y-%m-%d') AS streak_start,
           strftime(MAX(d), '%Y-%m-%d') AS streak_end,
           CAST(COUNT(*) AS BIGINT) AS streak_days
    FROM grouped GROUP BY user_id, grp
    HAVING COUNT(*) >= 3
    """,
)
def q92_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_pipeline_spark.operators.relational import _events

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 50)
    daily = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    grouped = daily.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    return (
        grouped.groupBy("user_id", "grp")
        .agg(
            F.date_format(F.min("d"), "yyyy-MM-dd").alias("streak_start"),
            F.date_format(F.max("d"), "yyyy-MM-dd").alias("streak_end"),
            F.count("*").alias("streak_days"),
        )
        .filter(F.col("streak_days") >= 3)
        .drop("grp")
    )


# ---------------------------------------------------------------------------
# q93 — cumulative distinct users by month. COUNT(DISTINCT) OVER an
# expanding window isn't directly supported (and would be quadratic
# anyway); the scalable formulation: each user counts once in their
# FIRST month, then a running sum over the month spine. The oracle
# states the same thing as a theta join (firsts <= month) — the
# formulation you must NOT ship at scale, which is the point of
# pinning them equal. The final running sum runs unpartitioned BY
# DESIGN: its input is the month spine AFTER aggregation (one row
# per month — dozens, regardless of corpus size), so the
# single-partition WindowExec touches O(months), never O(orders).
# ---------------------------------------------------------------------------
@register(
    "q93_cumulative_distinct_users",
    oracle="""
    WITH months AS (
      SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month
      FROM orders WHERE o_orderdate IS NOT NULL
    ), firsts AS (
      SELECT o_custkey, MIN(strftime(o_orderdate, '%Y-%m')) AS fm
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY o_custkey
    )
    SELECT m.month, CAST(COUNT(f.o_custkey) AS BIGINT) AS cum_users
    FROM months m JOIN firsts f ON f.fm <= m.month
    GROUP BY m.month
    """,
)
def q93_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dateless orders have no month (same contract as the null-ts
    # exclusion in the time operators). The custkey filter applies
    # ONLY to the user counts, NOT the spine: a month whose only
    # orders have NULL o_custkey still appears (carrying the running
    # cum_users), exactly like the oracle's months CTE, which filters
    # on the date alone while COUNT(f.o_custkey) skips NULL users.
    dated = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").isNotNull())
        .select("o_custkey", F.date_format("o_orderdate", "yyyy-MM").alias("month"))
    )
    firsts_per_month = (
        dated.filter(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(F.min("month").alias("fm"))
        .groupBy(F.col("fm").alias("month"))
        .agg(F.count("*").alias("new_users"))
    )
    spine = dated.select("month").distinct()
    w = W.orderBy("month").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        spine.join(firsts_per_month, "month", "left")
        .withColumn("new_users", F.coalesce("new_users", F.lit(0)))
        .withColumn("cum_users", F.sum("new_users").over(w))
        .select("month", "cum_users")
    )


# ---------------------------------------------------------------------------
# q95 — join-key skew profiler: the diagnostic that decides whether
# a key needs functions.salted_join / AQE skew handling BEFORE the
# expensive join runs. One aggregate + one tiny top-k; share is
# int/int division (bit-identical across engines, no ROUND).
# ---------------------------------------------------------------------------
@register(
    "q95_skew_report",
    oracle="""
    WITH per_key AS (
      SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY l_suppkey
    ), tot AS (SELECT SUM(n_rows) AS total, COUNT(*) AS n_keys FROM per_key)
    SELECT p.key, p.n_rows,
           p.n_rows * 1.0 / t.total AS row_share,
           p.n_rows * 1.0 * t.n_keys / t.total AS skew_factor
    FROM per_key p, tot t
    ORDER BY p.n_rows DESC, p.key LIMIT 10
    """,
)
def q95_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest join keys with their row share and skew
    factor (x the uniform share). skew_factor >> 1 on a key that
    will dominate a shuffle partition = reach for salting/AQE."""
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("key"))
    per_key = li.groupBy("key").agg(F.count("*").alias("n_rows"))
    tot = per_key.agg(
        F.sum("n_rows").alias("total"), F.count("*").alias("n_keys")
    )
    return (
        per_key.crossJoin(F.broadcast(tot))  # one-row scalar broadcast
        .withColumn("row_share", F.col("n_rows") / F.col("total"))
        .withColumn(
            "skew_factor", F.col("n_rows") * F.col("n_keys") / F.col("total")
        )
        .select("key", "n_rows", "row_share", "skew_factor")
        .orderBy(F.col("n_rows").desc(), "key")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q96 — snapshot diff: compare two versions of a table by key and
# classify every key as added / removed / changed / unchanged (the
# lake-side audit for "what did this pipeline run actually do").
# One full-outer join on the key; row content compared via a
# fixed-column md5 so wide rows diff in O(1) per row.
# ---------------------------------------------------------------------------
def table_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str],
    float_scale: int = 6,
) -> DataFrame:
    """(key, status) per key in either snapshot; status in
    {added, removed, changed, unchanged}.

    Fingerprint canonicalization (cross-engine portable): NULL cells
    map to a \\x00 sentinel — concat_ws would silently SKIP them, so
    (NULL, 'a') and ('a', NULL) would collide and a NULL-vs-value
    change would go undetected; floats stringify via
    DECIMAL(38, float_scale) — a plain double→string cast is
    engine-specific ('1.0E9' in Spark, '1000000000.0' in DuckDB),
    which would flag every large value as changed against a snapshot
    written by another engine. The decimal cast is a try_cast so a
    value the decimal can't hold (>= 1e32, NaN, ±Inf) degrades to
    the engine-native double→string form instead of aborting the
    whole diff under ANSI mode — still distinct per value, and never
    colliding with the NULL sentinel. Trade-off: two doubles that
    differ only beyond `float_scale` decimal places fingerprint as
    unchanged (quantization is the price of portability; raise
    float_scale if that matters for your data)."""
    def fingerprint(df: DataFrame) -> DataFrame:
        dtypes = dict(df.dtypes)
        parts = []
        for c in compare_cols:
            col = F.col(c)
            if dtypes[c] in ("double", "float"):
                part = F.coalesce(
                    col.try_cast(f"decimal(38,{float_scale})").cast("string"),
                    col.cast("string"),
                    F.lit("\x00"),
                )
            else:
                part = F.coalesce(col.cast("string"), F.lit("\x00"))
            parts.append(part)
        fp = F.md5(F.concat_ws("\x1f", *parts))
        return df.select(F.col(key), fp.alias("_fp"))

    o = fingerprint(old).withColumnRenamed("_fp", "_fp_old")
    n = fingerprint(new).withColumnRenamed("_fp", "_fp_new")
    return (
        o.join(n, key, "full_outer")
        .select(
            key,
            F.when(F.col("_fp_old").isNull(), "added")
            .when(F.col("_fp_new").isNull(), "removed")
            .when(F.col("_fp_old") != F.col("_fp_new"), "changed")
            .otherwise("unchanged")
            .alias("status"),
        )
    )


@register(
    "q96_snapshot_diff",
    oracle="""
    WITH old_v AS (
      -- canonical fp: NULL -> chr(0) sentinel, floats via
      -- DECIMAL(38,6) (plain double->string casts are
      -- engine-specific; see table_diff docstring)
      SELECT o_orderkey,
             md5(COALESCE(CAST(o_custkey AS VARCHAR), chr(0)) || chr(31) ||
                 COALESCE(CAST(CAST(o_totalprice AS DECIMAL(38,6)) AS VARCHAR), chr(0))) AS fp
      FROM orders WHERE o_orderkey < 1000
    ), new_v AS (
      SELECT o_orderkey,
             md5(COALESCE(CAST(o_custkey AS VARCHAR), chr(0)) || chr(31) ||
                 COALESCE(CAST(CAST(CASE WHEN o_orderkey BETWEEN 800 AND 899
                                         THEN ROUND(o_totalprice * 1.1, 2)
                                         ELSE o_totalprice END AS DECIMAL(38,6))
                               AS VARCHAR), chr(0))) AS fp
      FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1500
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_keys FROM (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
             CASE WHEN o.fp IS NULL THEN 'added'
                  WHEN n.fp IS NULL THEN 'removed'
                  WHEN o.fp <> n.fp THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM old_v o FULL OUTER JOIN new_v n ON o.o_orderkey = n.o_orderkey
    ) GROUP BY status
    """,
)
def q96_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic two-version demo built from one fixture table:
    version B shifts the key window and perturbs a price band, so
    all four statuses appear and the whole report is hash-checked."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    old_v = orders.filter(F.col("o_orderkey") < 1000)
    new_v = orders.filter(
        (F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 1500)
    ).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey").between(800, 899),
            F.round(F.col("o_totalprice") * 1.1, 2),
        ).otherwise(F.col("o_totalprice")),
    )
    diff = table_diff(old_v, new_v, "o_orderkey", ["o_custkey", "o_totalprice"])
    return diff.groupBy("status").agg(F.count("*").alias("n_keys"))


# ---------------------------------------------------------------------------
# q98 — top-k WITH ties (RANK, not row_number): "the 3 biggest order
# days per priority, keeping every order tied at the boundary" —
# the semantics auditors usually MEAN when they say top-k, and a
# different result set from q06/q60's row_number cut whenever ties
# straddle the cut. Same one-window shuffle.
# ---------------------------------------------------------------------------
@register(
    "q98_topk_with_ties",
    oracle="""
    SELECT o_orderpriority, o_totalprice,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM (
      SELECT o_orderpriority, o_totalprice,
             RANK() OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice DESC) AS rk
      FROM orders
    ) WHERE rk <= 3
    GROUP BY o_orderpriority, o_totalprice
    """,
)
def q98_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    w = W.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc())
    return (
        orders.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .groupBy("o_orderpriority", "o_totalprice")
        .agg(F.count("*").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# q99 — time-to-convert: latency from first view to first purchase
# per user, reported as conversion count + mean/median hours. One
# conditional-MIN aggregate per user (single shuffle) then a global
# summary; the product-analytics companion to q77's funnel counts.
# ---------------------------------------------------------------------------
@register(
    "q99_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(AVG(epoch(first_purchase - first_view)) / 3600, 4) AS avg_hours,
           ROUND(median(epoch(first_purchase - first_view)) / 3600, 4) AS med_hours
    FROM firsts WHERE first_purchase >= first_view
    """,
)
def q99_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_pipeline_spark.operators.relational import _events

    ev = _events(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    # cast-to-double keeps fractional seconds (unix_timestamp
    # truncates to whole seconds and diverges from DuckDB's
    # epoch()); NTZ needs the hop through TIMESTAMP, identical
    # under the session's pinned-UTC zone
    def _epoch(c: str):
        return F.col(c).cast("timestamp").cast("double")

    latency_s = _epoch("first_purchase") - _epoch("first_view")
    return (
        firsts.filter(F.col("first_purchase") >= F.col("first_view"))
        .agg(
            F.count("*").alias("n_converted"),
            F.round(F.avg(latency_s) / 3600, 4).alias("avg_hours"),
            F.round(F.median(latency_s) / 3600, 4).alias("med_hours"),
        )
    )


# ---------------------------------------------------------------------------
# q100 — market-basket co-occurrence: the most frequently
# co-purchased part pairs. ONE groupBy shuffle builds per-order
# baskets, then the pairs are generated inside codegen (nested
# array transforms, x < y) — the pair fan-out is bounded by
# items-per-order squared (<= 13 items here, ~80 pairs worst case),
# linear in orders at any scale, never a global crossJoin. Measured
# 5.2× over the equivalent self-join (27.3 → 5.3 s at sf1), which
# scans lineitem twice and shuffles both sides; the ORACLE keeps the
# self-join formulation — a structurally different replay is a
# stronger check than an echo. Same multiplicity semantics: a part
# appearing k times in an order pairs k times (collect_list, value
# comparison), and NULL partkeys drop on both sides (x < y vs the
# join predicate). Top-k with deterministic tiebreak.
# ---------------------------------------------------------------------------
@register(
    "q100_basket_pairs",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM lineitem a
    JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                   AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def q100_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(F.collect_list("l_partkey").alias("ps"))
    pairs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x: F.filter(
                F.transform(
                    F.col("ps"),
                    lambda y: F.when(
                        x < y, F.struct(x.alias("part_a"), y.alias("part_b"))
                    ),
                ),
                lambda p: p.isNotNull(),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )
