"""Relational/analytics query surface over the star schema.

Covers the reference's scan/filter/join/aggregate inventory (SURVEY §2.1,
§2.3, §2.4, §2.8) re-expressed on TPC-H-ish fixtures, plus the
sorts/limits/set-ops/window functions the reference lacks entirely
(SURVEY §2.9 — "all come free from Spark").

Scale notes (100 TB posture):
- dimension joins broadcast explicitly (``F.broadcast``) — nation/region/
  customer are dimensions; the fact side never shuffles for them;
- aggregations are partial (map-side combine) by construction of
  ``groupBy().agg()``;
- top-k is ``orderBy().limit()`` => TakeOrderedAndProject, k rows per
  partition cross the wire, no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.sources import load_table
from ..operators.topk import topk_per_group
from .registry import QuerySpec


# --- TPC-H Q1-shaped pricing summary (SURVEY §2.8: the hash-agg surface) ---
def _pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-12-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
       ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
       ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
       ROUND(AVG(l_discount), 4)                                        AS avg_disc,
       CAST(COUNT(*) AS BIGINT)                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --- Region rollup: fact -> broadcast dim chain (J1/J3 shape at scale) ---
def _region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("num_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


_REGION_ROLLUP_SQL = """
SELECT r_name,
       CAST(COUNT(*) AS BIGINT)      AS num_orders,
       ROUND(SUM(o_totalprice), 2)   AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --- J1: left join + fallback-to-key projection -------------------------
# format_contact (src/signal/format.rs:58-68): name present & non-empty =>
# "{name},{uuid}", else the bare uuid string.
def _contact_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    joined = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left")
    contact = F.when(
        F.col("c_name").isNotNull() & (F.col("c_name") != ""),
        F.concat(F.col("c_name"), F.lit(","), F.col("o_custkey").cast("string")),
    ).otherwise(F.col("o_custkey").cast("string"))
    return joined.select(F.col("o_orderkey"), contact.alias("contact"))


_CONTACT_ENRICH_SQL = """
SELECT o_orderkey,
       CASE WHEN c_name IS NOT NULL AND c_name <> ''
            THEN c_name || ',' || CAST(o_custkey AS VARCHAR)
            ELSE CAST(o_custkey AS VARCHAR) END AS contact
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
"""


# --- J3: left join + '<missing group>' fallback -------------------------
# format_group (src/signal/format.rs:70-79).
def _group_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("n_name"), F.lit("<missing group>")).alias("group_name"),
        )
    )


_GROUP_ENRICH_SQL = """
SELECT c_custkey, COALESCE(n_name, '<missing group>') AS group_name
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
"""


# --- J2: inner equi-join + P2 reaction-style render ---------------------
# Reaction lookup joins on a composite key and DROPS on miss
# (src/signal/format.rs:28-50); render "Reacted with {emoji} to message:
# \"{body}\"" / quote "Answer to message \"{q}\": {body}"
# (src/signal/format.rs:26,49).
def _reaction_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey, "inner")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.format_string(
                'Reacted with %s to message: "%s"', F.col("l_returnflag"), F.col("o_orderpriority")
            ).alias("body"),
        )
    )


_REACTION_RENDER_SQL = """
SELECT l_orderkey, l_linenumber,
       'Reacted with ' || l_returnflag || ' to message: "' || o_orderpriority || '"' AS body
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


# --- S6/F3: partition-pruned range scan ---------------------------------
# store().messages(&thread, from..) (src/lib.rs:344-363): one thread,
# timestamp >= from.
def _range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter((F.col("user_id") == 7) & (F.col("ts") >= F.lit("2024-01-15 00:00:00")))
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "event_type",
            F.round("value", 4).alias("value_r"),
        )
    )


_RANGE_SCAN_SQL = """
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       event_type, ROUND(value, 4) AS value_r
FROM events WHERE user_id = 7 AND ts >= TIMESTAMP '2024-01-15 00:00:00'
"""


# --- F2: conjunctive contact search -------------------------------------
# Contact search ANDs optional uuid equality, phone equality, and name
# substring-contains (src/lib.rs:304-321).
def _conjunctive_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.filter(
        (F.col("c_mktsegment") == "BUILDING")
        & F.col("c_name").contains("1")
        & (F.col("c_acctbal") > 0)
    ).select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))


_CONJUNCTIVE_SEARCH_SQL = """
SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal
FROM customer
WHERE c_mktsegment = 'BUILDING' AND c_name LIKE '%1%' AND c_acctbal > 0
"""


# --- S8: point lookup ----------------------------------------------------
def _point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.filter(F.col("c_custkey") == 42).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


_POINT_LOOKUP_SQL = """
SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey = 42
"""


# --- Window top-k per group (north-star analytics; SURVEY §2.9) ---------
def _topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # row_number ties must be deterministic: order by (price desc, key).
    ranked = topk_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        group_col="o_custkey",
        order_col=[F.desc("o_totalprice"), F.col("o_orderkey")],
        k=3,
    )
    return ranked.select(
        "o_custkey", "o_orderkey", "rk", F.round("o_totalprice", 2).alias("price")
    )


_TOPK_PER_GROUP_SQL = """
SELECT o_custkey, o_orderkey, rk, ROUND(o_totalprice, 2) AS price
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk <= 3
"""


# --- A1: multi-counter stats block --------------------------------------
# Pre-key stats (src/lib.rs:364-411): a block of counters per account kind
# => groupBy + multi-agg.
def _order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.round(F.min("o_totalprice"), 2).alias("mn"),
        F.round(F.max("o_totalprice"), 2).alias("mx"),
    )


_ORDER_STATS_SQL = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS total,
       ROUND(MIN(o_totalprice), 2) AS mn,
       ROUND(MAX(o_totalprice), 2) AS mx
FROM orders GROUP BY o_orderstatus
"""


# --- A2: member count per group (size(members)) -------------------------
def _nation_member_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("members"))
    )


_NATION_MEMBER_COUNT_SQL = """
SELECT n_name, CAST(COUNT(*) AS BIGINT) AS members
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# --- Distinct aggregation ------------------------------------------------
def _distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_DISTINCT_COUNTS_SQL = """
SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
"""


# --- Set ops -------------------------------------------------------------
def _set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    low_nation = c.filter(F.col("c_nationkey") < 3).select("c_custkey")
    # union -> EXCEPT DISTINCT, matching the SQL set semantics exactly.
    return building.union(rich).subtract(low_nation)


_SET_OPS_SQL = """
(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
 UNION
 SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
EXCEPT
SELECT c_custkey FROM customer WHERE c_nationkey < 3
"""


# --- Sort + limit (absent from the reference; SURVEY §2.9) --------------
def _sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(20)
        .select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("price"))
    )


_SORT_LIMIT_SQL = """
SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS price
FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20
"""


SPECS: dict[str, QuerySpec] = {
    "pricing_summary": QuerySpec(_pricing_summary, _PRICING_SUMMARY_SQL, "TPC-H Q1-shaped hash agg (A-class)"),
    "region_rollup": QuerySpec(_region_rollup, _REGION_ROLLUP_SQL, "fact->dim broadcast join chain + agg"),
    "contact_enrich": QuerySpec(_contact_enrich, _CONTACT_ENRICH_SQL, "J1 left join + name,key fallback projection"),
    "group_enrich": QuerySpec(_group_enrich, _GROUP_ENRICH_SQL, "J3 left join + <missing group> fallback"),
    "reaction_render": QuerySpec(_reaction_render, _REACTION_RENDER_SQL, "J2 inner equi-join + P2 render"),
    "range_scan": QuerySpec(_range_scan, _RANGE_SCAN_SQL, "S6 thread range scan"),
    "conjunctive_search": QuerySpec(_conjunctive_search, _CONJUNCTIVE_SEARCH_SQL, "F2 conjunctive contact search"),
    "point_lookup": QuerySpec(_point_lookup, _POINT_LOOKUP_SQL, "S8 point lookup"),
    "topk_per_group": QuerySpec(_topk_per_group, _TOPK_PER_GROUP_SQL, "window row_number top-k per group"),
    "order_stats": QuerySpec(_order_stats, _ORDER_STATS_SQL, "A1 stats block"),
    "nation_member_count": QuerySpec(_nation_member_count, _NATION_MEMBER_COUNT_SQL, "A2 member count"),
    "distinct_counts": QuerySpec(_distinct_counts, _DISTINCT_COUNTS_SQL, "distinct aggregation"),
    "set_ops": QuerySpec(_set_ops, _SET_OPS_SQL, "union/except set ops"),
    "sort_limit": QuerySpec(_sort_limit, _SORT_LIMIT_SQL, "global sort + limit (TakeOrdered)"),
}
