"""Window / sessionization / set-membership analytics surface.

The reference has no window functions, semi/anti joins, or sessionization
(SURVEY §2.8-2.9: 'all come free from Spark') — these queries are that
north-star analytics layer, each oracle-paired.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io.materialize import materialize
from ..io.sources import load_table
from .registry import QuerySpec


# --- semi / anti joins ---------------------------------------------------
def _semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big_orders = orders.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    with_big = customer.join(
        big_orders, customer.c_custkey == big_orders.o_custkey, "left_semi"
    ).select("c_custkey", F.lit("has_big_order").alias("cohort"))
    without_any = customer.join(
        orders.select("o_custkey"), customer.c_custkey == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", F.lit("no_orders").alias("cohort"))
    return with_big.union(without_any)


_SEMI_ANTI_JOIN_SQL = """
SELECT c_custkey, 'has_big_order' AS cohort FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
UNION ALL
SELECT c_custkey, 'no_orders' AS cohort FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# --- pivot (A1's per-kind counter block as a matrix) --------------------
_PIVOT_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PIVOT_PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renames = {p: f"p{p[0]}" for p in _PIVOT_PRIORITIES}
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out.na.fill(0)


_PIVOT_COUNTS_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT) AS p1,
       CAST(COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS BIGINT) AS p2,
       CAST(COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS BIGINT) AS p3,
       CAST(COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS BIGINT) AS p4,
       CAST(COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS BIGINT) AS p5
FROM orders GROUP BY o_orderstatus
"""


# --- lag/lead + running aggregates over event streams -------------------
def _running_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = events.filter(F.col("user_id") < 20).select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("seq"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.round(F.sum("value").over(wsum), 2).alias("running_value"),
    )
    return out


_RUNNING_WINDOW_SQL = """
SELECT user_id, event_id,
       ROW_NUMBER() OVER w AS seq,
       LAG(event_type) OVER w AS prev_type,
       LEAD(event_type) OVER w AS next_type,
       ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_value
FROM events WHERE user_id < 20
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# --- sessionization (gap-based) -----------------------------------------
# Spark: native session_window groupBy.  Oracle: the classic lag + cumsum
# new-session-flag formulation — two independent definitions that must
# agree exactly.
_SESSION_GAP = "30 minutes"


def _sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", _SESSION_GAP).alias("sw"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 2) AS session_value
FROM sessions GROUP BY user_id, session_id
"""


# --- cumulative distribution / ranking families -------------------------
def _rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/cume_dist/ntile over a GLOBAL ordering without the
    single-task global window (`Window.orderBy` with no partitionBy pulls
    the whole table through one task — a scale-killer at 100 TB).

    Two-pass value-bucket + offset (the dense_ids pattern,
    plans/advanced.py, generalized to sampled range boundaries):
    1. sample ~31 quantile cut points of the ORDER BY key driver-side
       (`approxQuantile` — the same sampling RangePartitioner does) and
       broadcast them as literals; each row's bucket is then a PURE
       FUNCTION of its key value (count of boundaries above it), so every
       plan branch that reads the staged frame derives the identical
       bucket — nothing depends on physical partition ids or exchange
       reuse (round-6 ADVICE: `spark_partition_id()` after
       `repartitionByRange` is only branch-stable while Catalyst reuses
       the canonicalized exchange);
    2. local row_number per bucket (parallel), plus a per-bucket count
       table of ~32 rows;
    3. prefix-sum the tiny count table (the ONLY single-task window, over
       ~32 rows), broadcast it back, global rn = offset + local rn.

    The ordering key (s_acctbal DESC, s_suppkey) is UNIQUE — s_suppkey is
    the tiebreak — so rank and dense_rank both equal row_number and
    cume_dist = rn/n.  Bucketing by s_acctbal alone keeps equal-acctbal
    rows in one bucket, so the bucket sequence respects the total order.
    (For a non-unique ordering key see rank_family_ties below.)"""
    supplier = load_table(spark, sf_dir, "supplier")
    order = [F.desc("s_acctbal"), F.col("s_suppkey")]
    base = supplier.select("s_suppkey", "s_acctbal")
    qs = [i / 32.0 for i in range(1, 32)]
    cuts = sorted(set(base.approxQuantile("s_acctbal", qs, 0.01)), reverse=True)
    blit = "array(" + ", ".join(f"CAST({c} AS DOUBLE)" for c in cuts) + ")"
    local = base.withColumn(
        "_pid",
        F.expr(f"size(filter({blit}, b -> b > s_acctbal))").cast("int"),
    ).withColumn(
        "_lrn", F.row_number().over(Window.partitionBy("_pid").orderBy(*order))
    )
    counts = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    offsets = counts.select(
        "_pid",
        F.coalesce(
            F.sum("_n").over(
                Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    total = counts.agg(F.sum("_n").alias("_total"))
    rn = F.col("_off") + F.col("_lrn")
    # ntile(k) closed form: first n%k buckets hold n/k+1 rows, rest n/k
    size = F.floor(F.col("_total") / 4)
    rem = F.col("_total") % 4
    big = rem * (size + 1)
    quartile = F.when(rn <= big, F.floor((rn - 1) / (size + 1)) + 1).otherwise(
        rem + F.floor((rn - big - 1) / size) + 1
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .crossJoin(F.broadcast(total))
        .select(
            "s_suppkey",
            rn.cast("int").alias("rk"),
            rn.cast("int").alias("drk"),
            F.round(rn.cast("double") / F.col("_total"), 4).alias("cd"),
            quartile.cast("int").alias("quartile"),
        )
    )


_RANK_FAMILY_SQL = """
SELECT s_suppkey,
       CAST(RANK() OVER w AS BIGINT) AS rk,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS drk,
       ROUND(CUME_DIST() OVER w, 4) AS cd,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile
FROM supplier
WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
"""


def _rank_family_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank family over a NON-unique global ordering key
    (o_orderdate: ~2.4k distinct dates shared by every order), where
    rank != dense_rank != row_number — the tie semantics rank_family's
    unique key never exercises.

    Same two-pass value-bucket shape, with the tie-group extension:
    - bucket = pure function of the key value (year*4+quarter, ~27
      buckets), so a tie group NEVER spans buckets and per-bucket
      rank/dense_rank are exact within the bucket;
    - the per-bucket count table carries BOTH row count and distinct-key
      count; prefix sums give a row offset (for rank/row_number) and a
      dense offset (for dense_rank);
    - global rank  = row_off  + local rank        (tie-aware),
      global drank = dense_off + local dense_rank,
      cume_dist    = (row_off + max local rn over the tie group) / n,
      ntile(4)     = closed form over rn, which is ordered by the
      tie-broken key (o_orderdate, o_orderkey) to stay deterministic —
      the oracle mirrors this with two WINDOW clauses.

    The machinery is the reusable operator
    ``operators/ranking.py::global_rank_family`` (property-fuzzed against
    native windows over random tie-heavy data in tests/test_properties)."""
    from ..operators.ranking import global_rank_family

    orders = load_table(spark, sf_dir, "orders")
    return global_rank_family(
        orders.select("o_orderkey", "o_orderdate"),
        order_col="o_orderdate",
        id_col="o_orderkey",
        bucket=F.year("o_orderdate") * 4 + F.quarter("o_orderdate"),
    )


_RANK_FAMILY_TIES_SQL = """
SELECT o_orderkey,
       CAST(RANK() OVER w1 AS BIGINT) AS rk,
       CAST(DENSE_RANK() OVER w1 AS BIGINT) AS drk,
       ROUND(CUME_DIST() OVER w1, 4) AS cd,
       CAST(NTILE(4) OVER w2 AS BIGINT) AS quartile
FROM orders
WINDOW w1 AS (ORDER BY o_orderdate),
       w2 AS (ORDER BY o_orderdate, o_orderkey)
"""


def _user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import portable_round
    from ..operators.groupedmap import per_user_trend

    events = load_table(spark, sf_dir, "events")
    out = per_user_trend(events.repartition(8, "user_id"))
    # portable_round on a bit-identical double (see per_user_trend's
    # exact-integer definition) — both engines floor the same value.
    # The degenerate arm (den == 0) is NULL in both engines (Arrow
    # renders a pandas NaN as NULL, so NULL is the only cross-engine-
    # stable encoding; r8 code-review finding) — portable_round passes
    # NULL through, and the isnan guard protects the hypothetical case
    # of a genuine NaN surviving the Arrow crossing, which floor-based
    # rounding would otherwise collapse to a fabricated 0.0.
    return out.select(
        "user_id",
        "n",
        F.when(F.isnan("slope"), F.lit(None).cast("double"))
        .otherwise(portable_round(F.col("slope"), 4))
        .alias("slope"),
    )


# oracle: the SAME exact-integer sufficient-statistic definition the
# grouped map computes (operators/groupedmap.py module docstring) —
# implementations stay independent (pandas grouped-map vs SQL window +
# HUGEINT aggregates) but the statistic is DEFINED so that every sum is
# an exact integer and the only double roundings are the final two
# int→double casts, identical in both engines.  The previous
# regr_slope-vs-numpy pair rounded apart at the 1e-4 grain for 1 user
# in 1500 at sf0.1 (raw slope on a .xx5 boundary, VERDICT r7 task 4);
# exact sufficient statistics make that class unrepresentable.
_USER_TREND_SQL = """
WITH p AS (
  SELECT user_id,
         epoch_us(ts) // 1000000
           - MIN(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id) AS t,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
),
s AS (
  SELECT user_id, COUNT(*) AS n,
         SUM(t) AS st, SUM(v) AS sv, SUM(t * v) AS stv, SUM(t * t) AS stt
  FROM p GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n,
       CASE WHEN n * stt - st * st = 0 THEN CAST(NULL AS DOUBLE)
            ELSE floor(36.0 * (CAST(n * stv - st * sv AS DOUBLE)
                               / CAST(n * stt - st * st AS DOUBLE))
                       * 10000.0 + 0.5) / 10000.0
       END AS slope
FROM s
"""


# --- funnel analysis: strictly-ordered stage progression -----------------
# view -> click -> purchase per user, each stage's timestamp strictly
# after the previous stage's first occurrence.  Three aggregates on the
# SAME shuffle key (user_id) — AQE reuses the partitioning; the
# alternative (window over per-user event arrays) shuffles the same once
# but materializes per-user state.
def _event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    t2 = (
        ev.join(t1, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    t3 = (
        ev.join(t2, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        t1.agg(F.count(F.lit(1)).alias("n_view"))
        .join(t2.agg(F.count(F.lit(1)).alias("n_click_after")), how="cross")
        .join(t3.agg(F.count(F.lit(1)).alias("n_purchase_after")), how="cross")
    )


_EVENT_FUNNEL_SQL = """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > t1.t_view
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > t2.t_click
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM t1) AS n_view,
       (SELECT COUNT(*) FROM t2) AS n_click_after,
       (SELECT COUNT(*) FROM t3) AS n_purchase_after
"""


# --- cohort retention matrix ---------------------------------------------
def _retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(cohort, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


_RETENTION_COHORTS_SQL = """
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort,
       CAST(day - cohort_day AS INTEGER) AS day_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
FROM ev JOIN cohort USING (user_id)
GROUP BY 1, 2
"""


# --- date-spine densification (zero-fill missing days) -------------------
# Time-series tables omit days with no activity; downstream windows and
# charts need an explicit zero row.  The spine is generated with
# sequence() from the observed span — no calendar table to maintain —
# and the grid (days x types) left-joins the sparse daily counts.
def _date_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = span.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    types = ev.select("event_type").distinct()
    daily = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        spine.crossJoin(F.broadcast(types))
        .join(daily, ["day", "event_type"], "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
        )
    )


_DATE_SPINE_SQL = """
WITH span AS (
  SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events
),
spine AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
),
daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT strftime(s.day, '%Y-%m-%d') AS day, t.event_type,
       COALESCE(d.cnt, 0) AS cnt
FROM spine s
CROSS JOIN (SELECT DISTINCT event_type FROM events) t
LEFT JOIN daily d ON d.day = s.day AND d.event_type = t.event_type
"""


# --- LOCF gap filling (last observation carried forward) -----------------
# Sensor/metric streams have holes; the fill is `last(x, ignorenulls)`
# over an ordered per-key frame — one shuffle + one sort, versus the
# naive "join each null row to its nearest predecessor" which is an
# as-of join per null.  'error' events stand in for the holes.
def _locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.last(v, ignorenulls=True).over(w), 2).alias("filled"),
    )


_LOCF_FILL_SQL = """
SELECT event_id, user_id,
       ROUND(last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END
                        IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS filled
FROM events
"""


SPECS: dict[str, QuerySpec] = {
    "date_spine_fill": QuerySpec(
        _date_spine_fill, _DATE_SPINE_SQL, "calendar densification: date spine + zero-fill"
    ),
    "locf_fill": QuerySpec(
        _locf_fill, _LOCF_FILL_SQL, "LOCF gap fill: last(ignorenulls) over ordered frame"
    ),
    "event_funnel": QuerySpec(
        _event_funnel, _EVENT_FUNNEL_SQL, "strictly-ordered view->click->purchase funnel"
    ),
    "retention_cohorts": QuerySpec(
        _retention_cohorts, _RETENTION_COHORTS_SQL, "first-day cohort retention matrix"
    ),
    "user_trend": QuerySpec(_user_trend, _USER_TREND_SQL, "applyInPandas per-group OLS slope vs DuckDB regr_slope"),
    "semi_anti_join": QuerySpec(_semi_anti_join, _SEMI_ANTI_JOIN_SQL, "left_semi/left_anti (EXISTS / NOT EXISTS)"),
    "pivot_counts": QuerySpec(_pivot_counts, _PIVOT_COUNTS_SQL, "groupBy().pivot() counter matrix (A1 shape)"),
    "running_window": QuerySpec(_running_window, _RUNNING_WINDOW_SQL, "lag/lead + running sum window"),
    "sessionize": QuerySpec(_sessionize, _SESSIONIZE_SQL, "native session_window vs lag+cumsum oracle"),
    "rank_family": QuerySpec(_rank_family, _RANK_FAMILY_SQL, "rank/dense_rank/cume_dist/ntile"),
    "rank_family_ties": QuerySpec(
        _rank_family_ties,
        _RANK_FAMILY_TIES_SQL,
        "rank family over a non-unique key: tie-aware two-pass bucket+offset",
    ),
}


# --- md5-portable HyperLogLog (oracle-paired sketch) ---------------------
# Spark's approx_count_distinct is engine-internal (its HLL++ register
# layout can't be replayed in DuckDB => rows-only approx_distinct entry).
# This is a from-scratch HLL over the one hash both engines share, md5:
# p=8 -> 256 registers from the first 2 hex chars; rank = leading zeros
# (+1) of the next 40 bits; alpha_m * m^2 / sum(2^-M_j) with the
# small-range linear-counting correction.  Every step is relational
# (groupBy max + one aggregate), so the sketch is oracle-paired EXACTLY —
# both engines materialize identical registers and identical estimates.
# At scale: registers partial-aggregate map-side (max), the final combine
# is 256 rows; this is the mergeable-sketch shape of a distributed
# count-distinct.

_HLL_P = 8
_HLL_M = 1 << _HLL_P  # 256
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
_HLL_REM_BITS = 40


def _hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import portable_round

    ev = load_table(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string"))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    rem = F.conv(F.substring(h, 3, 10), 16, 10).cast("long")
    bitlen = F.when(rem == 0, F.lit(0)).otherwise(F.length(F.bin(rem)))
    rho = F.lit(_HLL_REM_BITS + 1) - bitlen
    regs = (
        ev.select(bucket.alias("b"), rho.alias("rho"))
        .groupBy("b")
        .agg(F.max("rho").alias("mj"))
    )
    stats = regs.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mj"))).alias("z_used"),
        F.count(F.lit(1)).alias("n_used"),
    )
    exact = ev.agg(F.count_distinct("user_id").alias("n_exact"))
    raw = (_HLL_ALPHA * _HLL_M * _HLL_M) / (
        F.col("z_used") + (_HLL_M - F.col("n_used"))
    )
    zeros = F.lit(_HLL_M) - F.col("n_used")
    est = F.when(
        (raw <= 2.5 * _HLL_M) & (zeros > 0),
        _HLL_M * F.log(F.lit(float(_HLL_M)) / zeros),
    ).otherwise(raw)
    return stats.crossJoin(exact).select(
        "n_exact",
        portable_round(est, 4).alias("hll_estimate"),
        portable_round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 4).alias(
            "rel_err"
        ),
    )


def _sql_hexn(expr: str, start: int, n: int) -> str:
    # explicit BIGINT casts: bare big literals parse as DECIMAL in DuckDB
    # and the per-char products overflow DECIMAL(18) multiplication
    terms = [
        f"(CAST(instr('0123456789abcdef', substr({expr}, {start + i}, 1)) AS BIGINT) - 1) * CAST({16 ** (n - 1 - i)} AS BIGINT)"
        for i in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


def _hll_distinct_sql() -> str:
    h = "md5(CAST(user_id AS VARCHAR))"
    bucket = _sql_hexn(h, 1, 2)
    rem = _sql_hexn(h, 3, 10)
    return f"""
WITH rows_ AS (
  SELECT {bucket} AS b,
         {_HLL_REM_BITS + 1} - (CASE WHEN {rem} = 0 THEN 0
                ELSE length(bin(CAST({rem} AS BIGINT))) END) AS rho
  FROM events
),
regs AS (SELECT b, MAX(rho) AS mj FROM rows_ GROUP BY b),
stats AS (SELECT SUM(2.0 ** (-mj)) AS z_used, COUNT(*) AS n_used FROM regs),
exact AS (SELECT COUNT(DISTINCT user_id) AS n_exact FROM events),
est AS (
  SELECT n_exact,
         CASE WHEN (CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M} * {_HLL_M}) / (z_used + ({_HLL_M} - n_used)) <= {2.5 * _HLL_M}
                   AND ({_HLL_M} - n_used) > 0
              THEN {_HLL_M} * ln({float(_HLL_M)} / ({_HLL_M} - n_used))
              ELSE (CAST({_HLL_ALPHA} AS DOUBLE) * {_HLL_M} * {_HLL_M}) / (z_used + ({_HLL_M} - n_used))
         END AS e
  FROM stats, exact
)
SELECT CAST(n_exact AS BIGINT) AS n_exact,
       FLOOR(e * 10000 + 0.5) / 10000 AS hll_estimate,
       FLOOR(abs(e - n_exact) / n_exact * 10000 + 0.5) / 10000 AS rel_err
FROM est
"""


SPECS["hll_distinct"] = QuerySpec(
    _hll_distinct,
    _hll_distinct_sql(),
    "from-scratch md5-portable HyperLogLog (p=8) vs exact distinct, oracle-paired",
)


# --- md5-portable Bloom filter (oracle-paired sketch) --------------------
# Same portability idea as hll_distinct: Spark's bloom_filter_agg layout
# is engine-internal, so this builds the bit set relationally from md5 —
# k=5 positions per key (first 3 hex chars of md5("{i}|key") mod m=4096),
# the filter is the DISTINCT position set (a 4096-row-max table, always
# broadcastable), membership = "all k probe positions present" via a
# position equi-join + count==k.  Reports the measured false-positive
# rate against the exact semi-join — the number a capacity planner needs.

_BLOOM_M = 4096
_BLOOM_K = 5
_BLOOM_PRICE = 150000


def _bloom_positions(key, m: int = _BLOOM_M, k: int = _BLOOM_K):
    return F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{i}|"), key.cast("string"))), 1, 3),
                16,
                10,
            ).cast("int")
            % m
            for i in range(k)
        ]
    )


def _bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import portable_round

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    build_keys = (
        orders.filter(F.col("o_totalprice") > _BLOOM_PRICE)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    bits = build_keys.select(
        F.explode(_bloom_positions(F.col("k"))).alias("pos")
    ).distinct()
    probe = customer.select(
        F.col("c_custkey"), F.explode(_bloom_positions(F.col("c_custkey"))).alias("pos")
    )
    hits = (
        probe.join(F.broadcast(bits), "pos")
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == _BLOOM_K)
        .select("c_custkey")
    )
    exact = customer.join(
        build_keys, customer.c_custkey == F.col("k"), "left_semi"
    ).select("c_custkey")
    n_probe = customer.agg(F.count(F.lit(1)).alias("n_probe"))
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_pos = hits.agg(F.count(F.lit(1)).alias("n_bloom_positive"))
    n_fp = hits.join(exact, "c_custkey", "left_anti").agg(
        F.count(F.lit(1)).alias("n_false_positive")
    )
    return (
        n_probe.crossJoin(n_exact)
        .crossJoin(n_pos)
        .crossJoin(n_fp)
        .select(
            "n_probe",
            "n_exact",
            "n_bloom_positive",
            "n_false_positive",
            # NULL when every probe key is a true member (denominator 0):
            # an fp RATE is undefined with no non-members, and under
            # Spark 4's default ANSI mode the bare division THROWS on an
            # all-members corpus (hit at sf0.001; sf0.01 has 1 non-member)
            portable_round(
                F.col("n_false_positive")
                / F.nullif(
                    (F.col("n_probe") - F.col("n_exact")).cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("fp_rate"),
        )
    )


def _bloom_membership_sql() -> str:
    def pos_expr(i: int, key: str) -> str:
        h = f"md5('{i}|' || CAST({key} AS VARCHAR))"
        return f"({_sql_hexn(h, 1, 3)} % {_BLOOM_M})"

    build_pos = " UNION ALL ".join(
        f"SELECT {pos_expr(i, 'k')} AS pos FROM build_keys" for i in range(_BLOOM_K)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT c_custkey, {pos_expr(i, 'c_custkey')} AS pos FROM customer"
        for i in range(_BLOOM_K)
    )
    return f"""
WITH build_keys AS (
  SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > {_BLOOM_PRICE}
),
bits AS (SELECT DISTINCT pos FROM ({build_pos})),
probe AS ({probe_pos}),
hits AS (
  SELECT c_custkey FROM probe JOIN bits USING (pos)
  GROUP BY c_custkey HAVING COUNT(*) = {_BLOOM_K}
),
exact AS (
  SELECT c_custkey FROM customer WHERE EXISTS
    (SELECT 1 FROM build_keys WHERE k = c_custkey)
),
s AS (
  SELECT (SELECT COUNT(*) FROM customer) AS n_probe,
         (SELECT COUNT(*) FROM exact) AS n_exact,
         (SELECT COUNT(*) FROM hits) AS n_bloom_positive,
         (SELECT COUNT(*) FROM hits WHERE c_custkey NOT IN (SELECT c_custkey FROM exact)) AS n_false_positive
)
SELECT CAST(n_probe AS BIGINT) AS n_probe,
       CAST(n_exact AS BIGINT) AS n_exact,
       CAST(n_bloom_positive AS BIGINT) AS n_bloom_positive,
       CAST(n_false_positive AS BIGINT) AS n_false_positive,
       FLOOR(n_false_positive * 1.0 / NULLIF(n_probe - n_exact, 0) * 1000000 + 0.5) / 1000000 AS fp_rate
FROM s
"""


SPECS["bloom_membership"] = QuerySpec(
    _bloom_membership,
    _bloom_membership_sql(),
    "from-scratch md5-portable Bloom filter (m=4096,k=5): membership join + measured fp_rate",
)


# --- md5-portable Count-Min Sketch (oracle-paired sketch) ----------------
# d=4 hash rows x w=256 counters over the document word stream; the
# estimate for a word is min over rows of its counter — always >= the
# exact count, with overcount bounded by collisions (eps ~ e/w of total
# mass).  Counters build as ONE groupBy (map-side partial sums); the
# top-10 report joins exact counts with estimates so the overcount is
# visible and oracle-checked.  The sketch is mergeable (counter tables
# add), which is what makes it the distributed heavy-hitter structure.

_CMS_D = 4
_CMS_W = 256


def _cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.split(
                F.lower(
                    F.regexp_replace(
                        F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " "
                    )
                ),
                " ",
            )
        ).alias("w")
    )
    pos = lambda i: (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}|"), F.col("w"))), 1, 3), 16, 10
        ).cast("int")
        % _CMS_W
    )
    # counter table: (row i, pos) -> count, one shuffle
    counter_rows = words.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), pos(i).alias("pos"))
                    for i in range(_CMS_D)
                ]
            )
        ).alias("ip")
    ).select("ip.i", "ip.pos")
    counters = counter_rows.groupBy("i", "pos").agg(F.count(F.lit(1)).alias("c"))
    exact = words.groupBy("w").agg(F.count(F.lit(1)).alias("n_exact"))
    probes = exact.select(
        "w",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), pos(i).alias("pos"))
                    for i in range(_CMS_D)
                ]
            )
        ).alias("ip"),
    ).select("w", "n_exact", "ip.i", "ip.pos")
    est = (
        probes.join(F.broadcast(counters), ["i", "pos"])
        .groupBy("w", "n_exact")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return (
        est.select(
            "w", "n_exact", "cms_estimate", (F.col("cms_estimate") - F.col("n_exact")).alias("overcount")
        )
        .orderBy(F.desc("n_exact"), "w")
        .limit(10)
    )


def _cms_sql() -> str:
    norm = "lower(regexp_replace(trim(COALESCE(text, '')), '\\s+', ' ', 'g'))"

    def pos_expr(i: int) -> str:
        h = f"md5('{i}|' || w)"
        return f"({_sql_hexn(h, 1, 3)} % {_CMS_W})"

    counter_rows = " UNION ALL ".join(
        f"SELECT {i} AS i, {pos_expr(i)} AS pos FROM words" for i in range(_CMS_D)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT w, n_exact, {i} AS i, {pos_expr(i)} AS pos FROM exact"
        for i in range(_CMS_D)
    )
    return f"""
WITH words AS (
  SELECT unnest(string_split({norm}, ' ')) AS w FROM documents
),
counters AS (
  SELECT i, pos, COUNT(*) AS c FROM ({counter_rows}) GROUP BY i, pos
),
exact AS (SELECT w, COUNT(*) AS n_exact FROM words GROUP BY w),
probes AS ({probe_rows}),
est AS (
  SELECT w, n_exact, MIN(c) AS cms_estimate
  FROM probes JOIN counters USING (i, pos)
  GROUP BY w, n_exact
)
SELECT w, CAST(n_exact AS BIGINT) AS n_exact,
       CAST(cms_estimate AS BIGINT) AS cms_estimate,
       CAST(cms_estimate - n_exact AS BIGINT) AS overcount
FROM est
ORDER BY n_exact DESC, w
LIMIT 10
"""


SPECS["cms_heavy_hitters"] = QuerySpec(
    _cms_heavy_hitters,
    _cms_sql(),
    "from-scratch md5-portable Count-Min sketch (d=4,w=256): top-10 heavy hitters with overcount",
)


def _first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style attribution: each purchase credits the user's most
    recent preceding click within 1 hour.  Same as-of shape as
    ``asof_join``: both event types share ONE shuffle+sort on (user_id,
    ts); ``last(click, ignorenulls)`` carries the prior click forward, so
    no per-pair theta join ever forms.  State per row is one carried
    value — the plan survives any corpus size."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    # event_id tie-break (r2 ADVICE item 4): with duplicate (user_id, ts)
    # rows, last(..., ignorenulls) over a ts-only ordering is
    # nondeterministic in both engines
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.last(click_id, ignorenulls=True).over(w).alias("last_click_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("last_click_ts"),
    )
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .filter(
            F.col("last_click_ts").isNotNull()
            & (F.col("ts") - F.col("last_click_ts") <= F.expr("INTERVAL 1 HOUR"))
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("last_click_id").alias("click_id"),
            (
                F.unix_timestamp("ts") - F.unix_timestamp("last_click_ts")
            ).alias("secs_after_click"),
        )
    )


_FIRST_TOUCH_SQL = """
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type,
         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
  FROM events
  WHERE event_type IN ('click', 'purchase')
)
SELECT event_id AS purchase_id, last_click_id AS click_id,
       CAST(date_diff('second', last_click_ts, ts) AS BIGINT) AS secs_after_click
FROM tagged
WHERE event_type = 'purchase'
  AND last_click_ts IS NOT NULL
  AND ts - last_click_ts <= INTERVAL 1 HOUR
"""


SPECS["first_touch_attribution"] = QuerySpec(
    _first_touch_attribution,
    _FIRST_TOUCH_SQL,
    "purchase -> most recent click within 1h, one shared shuffle (as-of shape)",
)


def _assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over per-user event-type sets:
    support / confidence / lift for every type pair.  The classic Apriori
    first level as pure relational algebra: distinct (user, type) — one
    shuffle — then a self-equi-join on user_id whose fan-out is bounded by
    the TYPE vocabulary (k types -> at most k(k-1)/2 pairs per user), so
    the "basket explosion" is capped by design, not data size."""
    from ..functions.text import portable_round

    ev = load_table(spark, sf_dir, "events")
    ut = materialize(ev.select("user_id", "event_type").distinct(), "user event types", "cache")
    # n_users stays IN the plan as a broadcast 1-row aggregate (the SQL
    # twin's CROSS JOIN nu) — no driver-side count() action at plan build
    # (r2 VERDICT task 8's rule; this was the last plan that ran one).
    nu = ut.agg(F.count_distinct("user_id").alias("n_users"))
    per_type = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    pairs = (
        ut.alias("l")
        .join(ut.alias("r"), "user_id")
        .filter(F.col("l.event_type") < F.col("r.event_type"))
        .groupBy(
            F.col("l.event_type").alias("a"), F.col("r.event_type").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    na = per_type.select(F.col("event_type").alias("a"), F.col("n_t").alias("n_a"))
    nb = per_type.select(F.col("event_type").alias("b"), F.col("n_t").alias("n_b"))
    supp = F.col("n_ab") / F.col("n_users").cast("double")
    conf = F.col("n_ab") / F.col("n_a")
    lift = (F.col("n_ab") * F.col("n_users").cast("double")) / (
        F.col("n_a") * F.col("n_b")
    )
    return (
        pairs.join(F.broadcast(na), "a")
        .join(F.broadcast(nb), "b")
        .crossJoin(F.broadcast(nu))
        .select(
            "a",
            "b",
            "n_ab",
            portable_round(supp, 4).alias("support"),
            portable_round(conf, 4).alias("confidence"),
            portable_round(lift, 4).alias("lift"),
        )
    )


_ASSOC_RULES_SQL = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
nu AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
per_type AS (SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY event_type),
pairs AS (
  SELECT l.event_type AS a, r.event_type AS b, COUNT(*) AS n_ab
  FROM ut l JOIN ut r ON l.user_id = r.user_id AND l.event_type < r.event_type
  GROUP BY 1, 2
)
SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab,
       FLOOR(n_ab / CAST(n_users AS DOUBLE) * 10000 + 0.5) / 10000 AS support,
       FLOOR(n_ab / CAST(pa.n_t AS DOUBLE) * 10000 + 0.5) / 10000 AS confidence,
       FLOOR((n_ab * CAST(n_users AS DOUBLE)) / (pa.n_t * CAST(pb.n_t AS DOUBLE)) * 10000 + 0.5) / 10000 AS lift
FROM pairs
JOIN per_type pa ON pairs.a = pa.event_type
JOIN per_type pb ON pairs.b = pb.event_type
CROSS JOIN nu
"""


SPECS["assoc_rules"] = QuerySpec(
    _assoc_rules,
    _ASSOC_RULES_SQL,
    "association rules (support/confidence/lift) over per-user type sets",
)


def _markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    P(next type | current type) with row-wise normalization — the
    building block of next-event prediction and funnel drop-off modeling.
    One shuffle+sort per user for the lag pairing (sequences are bounded
    per user), then a vocabulary-sized aggregate; the normalizing row
    sums are derived from the pair table itself, never a second corpus
    pass (same trick as bigram_logprob)."""
    from pyspark.sql.window import Window

    from ..functions.text import portable_round

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("cur"),
            F.col("event_type").alias("nxt"),
        )
        .filter(F.col("cur").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("cur").agg(F.sum("n").alias("row_n"))
    return pairs.join(F.broadcast(totals), "cur").select(
        "cur",
        "nxt",
        "n",
        portable_round(F.col("n") / F.col("row_n"), 4).alias("p"),
    )


_MARKOV_SQL = """
WITH seq AS (
  SELECT user_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS cur,
         event_type AS nxt
  FROM events
),
pairs AS (
  SELECT cur, nxt, COUNT(*) AS n FROM seq WHERE cur IS NOT NULL GROUP BY cur, nxt
),
totals AS (SELECT cur, SUM(n) AS row_n FROM pairs GROUP BY cur)
SELECT cur, nxt, CAST(n AS BIGINT) AS n,
       FLOOR((n * 1.0 / row_n) * 10000 + 0.5) / 10000 AS p
FROM pairs JOIN totals USING (cur)
"""


SPECS["markov_transitions"] = QuerySpec(
    _markov_transitions,
    _MARKOV_SQL,
    "first-order Markov transition matrix over per-user event sequences",
)


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (materialized-view merge)


def _rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the per-(user, event_type)
    rollup is computed as base-partial + delta-partial MERGED, and must be
    indistinguishable from a full recompute (which is exactly what the
    DuckDB oracle does — the equivalence IS the check).

    The deterministic 80/20 split (event_id % 5) stands in for "the stored
    base aggregate" vs "today's arriving batch"; at 100 TB the base
    partial is a stored table and merge cost is O(|base agg| + |delta
    agg|) — never a rescan of the corpus.  The merge is exact because the
    sufficient statistics are exact integers (count + centi-quantized
    value sum): integer addition is associative, so base+delta regrouping
    CANNOT drift from the full recompute — this is the same
    exact-sufficient-statistics rule as user_trend
    (operators/groupedmap.py), applied to make incremental == batch a
    theorem instead of a tolerance.  Double SUMs would not survive this
    test: regrouping changes summation order, and the .005 rounding
    boundary eventually lands on the seam."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    with_cents = ev.select("event_id", "user_id", "event_type", cents.alias("cents"))
    base = with_cents.filter(F.col("event_id") % 5 < 4)
    delta = with_cents.filter(F.col("event_id") % 5 >= 4)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c")
        )

    merged = (
        partial(base)
        .unionByName(partial(delta))
        .groupBy("user_id", "event_type")
        .agg(F.sum("n").alias("n_events"), F.sum("c").alias("sum_cents"))
    )
    return merged.select(
        "user_id",
        "event_type",
        "n_events",
        (F.col("sum_cents") / 100.0).alias("total_value"),
    )


# The oracle recomputes from scratch — the whole point: merged partials
# must hash-match the direct GROUP BY.
_ROLLUP_INCREMENTAL_SQL = """
SELECT user_id, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       -- CAST ... AS DOUBLE before the division: BIGINT / 100.0 is
       -- DECIMAL in DuckDB (the forbidden output type); DOUBLE / 100 is
       -- exact here (cents < 2^53, division correctly rounded)
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS total_value
FROM events
WHERE value IS NOT NULL
GROUP BY user_id, event_type
"""

SPECS["rollup_incremental"] = QuerySpec(
    _rollup_incremental,
    _ROLLUP_INCREMENTAL_SQL,
    "incremental MV maintenance: base+delta partial-aggregate merge == full recompute (exact integer stats)",
)


# --- mergeable equi-width quantile sketch ---------------------------------
# Completes the from-scratch sketch suite (HLL distinct / Bloom
# membership / Count-Min heavy hitters): approximate per-group quantiles
# from a 256-bin equi-width histogram.  Like the others it is MERGEABLE
# — shard histograms combine by adding bin counts, so at 100 TB each map
# task emits <= 256 rows per group and the exchange carries bins, not
# values (the same partial-aggregate shape as hll_distinct's registers).
# percentile_summary is the EXACT twin (value-domain histogram); this is
# the bounded-memory variant whose state is 256 bins regardless of value
# cardinality.  Quantile semantics are percentile_disc: est brackets the
# ceil(p*n)-th ORDER STATISTIC's bin, so |est - v_(ceil(pn))| <=
# range/256 (asserted in tests; an INTERPOLATED quantile can sit a
# sparse-tail gap beyond any bin edge, which the sketch cannot claim).
#
# Exact cross-engine parity BY CONSTRUCTION — no portable_round anywhere:
# MIN/MAX are order-insensitive (no float-sum seam), the bin index is one
# multiply+divide+floor over identical doubles, counts are integers, and
# the estimate is one FMA-free expression over (min, max, bin).  The
# degenerate one-value group pins bin 0 (CASE guard, both engines).

_QSK_BINS = 256
_QSK_PS = [0.5, 0.95, 0.99]


def _qsk_bin_expr() -> F.Column:
    """Bin index for a (value, mn, mx) row — ONE definition shared by the
    batch sketch, the streaming twin, and the merge test."""
    return (
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(_QSK_BINS - 1),
                F.floor(
                    (F.col("value") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * _QSK_BINS
                ).cast("int"),
            )
        )
    )


def _qsk_quantile_pick(hist: DataFrame, rng: DataFrame) -> DataFrame:
    """Quantile estimates from a (event_type, bin, c) histogram and its
    (event_type, mn, mx, n) geometry — the post-aggregation half of the
    sketch, shared by the batch and streaming variants."""
    wt = Window.partitionBy("event_type").orderBy("bin")
    cum = hist.withColumn(
        "cum", F.sum("c").over(wt.rowsBetween(Window.unboundedPreceding, 0))
    )
    ps = rng.select(
        "event_type",
        "mn",
        "mx",
        "n",
        F.explode(F.array(*[F.lit(p) for p in _QSK_PS])).alias("p"),
    ).withColumn("thresh", F.ceil(F.col("p") * F.col("n")))
    qbin = (
        cum.join(F.broadcast(ps), "event_type")
        .filter(F.col("cum") >= F.col("thresh"))
        .groupBy("event_type", "p", "mn", "mx")
        .agg(F.min("bin").alias("qbin"))
    )
    est = F.when(F.col("mx") == F.col("mn"), F.col("mn")).otherwise(
        F.col("mn")
        + (F.col("qbin") + 1)
        * (F.col("mx") - F.col("mn"))
        / F.lit(float(_QSK_BINS))
    )
    return qbin.select(
        "event_type",
        "p",
        est.alias("est"),
        F.when(
            F.col("mx") == F.col("mn"), F.lit(0.0)
        )
        .otherwise((F.col("mx") - F.col("mn")) / F.lit(float(_QSK_BINS)))
        .alias("err_bound"),
    )


def _qsk_inputs(spark: SparkSession, sf_dir: str):
    """(events, geometry) shared by the batch sketch and the streaming
    twin's frozen-geometry read."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    rng = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    return ev, rng


def _sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev, rng = _qsk_inputs(spark, sf_dir)
    binned = ev.join(F.broadcast(rng), "event_type").select(
        "event_type", _qsk_bin_expr().alias("bin")
    )
    hist = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    return _qsk_quantile_pick(hist, rng)


_SKETCH_QUANTILES_SQL = f"""
WITH ev AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
),
rng AS (
  SELECT event_type, MIN(value) AS mn, MAX(value) AS mx, COUNT(*) AS n
  FROM ev GROUP BY event_type
),
binned AS (
  SELECT e.event_type,
         CASE WHEN r.mx = r.mn THEN 0
              ELSE LEAST({_QSK_BINS - 1},
                   CAST(FLOOR((e.value - r.mn) / (r.mx - r.mn) * {_QSK_BINS}) AS INTEGER))
         END AS bin
  FROM ev e JOIN rng r ON e.event_type = r.event_type
),
hist AS (SELECT event_type, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2),
cum AS (
  SELECT event_type, bin,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
ps AS (
  -- CAST: DuckDB types the list literal DECIMAL ('0.50'), Spark's is
  -- DOUBLE ('0.5') — the decimal-rendering hash seam (r7 red cells)
  SELECT r.event_type, r.mn, r.mx, r.n, CAST(p.p AS DOUBLE) AS p,
         CEIL(CAST(p.p AS DOUBLE) * r.n) AS thresh
  FROM rng r, (SELECT unnest([{", ".join(repr(p) for p in _QSK_PS)}]) AS p) p
),
qbin AS (
  SELECT c.event_type, p.p, p.mn, p.mx, MIN(c.bin) AS qbin
  FROM cum c JOIN ps p ON c.event_type = p.event_type
  WHERE c.cum >= p.thresh
  GROUP BY 1, 2, 3, 4
)
SELECT event_type, p,
       CASE WHEN mx = mn THEN mn
            ELSE mn + (qbin + 1) * (mx - mn) / {float(_QSK_BINS)}
       END AS est,
       CASE WHEN mx = mn THEN 0.0
            ELSE (mx - mn) / {float(_QSK_BINS)}
       END AS err_bound
FROM qbin
"""


SPECS["sketch_quantiles"] = QuerySpec(
    _sketch_quantiles,
    _SKETCH_QUANTILES_SQL,
    f"mergeable {_QSK_BINS}-bin equi-width quantile sketch (p50/p95/p99 per type, range/{_QSK_BINS} error bound)",
)
