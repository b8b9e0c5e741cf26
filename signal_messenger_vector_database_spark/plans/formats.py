"""Source-format coverage beyond parquet: CSV and JSON-lines round trips.

The reference reads exactly one external format (attachment bytes, S11);
a real lakehouse ingests delimited and JSON feeds.  Both queries write a
fixture-derived file in the target format, read it back with an EXPLICIT
schema (schema inference is a full extra pass at 100 TB — never rely on
it), and aggregate; the oracle runs on the original parquet, so the
round trip proves the format path is lossless for the carried types.

Only integer/string columns ride the text formats here: float-in-text is
not bit-roundtrippable in general and belongs in binary formats.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.materialize import temp_dir
from ..io.sources import load_table
from .registry import QuerySpec


def _csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = temp_dir("smvd-csv-")
    path = os.path.join(out, "customer_csv")
    load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    ).write.mode("overwrite").option("header", True).csv(path)
    back = (
        spark.read.schema("c_custkey bigint, c_nationkey bigint, c_mktsegment string")
        .option("header", True)
        .csv(path)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("c_nationkey").alias("nation_sum"),
    )


_CSV_ROUNDTRIP_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(c_nationkey) AS BIGINT) AS nation_sum
FROM customer GROUP BY c_mktsegment
"""


def _jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = temp_dir("smvd-jsonl-")
    path = os.path.join(out, "orders_jsonl")
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    ).write.mode("overwrite").json(path)
    back = spark.read.schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_orderpriority string"
    ).json(path)
    return back.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("o_orderkey").alias("max_key"),
    )


_JSONL_ROUNDTRIP_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       MAX(o_orderkey) AS max_key
FROM orders GROUP BY 1, 2
"""


SPECS: dict[str, QuerySpec] = {
    "csv_roundtrip": QuerySpec(
        _csv_roundtrip, _CSV_ROUNDTRIP_SQL, "CSV sink+source round trip, explicit schema"
    ),
    "jsonl_roundtrip": QuerySpec(
        _jsonl_roundtrip, _JSONL_ROUNDTRIP_SQL, "JSON-lines sink+source round trip, explicit schema"
    ),
}


# ORC: the other columnar format Spark ships natively (Avro needs the
# external spark-avro module, absent here — gated out, not stubbed).
# Round trip exercises predicate pushdown on the read side: the filter is
# applied AFTER re-reading, so the ORC reader must push it.


def _orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = temp_dir("smvd-orc-")
    path = os.path.join(out, "lineitem_orc")
    load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    ).write.mode("overwrite").orc(path)
    back = spark.read.orc(path).filter(F.col("l_quantity") > 25)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").alias("qty_sum"),
    )


_ORC_ROUNDTRIP_SQL = """
SELECT l_returnflag, COUNT(*) AS n_items, SUM(l_quantity) AS qty_sum
FROM lineitem WHERE l_quantity > 25 GROUP BY l_returnflag
"""

SPECS["orc_roundtrip"] = QuerySpec(
    _orc_roundtrip, _ORC_ROUNDTRIP_SQL, "ORC sink+source round trip with read-side pushdown"
)


# --- parquet schema evolution (mergeSchema) ------------------------------
# Lakehouse reality: old files lack columns added later.  Two batches are
# written with different schemas (batch 2 adds o_totalprice); a
# mergeSchema read reconciles them, with the missing column NULL for old
# rows.  The oracle replays the union with explicit NULL fill.


def _schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = temp_dir("smvd-evo-")
    path = os.path.join(out, "orders_evo")
    orders = load_table(spark, sf_dir, "orders")
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    ).write.mode("overwrite").parquet(os.path.join(path, "batch=1"))
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).write.mode("overwrite").parquet(os.path.join(path, "batch=2"))
    back = spark.read.option("mergeSchema", True).parquet(
        os.path.join(path, "batch=1"), os.path.join(path, "batch=2")
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_totalprice").alias("n_with_price"),
        F.round(F.sum("o_totalprice"), 2).alias("price_sum"),
    )


_SCHEMA_EVOLUTION_SQL = """
WITH merged AS (
  SELECT o_orderkey, o_orderstatus, NULL::DOUBLE AS o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(o_totalprice) AS BIGINT) AS n_with_price,
       ROUND(SUM(o_totalprice), 2) AS price_sum
FROM merged GROUP BY o_orderstatus
"""

SPECS["schema_evolution"] = QuerySpec(
    _schema_evolution,
    _SCHEMA_EVOLUTION_SQL,
    "parquet mergeSchema read across batches with divergent schemas",
)


# --- custom Python data source (Spark 4 DataSource API) ------------------
_PYDS_CACHE: dict[int, tuple[SparkSession, str]] = {}


def _pyds_session(spark: SparkSession) -> tuple[SparkSession, str]:
    """One cloned session + one registered source name per parent session,
    cached for the process lifetime.  The registry's existence check is
    JVM-global while resolution is session-local, so the name still gets a
    per-process uuid suffix to dodge collisions with registrations made on
    sessions this one cannot see."""
    key = id(spark)
    if key not in _PYDS_CACHE:
        from ..io.pydatasource import DocumentsSource

        s = spark.newSession()
        s.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        fmt = f"smvd_documents_{uuid.uuid4().hex[:8]}"
        named = type(
            "DocumentsSourceScoped",
            (DocumentsSource,),
            {"name": classmethod(lambda cls, _n=fmt: _n)},
        )
        s.dataSource.register(named)
        _PYDS_CACHE[key] = (s, fmt)
    return _PYDS_CACHE[key]


def _pyds_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents read through the custom ``smvd_documents`` Python data
    source (io/pydatasource.py): partition-planned pyarrow reads, Arrow
    batches to the JVM, and doc_id comparison filters PUSHED into the
    source (the `doc_id <= 300` below reaches the pyarrow read via
    pushFilters — asserted by test_pydatasource)."""
    # cloned session (shared SparkContext, independent SQLConf): the
    # pushdown flag must be live when the plan EXECUTES (laziness makes a
    # set/restore dance racy), but the caller's session config must not
    # be mutated.  Clone + registration are cached per-process (r6 ADVICE:
    # a fresh session and a uuid-named JVM-global registry entry per CALL
    # accumulate across driver rounds and are never torn down).
    session, fmt = _pyds_session(spark)
    docs = (
        session.read.format(fmt)
        .option("path", os.path.join(sf_dir, "documents.parquet"))
        .load()
    )
    return (
        docs.filter(F.col("doc_id") <= 300)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
    )


_PYDS_SCAN_SQL = """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM documents WHERE doc_id <= 300
GROUP BY source
"""

SPECS["pyds_scan"] = QuerySpec(
    _pyds_scan,
    _PYDS_SCAN_SQL,
    "custom Python DataSource scan: Arrow-batch partitions + doc_id filter pushdown",
)
