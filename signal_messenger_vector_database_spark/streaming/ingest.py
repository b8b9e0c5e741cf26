"""Structured Streaming ingest — the reference's receive loop, Spark-first.

Reference semantics mapped (SURVEY §2.10):

- continuous ``while let`` consume with a ``QueueEmpty`` caught-up signal
  (src/signal/receive.rs:28-43) => ``Trigger.AvailableNow``: drain all
  available input, then stop — exactly the reference's drain-until-empty
  behavior, including the send path's drain-then-act barrier
  (src/signal/send.rs:47-61).
- per-event pipeline (format -> suppress -> store,
  src/signal/process_incoming_message.rs:30-130) => the same batch
  column expressions applied to the stream (shared-operator principle,
  SURVEY §3.3).
- delivery: the reference is at-least-once with swallowed insert errors
  (src/rag/sqlx.rs:76-78); here checkpointing + ``dropDuplicates`` on the
  event id + idempotent parquet append is a strict upgrade.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..io.materialize import temp_dir


def _events_stream_schema(sf_dir: str) -> tuple[StructType, bool]:
    """Probe the fixture's parquet footer (driver-side, one metadata read)
    for the physical type of ``ts`` and build the matching stream schema.

    Fixture vintages differ: some store ``ts`` as INT64 TIMESTAMP(NANOS)
    (which Spark only reads under ``nanosAsLong`` as a raw long), newer
    ones as plain ``timestamp[us]``.  The batch loader detects this after
    the read (io/sources.py); a stream must declare its schema up front,
    so detect BEFORE building it.  Returns (schema, ts_is_raw_nanos)."""
    import pyarrow as pa
    import pyarrow.parquet as pa_pq

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        # Spark-written tables are DIRECTORIES of part files (every real
        # deployment); probe the first part's footer — one metadata read
        # either way
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        path = os.path.join(path, parts[0])
    ts_type = pa_pq.read_schema(path).field("ts").type
    # structural check, not string equality: a tz-annotated nanos field
    # prints "timestamp[ns, tz=UTC]" and would dodge an exact-match probe
    raw_nanos = pa.types.is_timestamp(ts_type) and ts_type.unit == "ns"
    ts_field = StructField("ts", LongType() if raw_nanos else TimestampType(), True)
    schema = StructType(
        [
            StructField("event_id", LongType(), True),
            ts_field,
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
            StructField("props", StringType(), True),
        ]
    )
    return schema, raw_nanos


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema, raw_nanos = _events_stream_schema(sf_dir)
    if raw_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        # Spark-written table: a DIRECTORY of part files — stream the
        # directory itself.  The glob-filter arm below would match zero
        # part files against the literal name and silently drain nothing.
        raw = spark.readStream.schema(schema).parquet(path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    if raw_nanos:
        # Truncate ns -> us exactly like the batch loader / DuckDB.
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def await_drained(q, timeout: int = 120) -> None:
    """``awaitTermination`` with the timeout result CHECKED: on a slow
    machine a silent timeout would leave a partially-drained memory/parquet
    sink and turn a slowdown into a wrong answer."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not drain within {timeout}s"
        )


def drain_to_memory(df: DataFrame, tag: str, mode: str, timeout: int = 120) -> DataFrame:
    """Drain a streaming frame with AvailableNow into a memory sink
    (``mode`` is its output mode) and return the sink's table; the
    stream's checkpoint is a scratch dir of the query scope."""
    sink = f"{tag}_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(mode)
        .option("checkpointLocation", temp_dir(f"smvd-ckpt-{tag}-"))
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q, timeout)
    return df.sparkSession.table(sink)


def streaming_session(spark: SparkSession, state_partitions: int = 8) -> SparkSession:
    """Cloned session (shared SparkContext, independent SQLConf) with the
    stateful-shuffle partition count sized for the stream.

    A stateful streaming query creates ``spark.sql.shuffle.partitions``
    state stores at FIRST checkpoint and is pinned to that number for the
    checkpoint's lifetime — it must be sized for the stream's key
    cardinality, not inherited from whatever the batch session uses.
    Cloning keeps the override invisible to concurrently-running batch
    queries on the caller's session."""
    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    return s


def windowed_counts_availablenow(
    spark: SparkSession, sf_dir: str, window: str = "1 day"
) -> DataFrame:
    """Tumbling-window event counts via a streaming aggregation drained
    with AvailableNow into a memory sink; returns the final table."""
    spark = streaming_session(spark)
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "cnt",
        )
    )
    return drain_to_memory(agg, "win_counts", "complete")


def dedup_ingest_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once input (the stream unioned with itself => every event
    duplicated) -> ``dropDuplicates`` on event_id -> idempotent parquet
    append via foreachBatch -> read back.  Exactly-once effect on an
    at-least-once feed: the strict upgrade over the reference's swallowed
    insert errors."""
    spark = streaming_session(spark)
    s1 = read_events_stream(spark, sf_dir)
    s2 = read_events_stream(spark, sf_dir)
    deduped = s1.union(s2).dropDuplicates(["event_id"])
    out_dir = temp_dir("smvd-ingest-out-")

    def append_batch(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").parquet(os.path.join(out_dir, "events"))

    q = (
        deduped.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", temp_dir("smvd-ckpt-dedup-"))
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q)
    return spark.read.parquet(os.path.join(out_dir, "events"))


def dedup_within_watermark_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark``: like the plain streaming dedup
    but the dedup state is EVICTED once the watermark passes an event's
    time — the formulation that keeps state bounded over unbounded
    streams (plain ``dropDuplicates`` state grows forever).  Duplicates
    here arrive within the same micro-batch, well inside the 1-hour
    watermark, so the drained result still contains every event exactly
    once."""
    spark = streaming_session(spark)
    s1 = read_events_stream(spark, sf_dir)
    s2 = read_events_stream(spark, sf_dir)
    deduped = (
        s1.union(s2)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out_dir = temp_dir("smvd-ingest-wm-out-")

    def append_batch(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").parquet(os.path.join(out_dir, "events"))

    q = (
        deduped.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", temp_dir("smvd-ckpt-wmdedup-"))
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q)
    return spark.read.parquet(os.path.join(out_dir, "events"))
