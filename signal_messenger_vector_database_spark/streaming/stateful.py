"""Custom stateful streaming operator via applyInPandasWithState.

The reference keeps external state in its sled KV store and consults it
per event (SURVEY §2.10 'State').  Spark's native answer is managed,
checkpointed per-key state: ``applyInPandasWithState`` gives an
Arrow-batched per-group update function with a typed state tuple —
exactly-once, partitioned by the key, no external store.

The demo operator is a running per-user event counter + value sum that
survives across micro-batches (verified by feeding the same source twice
with one file per trigger => two batches).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..io.materialize import temp_dir
from .ingest import drain_to_memory

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("total_events", LongType(), True),
        StructField("total_value", DoubleType(), True),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType(), True),
        StructField("v", DoubleType(), True),
    ]
)


def _update_user_state(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, v = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        v += float(pdf["value"].sum())
    state.update((n, v))
    yield pd.DataFrame(
        {"user_id": [key[0]], "total_events": [n], "total_value": [v]}
    )


def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful counter over the events source fed TWICE (two
    micro-batches via maxFilesPerTrigger=1), drain with AvailableNow, and
    return the final per-user totals (the max emitted row per user)."""
    from .ingest import _events_stream_schema, streaming_session

    spark = streaming_session(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    # stage the same file twice so state demonstrably carries across batches
    stage_dir = temp_dir("smvd-stateful-src-")
    import shutil

    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(src, os.path.join(stage_dir, "events-a.parquet"))
    shutil.copy(src, os.path.join(stage_dir, "events-b.parquet"))

    schema, _ = _events_stream_schema(sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage_dir)
        .select("user_id", "value")
    )
    totals = stream.groupBy("user_id").applyInPandasWithState(
        _update_user_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = drain_to_memory(totals, "stateful", "update", 180)
    return emitted.groupBy("user_id").agg(
        F.max("total_events").alias("total_events"),
        F.round(F.max("total_value"), 2).alias("total_value"),
    )


def tws_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same running per-user totals via ``transformWithStateInPandas`` —
    Spark 4's successor to applyInPandasWithState: named state variables
    on a handle (ValueState here; ListState/MapState/timers available),
    per-key Arrow batches, exactly-once through the checkpoint.  Source is
    fed twice (one file per trigger) so the final totals are 2x the batch
    aggregate — proof the ValueState carried across micro-batches.

    REQUIRES a functional ``google.protobuf`` runtime (the API's state
    server speaks proto to the Python worker); this container's protobuf
    is broken, so the operator is exercised by a skip-gated test
    (tests/test_streaming.py) rather than a catalog entry — on a normal
    cluster it runs as-is."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from .ingest import _events_stream_schema, streaming_session

    spark = streaming_session(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    stage_dir = temp_dir("smvd-tws-src-")
    import shutil

    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(src, os.path.join(stage_dir, "events-a.parquet"))
    shutil.copy(src, os.path.join(stage_dir, "events-b.parquet"))

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, v = self._state.get()
            else:
                n, v = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                v += float(pdf["value"].sum())
            self._state.update((n, v))
            yield pd.DataFrame(
                {"user_id": [key[0]], "total_events": [n], "total_value": [v]}
            )

        def close(self) -> None:
            pass

    schema, _ = _events_stream_schema(sf_dir)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage_dir)
        .select("user_id", "value")
    )
    totals = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotals(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    emitted = drain_to_memory(totals, "tws", "update", 180)
    return emitted.groupBy("user_id").agg(
        F.max("total_events").alias("total_events"),
        F.round(F.max("total_value"), 2).alias("total_value"),
    )
