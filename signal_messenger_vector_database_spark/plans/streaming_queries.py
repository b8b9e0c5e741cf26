"""Streaming query surface (SURVEY §2.10).

The streaming queries run a real Structured Streaming job
(Trigger.AvailableNow — the reference's drain-until-QueueEmpty) and return
the materialized result; the oracle checks the *final state* with plain
SQL, which is exactly the correctness contract of a drained stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import squared_l2
from ..io.materialize import materialize, temp_dir
from ..io.sources import load_table, local_rows
from ..streaming.ingest import (
    await_drained,
    dedup_ingest_availablenow,
    dedup_within_watermark_availablenow,
    drain_to_memory,
    read_events_stream,
    streaming_session,
    windowed_counts_availablenow,
)
from .embeddings_index import incoming_split
from .registry import QuerySpec


def _stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the J1 shape applied DURING
    streaming, which is exactly the reference's per-event contact lookup
    (src/signal/format.rs:58-68 called from the receive loop).  The static
    dim is broadcast once; every micro-batch joins against it."""
    spark = streaming_session(spark)
    stream = read_events_stream(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 150)
        .select((F.col("c_custkey") - 1).alias("user_id"), "c_mktsegment")
    )
    joined = stream.join(F.broadcast(dim), "user_id", "left")
    agg = joined.groupBy(
        F.coalesce(F.col("c_mktsegment"), F.lit("<unknown>")).alias("segment")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return drain_to_memory(agg, "stream_static", "complete")


_STREAM_STATIC_JOIN_SQL = """
SELECT COALESCE(c_mktsegment, '<unknown>') AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer
                       WHERE c_custkey <= 150) d
  ON d.c_custkey = events.user_id + 1
GROUP BY 1
"""


def _stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_counts_availablenow(spark, sf_dir)


_STREAM_WINDOWED_COUNTS_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type, CAST(COUNT(*) AS BIGINT) AS cnt
FROM events GROUP BY 1, 2
"""


def _stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ingested = dedup_ingest_availablenow(spark, sf_dir)
    return ingested.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("n_distinct"),
    )


_STREAM_DEDUP_COUNTS_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
FROM events GROUP BY event_type
"""


def _stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import stateful_user_totals

    return stateful_user_totals(spark, sf_dir)


# The source is fed twice (two micro-batches), so the stateful counter's
# final per-user totals are exactly 2x the batch aggregate.
_STREAM_STATEFUL_TOTALS_SQL = """
SELECT user_id,
       CAST(2 * COUNT(*) AS BIGINT) AS total_events,
       ROUND(2 * SUM(value), 2) AS total_value
FROM events GROUP BY user_id
"""


def _stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time range condition:
    purchases within 1 hour after a click by the same user.

    Both sides carry watermarks so the join state is bounded — at 100 TB
    of stream history this is what keeps the state store finite: a click
    older than (watermark - 1 hour) can never match a future purchase and
    is evicted.  Over a drained AvailableNow run the result equals the
    batch time-range join, which is the oracle."""
    spark = streaming_session(spark)
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )
    return drain_to_memory(joined, "stream_stream", "append")


_STREAM_STREAM_JOIN_SQL = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events c JOIN events p
  ON c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.user_id = c.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


def _stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ingested = dedup_within_watermark_availablenow(spark, sf_dir)
    return ingested.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("n_distinct"),
    )


# Every event exactly once: identical contract to the unbounded-state
# dedup, but with watermark-evicted state.
_STREAM_DEDUP_WATERMARK_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
FROM events GROUP BY event_type
"""


SPECS: dict[str, QuerySpec] = {
    "stream_dedup_watermark": QuerySpec(
        _stream_dedup_watermark,
        _STREAM_DEDUP_WATERMARK_SQL,
        "dropDuplicatesWithinWatermark: bounded-state streaming dedup",
    ),
    "stream_stream_join": QuerySpec(
        _stream_stream_join,
        _STREAM_STREAM_JOIN_SQL,
        "watermarked stream-stream interval join (clicks -> purchases)",
    ),
    "stream_static_join": QuerySpec(
        _stream_static_join,
        _STREAM_STATIC_JOIN_SQL,
        "stream-static broadcast enrichment join (the J1 shape in streaming)",
    ),
    "stream_stateful_totals": QuerySpec(
        _stream_stateful_totals,
        _STREAM_STATEFUL_TOTALS_SQL,
        "applyInPandasWithState running totals across micro-batches",
    ),
    "stream_windowed_counts": QuerySpec(
        _stream_windowed_counts,
        _STREAM_WINDOWED_COUNTS_SQL,
        "tumbling-window counts via AvailableNow streaming agg",
    ),
    "stream_dedup_counts": QuerySpec(
        _stream_dedup_counts,
        _STREAM_DEDUP_COUNTS_SQL,
        "duplicated stream -> dropDuplicates -> foreachBatch append (exactly-once effect)",
    ),
}


# --- streaming session windows -------------------------------------------
# session_window works in streaming with a watermark; AvailableNow drains
# the fixture, so the final state must equal the BATCH sessionization of
# the same data — the oracle is the same lag+cumsum SQL the batch
# `sessionize` query is checked against (two Spark execution modes and an
# independent SQL formulation, all agreeing).


def _stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:

    spark = streaming_session(spark)
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id"))
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
    return drain_to_memory(agg, "stream_sessionize", "complete")


def _stream_sessionize_sql() -> str:
    from .analytics import _SESSIONIZE_SQL

    return _SESSIONIZE_SQL


SPECS["stream_sessionize"] = QuerySpec(
    _stream_sessionize,
    _stream_sessionize_sql(),
    "streaming session_window + watermark (AvailableNow) == batch sessionization",
)


def _stream_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile sketch's STREAMING story: bin-count state accumulates
    across micro-batches (a streaming groupBy over (event_type, bin) —
    state is bounded at 256 bins x |types| regardless of how many events
    flow through, which is exactly the mergeable-sketch property the
    batch twin's merge==full test proves), then the drained histogram
    feeds the same quantile-pick as batch.  Bin geometry (per-type
    min/max) is FROZEN from the historical table before the stream
    starts — how production sketches handle unbounded input (a new
    out-of-range value clips into the edge bin rather than rebinning
    history).  Oracle: the batch sketch SQL verbatim — a drained
    AvailableNow run over the same rows must land the identical
    histogram, hence identical quantiles."""
    from .analytics import _qsk_bin_expr, _qsk_inputs, _qsk_quantile_pick

    spark = streaming_session(spark)
    _, rng = _qsk_inputs(spark, sf_dir)
    stream = read_events_stream(spark, sf_dir).filter(
        F.col("value").isNotNull()
    )
    binned = stream.join(F.broadcast(rng), "event_type").select(
        "event_type", _qsk_bin_expr().alias("bin")
    )
    hist = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    return _qsk_quantile_pick(drain_to_memory(hist, "stream_qsk", "complete"), rng)


def _stream_sketch_quantiles_sql() -> str:
    from .analytics import _SKETCH_QUANTILES_SQL

    return _SKETCH_QUANTILES_SQL


SPECS["stream_sketch_quantiles"] = QuerySpec(
    _stream_sketch_quantiles,
    _stream_sketch_quantiles_sql(),
    "streaming quantile sketch: bounded bin-count state across micro-batches == the batch sketch",
)


# ---------------------------------------------------------------------------
# stream_ingest_index: the reference's raison d'etre, end to end at scale.
#
# One streaming query composing the WHOLE ingest path the reference runs
# per message (src/signal/receive.rs -> process_incoming_message.rs ->
# rag/dataframes.rs -> rag/sqlx.rs): stream of raw texts -> control-message
# suppression (F1) -> chunk explode (T3) -> embed -> foreachBatch DELTA
# index maintenance (each micro-batch's chunks are assigned to their
# nearest IVF centroid and appended to the index — the ivf_maintenance
# delta shape, arriving incrementally instead of by vec_id cutoff).
#
# Oracle pairing (unlike ingest_pipeline, which is rows-only because of
# the Python embedder): the embed stage here is the md5 FEATURIZER —
# dim i of a chunk = hex4(md5(chunk_text || ':' || i)) / 2^16, pure JVM
# expressions with an exact DuckDB twin.  Every value is a dyadic
# rational (16-bit integer / 2^16), the literal centroids are dyadic on
# the same grid, so squared-L2 distances are EXACT in doubles (every
# intermediate < 2^53) and the argmin has no rounding seam at all.
# The suppression and multi-chunk arms are made fixture-LIVE by planted
# rows (the r8 degenerate-arm rule): 3 control messages that must
# vanish and one 60-word text that must explode into 3 chunks, shared
# as literals with the oracle's UNION ALL.
#
# Scale shape: the source is staged as exactly FOUR parquet files (the
# doc_id % 3 slices and the planted rows, one write job) and streamed
# with maxFilesPerTrigger=1, so the delta index crosses FOUR real
# micro-batch boundaries even in a one-shot catalog run (pinned by
# tests/test_multibatch_streaming.py).  Suppression and chunking are
# stream-side JVM expressions (Catalyst keeps the cheap filter before
# everything); the featurizer is per-row expressions; the foreachBatch
# assignment is an in-row argmin over the 8 literal centroids (no join,
# no shuffle) and appends — state is the index itself, not the stream
# (no unbounded streaming state).  At 100 TB the sink append is a
# partitioned table write keyed by cid; the per-batch work is O(batch).

_INGEST_IDX_DIM = 8
_INGEST_IDX_K = 8
_INGEST_CHUNK_TOKENS = 32
_INGEST_CHUNK_WORDS = 24

# planted rows: (doc_id, text) — negative ids so they can never collide
# with fixture doc_ids.  Two exact control strings + one prefix form
# (suppressed: the F1 arm is live), one 60-word text (3 chunks at
# chunk_words=24: the T3 arm is live).
_INGEST_PLANTED: list[tuple[int, str]] = [
    (-1, "is typing..."),
    (-2, "Empty data message"),
    (-3, "got Read receipt for message 12345"),
    (
        -4,
        " ".join(f"planted word{i} stream ingest index token" for i in range(10)),
    ),
]


def _ingest_centroids() -> list[tuple[int, list[float]]]:
    """8 literal centroids on the same 1/2^16 dyadic grid as the
    featurizer output — deterministic seeded draw, inlined as IDENTICAL
    literals into both engines (registry shared-literal rule)."""
    import random

    rng = random.Random(20240915)
    return [
        (
            cid,
            [rng.randrange(65536) / 65536.0 for _ in range(_INGEST_IDX_DIM)],
        )
        for cid in range(_INGEST_IDX_K)
    ]


def _md5_featurize(col):
    """array<double> of ``_INGEST_IDX_DIM`` dyadic features: dim i =
    hex4(md5(text || ':' || i)) / 2^16.  Pure JVM expressions (the
    simhash hex-arithmetic trick); DuckDB twin in the oracle below."""
    from ..operators.dedup import _hex_to_int

    dims = [
        (
            _hex_to_int(F.md5(F.concat(col, F.lit(f":{i}"))), 4)
            / F.lit(65536.0)
        ).alias(f"d{i}")
        for i in range(_INGEST_IDX_DIM)
    ]
    return F.array(*dims)


def _nearest_ingest_centroid(emb):
    """cid of the nearest literal centroid, computed in the row:
    ``array_min`` over the 8 ``(d2, cid)`` structs replays min_by's
    ``(d2, cid)`` tie-break with no join and no shuffle.  Squared L2
    directly (NOT l2_distance squared — a sqrt would forfeit the exact
    dyadic arithmetic the argmin tie-break relies on): every term is a
    dyadic rational < 2^53, so the left-to-right fold from 0.0 is exact
    and the (d2, cid) ordering has no FP seam."""
    scored = [
        F.struct(
            squared_l2(emb, F.lit(cv)).alias("d2"),
            F.lit(cid).alias("cid"),
        )
        for cid, cv in _ingest_centroids()
    ]
    return F.array_min(F.array(*scored))["cid"]


def _stage_ingest_source(spark: SparkSession, sf_dir: str) -> str:
    """Stage the fixture documents plus the planted rows as exactly FOUR
    parquet files in ONE write job: ``_f`` = doc_id % 3 for fixture rows
    and 3 for the planted rows.  ``repartition("_f")`` puts every ``_f``
    value in a single task, so ``partitionBy("_f")`` writes one file per
    directory — streamed with maxFilesPerTrigger=1, four non-empty
    micro-batches.  Returns the staging root."""
    stage = temp_dir("smvd-ingest-idx-") + "/src"
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("doc_id") % 3).alias("_f")
    )
    planted = local_rows(
        spark, _INGEST_PLANTED, "doc_id long, text string"
    ).withColumn("_f", F.lit(3).cast("long"))
    src = docs.unionByName(planted).repartition("_f")
    src.write.partitionBy("_f").parquet(stage)
    return stage


def _stream_ingest_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See the block comment above.  Returns per-cluster index accounting
    after the drain: (cid, n_chunks, n_docs, sum_tokens)."""
    import uuid

    from ..operators.chunking import chunk_text
    from ..operators.suppression import filter_control_messages

    spark = streaming_session(spark)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(_stage_ingest_source(spark, sf_dir))
    )
    kept = filter_control_messages(stream, body_col="text")  # F1
    chunked = chunk_text(
        kept,
        text_col="text",
        ideal_token_size=_INGEST_CHUNK_TOKENS,
        chunk_words=_INGEST_CHUNK_WORDS,
    ).select("doc_id", "chunk_id", "chunk_text", "chunk_tokens")
    embedded = chunked.withColumn("emb", _md5_featurize(F.col("chunk_text")))
    index_dir = temp_dir("smvd-ingest-idx-") + "/index"

    def _delta_assign(batch_df, batch_id: int) -> None:
        # delta IVF maintenance: assign THIS batch's chunks, append to
        # the index.  One row per chunk in, one row per chunk out
        # (doc_id is unique, chunk_id unique within it).
        batch_df.select(
            "doc_id",
            "chunk_id",
            "chunk_tokens",
            _nearest_ingest_centroid(F.col("emb")).alias("cid"),
        ).write.mode("append").parquet(index_dir)

    q = (
        embedded.writeStream.foreachBatch(_delta_assign)
        .queryName(f"ingest_index_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .option("checkpointLocation", temp_dir("smvd-ckpt-idx-"))
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q)

    index = spark.read.parquet(index_dir)
    per_cid = index.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum("chunk_tokens").cast("long").alias("sum_tokens"),
    )
    cids = local_rows(spark, [(cid,) for cid, _ in _ingest_centroids()], "cid int")
    return (
        cids.join(per_cid, "cid", "left")
        .select(
            "cid",
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("sum_tokens", F.lit(0)).cast("long").alias("sum_tokens"),
        )
        .orderBy("cid")
    )


def _stream_ingest_index_sql() -> str:
    from ..operators.suppression import SUPPRESSED_EXACT, SUPPRESSED_PREFIXES
    from .pipeline import _SQL_TOKEN_COUNT

    planted = ", ".join(
        f"({i}, '" + t.replace("'", "''") + "')" for i, t in _INGEST_PLANTED
    )
    exacts = ", ".join("'" + s.replace("'", "''") + "'" for s in SUPPRESSED_EXACT)
    prefixes = " OR ".join(
        "starts_with(COALESCE(text, ''), '" + p.replace("'", "''") + "')"
        for p in SUPPRESSED_PREFIXES
    )
    cent_rows = ", ".join(
        f"({cid}, [" + ", ".join(repr(x) for x in cv) + "]::DOUBLE[])"
        for cid, cv in _ingest_centroids()
    )
    hex4 = (
        "("
        + " + ".join(
            f"(instr('0123456789abcdef', substr(md5(chunk_text || ':{{i}}'), {pos}, 1)) - 1) * {16 ** (4 - pos)}"
            for pos in range(1, 5)
        )
        + ")"
    )
    dims = ", ".join(
        hex4.replace("{i}", str(i)) + f" / 65536.0" for i in range(_INGEST_IDX_DIM)
    )
    tok = _SQL_TOKEN_COUNT.format(c="text")
    ctok = _SQL_TOKEN_COUNT.format(c="chunk_text")
    return f"""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES {planted}) pl(doc_id, text)
),
kept AS (
  SELECT doc_id, text FROM src
  WHERE NOT (COALESCE(text, '') IN ({exacts}) OR {prefixes})
),
t AS (
  SELECT doc_id, text,
         CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS words,
         {tok} AS tokens
  FROM kept
),
long_chunks AS (
  SELECT doc_id, tokens,
         CAST(unnest(generate_series(0,
              CAST(ceil(len(words) / {_INGEST_CHUNK_WORDS}.0) AS INTEGER) - 1)) AS INTEGER) AS chunk_id,
         words
  FROM t WHERE tokens > {_INGEST_CHUNK_TOKENS}
),
chunked AS (
  SELECT doc_id, tokens, 0 AS chunk_id, text AS chunk_text
  FROM t WHERE tokens <= {_INGEST_CHUNK_TOKENS}
  UNION ALL
  SELECT doc_id, tokens, chunk_id,
         array_to_string(words[(chunk_id * {_INGEST_CHUNK_WORDS} + 1):((chunk_id + 1) * {_INGEST_CHUNK_WORDS})], ' ') AS chunk_text
  FROM long_chunks
),
chunks AS (
  SELECT doc_id, chunk_id, chunk_text, {ctok} AS chunk_tokens
  FROM chunked
  WHERE tokens <= {_INGEST_CHUNK_TOKENS} OR {ctok} > 0
),
emb AS (
  SELECT doc_id, chunk_id, chunk_tokens, [{dims}]::DOUBLE[] AS emb
  FROM chunks
),
cents(cid, cv) AS (VALUES {cent_rows}),
assigned AS (
  SELECT doc_id, chunk_id, chunk_tokens, cid FROM (
    SELECT e.doc_id, e.chunk_id, e.chunk_tokens, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.doc_id, e.chunk_id
             ORDER BY list_sum(list_transform(range(1, {_INGEST_IDX_DIM + 1}),
                       i -> (e.emb[i] - c.cv[i]) * (e.emb[i] - c.cv[i]))), c.cid
           ) AS rk
    FROM emb e, cents c
  ) WHERE rk = 1
)
SELECT c.cid,
       CAST(COALESCE(COUNT(a.cid), 0) AS BIGINT) AS n_chunks,
       CAST(COALESCE(COUNT(DISTINCT a.doc_id), 0) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(a.chunk_tokens), 0) AS BIGINT) AS sum_tokens
FROM cents c LEFT JOIN assigned a ON c.cid = a.cid
GROUP BY c.cid
ORDER BY c.cid
"""


SPECS["stream_ingest_index"] = QuerySpec(
    _stream_ingest_index,
    _stream_ingest_index_sql(),
    "streaming ingest->suppress->chunk->embed->foreachBatch delta IVF index, 4 real micro-batches",
)


# ---------------------------------------------------------------------------
# stream_ivf_maintain: the STREAMING maintenance cycle (VERDICT r13 #5).
#
# The batch seam family (shared_hier_assignment_delta / _chain +
# maintain) models ingest as discrete cycles; the 100 TB steady state
# is a CONTINUOUS stream of inserts AND deletes driving exactly that
# policy.  This query runs it for real: an op log (ins rows carry the
# vector, del rows carry only the id) staged as FOUR parquet files and
# streamed with maxFilesPerTrigger=1 — four genuine micro-batches,
# each carrying both op kinds.  Per micro-batch (foreachBatch): the
# batch's inserts are assigned against the quantizer FROZEN at the
# base corpus (base geometry k/ns, base seed centroids — the
# shared_hier_assignment_delta rule) and appended to the delta index;
# its deletes append to the tombstone log.  After the drain, occupancy
# is computed from the STREAMED state only (base index ∪ delta-index
# parquet, tombstones from the log — no batch-side shortcut), through
# the same shared ``occupancy_cells`` as ``maintain`` and the
# ``ivf_maintenance`` oracle.  Correctness contract: because per-row
# assignment is chain-invariant under a frozen quantizer, N streamed
# micro-batches == the one-shot batch maintain over the full delta —
# which is what the oracle recomputes (hier CTE chain at src=base,
# assign_src=whole-corpus, the ivf_maintenance tagging convention).
# Conventions shared with the maintenance family: cut = n - max(50,
# n/10) (clamped to 1), inserts = vec_id >= cut, delete log = base ids
# with vec_id % 37 = 5.


def _stream_ivf_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _drain_op_log(spark, sf_dir, "smvd-ivf-maint-")
    # occupancy from the STREAMED state only (shared occupancy_cells);
    # the query scope materializes it before it removes the staged
    # delta-index/tombstone parquet this frame reads
    return _occupancy_from_streamed(st["base_assign"], st["delta_assign"], st["tombs"])


def _drain_op_log(spark: SparkSession, sf_dir: str, prefix: str) -> dict:
    """Stage the insert+delete op log, stream it through foreachBatch
    against the FROZEN base quantizer, and return the resulting state
    frames ``base_assign``, ``delta_assign`` and ``tombs`` with the
    streaming session, corpus, seeds, super-cell count and staging dir
    they came from — the shared first half of the streaming maintenance
    family (``stream_ivf_maintain`` computes occupancy flags from them;
    ``stream_ivf_compact`` goes on to ACT: materialize the disk index,
    compact the flagged cells, and serve off the result).  ``tombs``
    carries a ``_tomb=True`` marker column; both log reads are
    deduplicated against at-least-once replay."""
    import os
    import uuid

    from ..operators.ann import ivf_assign_hier, ivf_seed_centroids

    split = incoming_split(sf_dir)
    k, ns = split.k, split.ns  # BASE geometry — frozen at index build
    spark = streaming_session(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    base = split.base(emb)
    # ONE parent tempdir for the query's corpus-scale staging (op log,
    # delta index, tombstone log, checkpoint), removed by the query
    # scope once the result is materialized (ADVICE r14)
    parent = temp_dir(prefix)

    # Stage the op log as FOUR files split on vec_id % 4: every
    # micro-batch carries inserts AND deletes (maxFilesPerTrigger=1).
    stage = os.path.join(parent, "ops")
    ops = (
        split.delta(emb)
        .select("vec_id", "embedding", F.lit("ins").alias("op"))
        .unionByName(
            split.tombstones(emb).select(
                "vec_id",
                F.lit(None).cast("array<float>").alias("embedding"),
                F.lit("del").alias("op"),
            )
        )
        # r15: the 4 staging writes below each re-scanned the
        # embeddings parquet + union without it
        .transform(materialize, "op log", "cache")
    )
    for i in range(4):
        ops.filter(F.col("vec_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)

    idx_dir = os.path.join(parent, "delta_idx")
    tomb_dir = os.path.join(parent, "tomb_log")

    # r15: pin the tiny seed table for the drain — every micro-batch's
    # frozen-quantizer assignment (and the base assignment below)
    # otherwise re-scans the embeddings parquet to rebuild it
    seeds = materialize(ivf_seed_centroids(base, k), "seeds", "cache")

    def _cycle(batch_df, batch_id: int) -> None:
        # frozen quantizer: assign ONLY this micro-batch's inserts —
        # per-row assignment is chain-invariant, so the union over
        # batches is bit-identical to the one-shot delta assignment
        ins = batch_df.filter(F.col("op") == "ins").select(
            "vec_id", "embedding"
        )
        ivf_assign_hier(ins, seeds, ns, n_centroids=k).select(
            "vec_id", "cid"
        ).write.mode("append").parquet(idx_dir)
        batch_df.filter(F.col("op") == "del").select("vec_id").write.mode(
            "append"
        ).parquet(tomb_dir)

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>, op string")
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    q = (
        stream.writeStream.foreachBatch(_cycle)
        .queryName(f"ivf_maintain_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .option(
            "checkpointLocation", os.path.join(parent, "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q)

    # occupancy from the STREAMED state only: standing base index ∪
    # the delta-index parquet the stream appended; tombstones from the
    # streamed log (deduplicated — at-least-once logs repeat ids)
    base_assign = ivf_assign_hier(base, seeds, ns, n_centroids=k).select(
        "vec_id", "cid"
    )
    # distinct: foreachBatch is at-least-once — a replayed micro-batch
    # re-appends its (vec_id, cid) rows (identical content, frozen
    # quantizer), and without dedup a replay would inflate n_new and
    # flip the split flags (r14 review; the tombstone log below gets
    # the same protection)
    delta_assign = (
        spark.read.parquet(idx_dir).select("vec_id", "cid").distinct()
    )
    tombs = (
        spark.read.parquet(tomb_dir)
        .select("vec_id")
        .distinct()
        .withColumn("_tomb", F.lit(True))
    )
    return {
        "spark": spark, "emb": emb, "seeds": seeds, "ns": ns, "parent": parent,
        "base_assign": base_assign, "delta_assign": delta_assign, "tombs": tombs,
    }


def _occupancy_from_streamed(
    base_assign: DataFrame, delta_assign: DataFrame, tombs: DataFrame
) -> DataFrame:
    from ..operators.ivf_index import occupancy_cells

    tagged = (
        base_assign.withColumn("_new", F.lit(False))
        .unionByName(delta_assign.withColumn("_new", F.lit(True)))
        .join(tombs, "vec_id", "left")
        .select(
            "cid",
            F.when(F.col("_tomb"), "tomb")
            .when(F.col("_new"), "new")
            .otherwise("live")
            .alias("st"),
        )
    )
    return occupancy_cells(tagged)


# Shared oracle fragments of the streaming maintenance family: the
# frozen-quantizer tagging + per-cell occupancy aggregate, verbatim in
# BOTH stream_ivf_maintain (reports flags) and stream_ivf_compact (acts
# on them) — one definition, so the two oracles cannot drift.  ``agg``
# is MATERIALIZED: both oracles reference it at least twice, and each
# re-evaluation would re-run the whole hier chain underneath (the
# DuckDB CTE re-evaluation rule).  ``tot`` (the split-flag denominator)
# lives only in the maintain SQL — compact's flag set needs agg alone.
_SQL_OCC_CTES = """tagged AS (
  SELECT h.cid_hier AS cid,
         CASE WHEN h.vec_id >= nn.cut THEN 'new'
              WHEN h.vec_id % 37 = 5 THEN 'tomb'
              ELSE 'live' END AS st
  FROM hier h, nn
),
agg AS MATERIALIZED (
  SELECT cid,
         SUM(CASE WHEN st = 'live' THEN 1 ELSE 0 END) AS n_live,
         SUM(CASE WHEN st = 'tomb' THEN 1 ELSE 0 END) AS n_tomb,
         SUM(CASE WHEN st = 'new' THEN 1 ELSE 0 END) AS n_new
  FROM tagged GROUP BY cid
)"""


def _stream_ivf_maintain_sql() -> str:
    from .ivf_sql import hier_assign_ctes

    return f"""
WITH nn AS (SELECT COUNT(*) AS n,
                   GREATEST(1, COUNT(*) - GREATEST(50, COUNT(*) // 10)) AS cut
            FROM embeddings),
base AS (SELECT e.vec_id, e.embedding FROM embeddings e, nn
         WHERE e.vec_id < nn.cut),
{hier_assign_ctes(src="base", assign_src="embeddings")},
{_SQL_OCC_CTES},
tot AS (SELECT SUM(n_live + n_new) AS total, COUNT(*) AS k FROM agg)
SELECT CAST(a.cid AS BIGINT) AS cid,
       CAST(a.n_live AS BIGINT) AS n_live,
       CAST(a.n_tomb AS BIGINT) AS n_tomb,
       CAST(a.n_new AS BIGINT) AS n_new,
       (10 * (a.n_live + a.n_new) * t.k > 11 * t.total) AS needs_split,
       (50 * a.n_live < 49 * (a.n_live + a.n_tomb)) AS needs_compact
FROM agg a, tot t
"""


SPECS["stream_ivf_maintain"] = QuerySpec(
    _stream_ivf_maintain,
    _stream_ivf_maintain_sql(),
    "streaming IVF maintenance cycle: 4 real insert+delete micro-batches "
    "through foreachBatch (frozen base quantizer, delta index + tombstone "
    "log on disk), occupancy/flags from the streamed state only",
)


# ---------------------------------------------------------------------------
# stream_ivf_compact: the maintenance cycle ACTING (VERDICT r14 #5).
#
# ``stream_ivf_maintain`` stops at flags; the production loop closes it:
# after the drain, the streamed state is materialized as a
# cid-partitioned DISK index (write_cell_index — base ∪ delta), the
# streamed occupancy's ``needs_compact`` cells are REWRITTEN in place by
# ``compact_cells`` (tombstoned rows dropped; only flagged cells'
# directories are opened), and a query is served OFF THE COMPACTED
# index: 2-cell probe via route_query_cells (centroids frozen at the
# base corpus), candidates from the post-compaction ``cell_candidates``
# read, tombstone anti-join for the rows still sitting in UNflagged
# cells, exact cosine re-rank.  Output = the served top-5 plus two
# audit columns (n_cells_compacted, n_rows_removed) — so the oracle
# hash-checks BOTH that compaction fired on exactly the flagged cells
# AND that it is answer-invariant (the ``topk_ivf_tombstone`` shape:
# compaction only removes rows the tombstone anti-join excludes
# anyway, so the served answer equals the never-compacted oracle
# recomputation).  The oracle derives n_rows_removed as Σ n_tomb over
# flagged cells: the disk index contains base ∪ delta, every tombstone
# targets a base id, so each flagged cell's removable rows are exactly
# its tombstoned members.  Conventions shared with the maintenance
# family throughout (cut, %37 deletes, 4 micro-batch drain).


def _stream_ivf_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..functions.text import portable_round
    from ..functions.vector import cosine_similarity
    from ..operators.ann import route_query_cells
    from ..operators.ivf_index import (
        cell_candidates,
        compact_cells,
        exclude_tombstones,
        write_cell_index,
    )

    st = _drain_op_log(spark, sf_dir, "smvd-ivf-compact-")
    spark, emb, seeds, tombs = st["spark"], st["emb"], st["seeds"], st["tombs"]
    base_assign, delta_assign = st["base_assign"], st["delta_assign"]
    # flags from the STREAMED state (shared occupancy_cells), computed
    # BEFORE the rewrite and pinned eagerly — compact_cells is about to
    # mutate the very directories this plan would otherwise re-read
    occ = materialize(
        _occupancy_from_streamed(base_assign, delta_assign, tombs), "occupancy"
    )
    idx_path = os.path.join(st["parent"], "cell_idx")
    write_cell_index(base_assign.unionByName(delta_assign), idx_path)
    stats = compact_cells(
        spark,
        idx_path,
        tombs.select("vec_id"),
        occ.filter(F.col("needs_compact")).select("cid"),
    )  # returns materialized per-cell stats; flagged dirs rewritten
    comp = stats.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells_compacted"),
        F.coalesce(F.sum("n_removed"), F.lit(0))
        .cast("long")
        .alias("n_rows_removed"),
    )
    # serve OFF THE COMPACTED INDEX: routed cells read from disk
    # (cell_candidates opens only the 2 routed directories), tombstone
    # anti-join for unflagged cells' remaining deletes, exact re-rank
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    qcells = route_query_cells(q, seeds, st["ns"], n_cells=2)
    cids = [r.cid for r in qcells.select("cid").collect()]  # bounded: 2 rows
    cand = cell_candidates(spark, idx_path, cids).select("vec_id")
    live = exclude_tombstones(cand, tombs.select("vec_id"))
    served = (
        emb.join(live, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            portable_round(cosine_similarity("embedding", "qv"), 4).alias(
                "sim"
            ),
        )
        .orderBy(F.desc("sim"), F.col("vec_id"))
        .limit(5)
        .crossJoin(F.broadcast(comp))
    )
    # the query scope materializes it before it removes the disk index
    return served.orderBy(F.desc("sim"), F.col("vec_id"))


def _stream_ivf_compact_sql() -> str:
    from .ivf_sql import SQL_COS, hier_assign_ctes

    cos_qs = SQL_COS.format(a="q.qv", b="s.sv")
    cos_qc = SQL_COS.format(a="q.qv", b="c2.cv")
    cos_eq = SQL_COS.format(a="e.embedding", b="q.qv")
    return f"""
WITH nn AS (SELECT COUNT(*) AS n,
                   GREATEST(1, COUNT(*) - GREATEST(50, COUNT(*) // 10)) AS cut
            FROM embeddings),
base AS (SELECT e.vec_id, e.embedding FROM embeddings e, nn
         WHERE e.vec_id < nn.cut),
{hier_assign_ctes(src="base", assign_src="embeddings", materialized=True)},
{_SQL_OCC_CTES},
flagged AS (
  SELECT cid FROM agg WHERE 50 * n_live < 49 * (n_live + n_tomb)
),
comp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells_compacted,
         CAST(COALESCE(SUM(a.n_tomb), 0) AS BIGINT) AS n_rows_removed
  FROM agg a JOIN flagged f ON a.cid = f.cid
),
tomb AS (SELECT e.vec_id FROM embeddings e, nn
         WHERE e.vec_id < nn.cut AND e.vec_id % 37 = 5),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qs AS (
  SELECT sid FROM (
    SELECT s.sid,
           ROW_NUMBER() OVER (ORDER BY ({cos_qs}) DESC, s.sid) AS rk
    FROM s, q
  ) WHERE rk <= 3
),
qcells AS (
  SELECT cid FROM (
    SELECT c2.cid,
           ROW_NUMBER() OVER (ORDER BY ({cos_qc}) DESC, c2.cid) AS rk
    FROM c2s c2 JOIN qs USING (sid), q
  ) WHERE rk <= 2
)
SELECT e.vec_id,
       FLOOR(({cos_eq}) * 10000 + 0.5) / 10000 AS sim,
       comp.n_cells_compacted, comp.n_rows_removed
FROM embeddings e
JOIN hier h ON e.vec_id = h.vec_id
JOIN qcells qc ON h.cid_hier = qc.cid, q, comp
WHERE e.vec_id NOT IN (SELECT vec_id FROM tomb)
ORDER BY sim DESC, e.vec_id
LIMIT 5
"""


SPECS["stream_ivf_compact"] = QuerySpec(
    _stream_ivf_compact,
    _stream_ivf_compact_sql(),
    "the streaming maintenance cycle ACTING: drain insert+delete "
    "micro-batches, materialize the cid-partitioned disk index, "
    "compact_cells on the streamed needs_compact cells, then serve a "
    "2-cell routed query off the compacted index — answer-invariant by "
    "construction, with hash-checked compaction audit columns",
)


# ---------------------------------------------------------------------------
# stream_lsh_dedup: incremental near-dup detection AT INGEST.
#
# The batch dedup family answers "which pairs exist in the corpus"; a
# 100 TB ingest needs the incremental question — "is this NEW document a
# near-dup of anything seen so far" — without rescanning the lake.  Each
# micro-batch computes MinHash signatures + shingle sets for its docs
# (the minhash_with_shingles operator, unchanged), then inside
# foreachBatch:
#   1. within-batch LSH pairs (band equi-join, exact-Jaccard verify);
#   2. cross-batch pairs: new-batch band keys joined against the
#      ACCUMULATED signature index (parquet, one row per doc with its
#      band-key columns AND shingle set — appended per batch, so history
#      is never re-shingled);
#   3. the batch's rows append to the index.
# Completeness is structural: batches partition the corpus, and a pair
# (i, j) is emitted exactly once — in j's batch, with i either in the
# same batch (arm 1) or already in the index (arm 2).  The drained
# pair set therefore EQUALS the batch minhash_lsh_pairs result, which
# is the oracle — verbatim the same SQL.
#
# Scale discipline (r9 second review):
#   - the verify side reads the index SEMI-JOINED to the candidate ids,
#     so per-batch shuffle work is O(batch + candidates), not
#     O(history) — the full index is only ever scanned by the band join
#     (bucket-keyed; at 100 TB the index is bucketed BY band key so a
#     batch probes matching buckets only);
#   - the index stores ONE row per doc (shingles + band-key columns);
#     band keys explode on read via the SHARED explode_band_keys (the
#     same code path lsh_candidate_pairs uses, so the streamed arm
#     cannot drift from the batch oracle it must equal);
#   - auto-broadcast is disabled on the cloned session: Catalyst's size
#     estimate for the growing index's array columns undershoots and
#     the broadcast OOM'd the driver at the 16x probe;
#   - staging splits on doc_id % 3 — 1,000,000 % 3 = 1, so every
#     PLANTED near-dup pair (base, base+1e6) is guaranteed to span two
#     different micro-batches: the cross-index arm is structurally
#     fixture-live, not reliant on organic near-dups (a % 4 split kept
#     planted pairs in one batch because 1e6 % 4 = 0).

def _stream_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from ..operators.dedup import lsh_dedup_batch
    from .similarity import _JACCARD_THRESHOLD, _augmented_docs

    spark = streaming_session(spark)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    stage = temp_dir("smvd-lsh-stream-") + "/src"
    docs = _augmented_docs(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )

    index_dir = temp_dir("smvd-lsh-stream-") + "/index"
    pairs_dir = temp_dir("smvd-lsh-stream-") + "/pairs"

    # the batch body is THE shared lsh_dedup_batch (operators/dedup.py)
    # — the same code the x64 marginal-cost probe times (r12; the
    # shared-definition rule: measurement and production cannot drift)
    def _dedup_batch(batch_df, batch_id: int) -> None:
        lsh_dedup_batch(
            spark,
            batch_df,
            index_dir,
            threshold=_JACCARD_THRESHOLD,
            pairs_dir=pairs_dir,
        )

    q = (
        stream.writeStream.foreachBatch(_dedup_batch)
        .queryName(f"lsh_dedup_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .option("checkpointLocation", temp_dir("smvd-ckpt-lsh-"))
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q)
    return (
        spark.read.parquet(pairs_dir)
        .select("id_a", "id_b", "jaccard")
        .distinct()
        .orderBy("id_a", "id_b")
    )


def _stream_lsh_dedup_sql() -> str:
    from .similarity import _MINHASH_LSH_PAIRS_SQL

    return _MINHASH_LSH_PAIRS_SQL


SPECS["stream_lsh_dedup"] = QuerySpec(
    _stream_lsh_dedup,
    _stream_lsh_dedup_sql(),
    "incremental near-dup at ingest: per-batch LSH vs the accumulated signature index == batch pairs",
)
