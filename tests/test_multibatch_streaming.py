"""Cross-micro-batch streaming state (§2.10): every other streaming test
drains the single events.parquet in ONE AvailableNow micro-batch, so
checkpointed state crossing a trigger boundary was never exercised.  Here
the events are split into 4 files and streamed with maxFilesPerTrigger=1:
the windowed aggregation must accumulate state across 4 real micro-batches
and still equal the single-batch answer, and streaming dropDuplicates must
suppress a duplicate that arrives in a LATER batch than the original."""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import functions as F

from signal_messenger_vector_database_spark.io.sources import load_table
from signal_messenger_vector_database_spark.streaming.ingest import (
    await_drained,
    streaming_session,
)

SF = "/root/testdata/sf0.001"


def _staged_events(spark, n_files: int):
    # watermarks require TIMESTAMP (ltz); the fixture loader yields NTZ
    events = load_table(spark, SF, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    stage = tempfile.mkdtemp(prefix="smvd-multibatch-") + "/events"
    # split by a deterministic modulus so every file holds a spread of
    # event times — late-vs-early arrival across batches is real; one
    # explicit single-file write per slice (a hash repartition can leave
    # empty partitions and fewer files than requested)
    for i in range(n_files):
        events.filter(F.col("event_id") % n_files == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    return events, stage


def test_windowed_counts_accumulate_across_micro_batches(spark):
    s = streaming_session(spark)
    events, stage = _staged_events(s, 4)
    schema = events.schema
    stream = (
        s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    agg = (
        stream.withWatermark("ts", "365 days")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            "cnt",
        )
    )
    sink = f"mb_counts_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="smvd-ckpt-mb-"))
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 4, f"expected >=4 micro-batches, saw {n_batches}"

    got = {
        (r.day, r.event_type): r.cnt for r in s.table(sink).collect()
    }
    want = {
        (r.day, r.event_type): r.cnt
        for r in events.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want


def test_stream_dedup_suppresses_duplicate_arriving_in_later_batch(spark):
    s = streaming_session(spark)
    events, _ = _staged_events(s, 2)
    stage = tempfile.mkdtemp(prefix="smvd-mbdedup-") + "/events"
    first = events.limit(50)
    # file 0: originals; file 1: the SAME 50 events again (distinct file,
    # so the duplicate arrives in a later micro-batch)
    first.coalesce(1).write.mode("overwrite").parquet(stage)
    first.coalesce(1).write.mode("append").parquet(stage)
    stream = (
        s.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    deduped = stream.dropDuplicates(["event_id"]).groupBy().agg(
        F.count(F.lit(1)).alias("n")
    )
    sink = f"mb_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="smvd-ckpt-mbd-"))
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q)
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2
    assert s.table(sink).collect()[0].n == 50


def test_sketch_histogram_accumulates_across_micro_batches(spark):
    """The streaming quantile sketch's bin-count state must accumulate
    across REAL micro-batches (4 files, maxFilesPerTrigger=1) and land
    the identical histogram — and hence identical quantiles — as the
    batch sketch over the same rows.  This is the mergeable-sketch
    property exercised through checkpointed streaming state rather than
    a hand-merge."""
    from signal_messenger_vector_database_spark.plans.analytics import (
        _qsk_bin_expr,
        _qsk_inputs,
        _qsk_quantile_pick,
        _sketch_quantiles,
    )

    s = streaming_session(spark)
    events, stage = _staged_events(s, 4)
    _, rng = _qsk_inputs(s, SF)
    stream = (
        s.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
        .filter(F.col("value").isNotNull())
    )
    binned = stream.join(F.broadcast(rng), "event_type").select(
        "event_type", _qsk_bin_expr().alias("bin")
    )
    hist = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    sink = f"qsk_mb_{uuid.uuid4().hex[:8]}"
    q = (
        hist.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="smvd-ckpt-qmb-"))
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 3
    streamed = {
        tuple(r) for r in _qsk_quantile_pick(s.table(sink), rng).collect()
    }
    batch = {tuple(r) for r in _sketch_quantiles(spark, SF).collect()}
    assert streamed == batch and len(batch) >= 9


def test_stream_ingest_index_multibatch_equals_batch_twin(spark):
    """stream_ingest_index drains FOUR real micro-batches
    (maxFilesPerTrigger=1 over exactly 4 staged files — pinned by
    test_stream_ingest_index_stages_four_micro_batches below); its
    per-cluster index accounting must equal the same pipeline run as ONE
    batch DataFrame — the delta-append index is trigger-boundary-
    invariant, and the batch twin's broadcast join + min_by is the
    independent reference for the stream's in-row argmin.  Also pins the
    planted arms: the 3 control rows vanish, the 60-word planted doc
    contributes exactly 3 chunks."""
    from pyspark.sql import functions as F

    from signal_messenger_vector_database_spark.operators.chunking import (
        chunk_text,
    )
    from signal_messenger_vector_database_spark.operators.suppression import (
        filter_control_messages,
    )
    from signal_messenger_vector_database_spark.plans.streaming_queries import (
        _INGEST_CHUNK_TOKENS,
        _INGEST_CHUNK_WORDS,
        _INGEST_PLANTED,
        _ingest_centroids,
        _md5_featurize,
        _stream_ingest_index,
    )

    streamed = {tuple(r) for r in _stream_ingest_index(spark, SF).collect()}

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    planted = spark.createDataFrame(_INGEST_PLANTED, "doc_id long, text string")
    src = docs.unionByName(planted)
    kept = filter_control_messages(src, body_col="text")
    chunked = chunk_text(
        kept,
        text_col="text",
        ideal_token_size=_INGEST_CHUNK_TOKENS,
        chunk_words=_INGEST_CHUNK_WORDS,
    ).select("doc_id", "chunk_id", "chunk_text", "chunk_tokens")
    emb = chunked.withColumn("emb", _md5_featurize(F.col("chunk_text")))
    cents = spark.createDataFrame(_ingest_centroids(), "cid int, cv array<double>")
    d2 = F.aggregate(
        F.zip_with("emb", "cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    assigned = (
        emb.join(F.broadcast(cents))
        .select("doc_id", "chunk_id", "chunk_tokens", "cid", d2.alias("d2"))
        .groupBy("doc_id", "chunk_id", "chunk_tokens")
        .agg(F.min_by(F.col("cid"), F.struct("d2", "cid")).alias("cid"))
    )
    batch = {
        tuple(r)
        for r in cents.select("cid")
        .join(
            assigned.groupBy("cid").agg(
                F.count(F.lit(1)).cast("long").alias("n_chunks"),
                F.countDistinct("doc_id").cast("long").alias("n_docs"),
                F.sum("chunk_tokens").cast("long").alias("sum_tokens"),
            ),
            "cid",
            "left",
        )
        .select(
            "cid",
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("sum_tokens", F.lit(0)).cast("long").alias("sum_tokens"),
        )
        .collect()
    }
    assert streamed == batch

    # planted-arm liveness: control rows suppressed, long doc -> 3 chunks
    kept_ids = {r.doc_id for r in kept.select("doc_id").distinct().collect()}
    assert {-1, -2, -3}.isdisjoint(kept_ids) and -4 in kept_ids
    n_chunks_planted = chunked.filter(F.col("doc_id") == -4).count()
    assert n_chunks_planted == 3


def test_stream_ingest_index_stages_four_micro_batches(spark, tmp_path):
    """stream_ingest_index's staging job writes exactly 4 non-empty
    parquet files, one per ``_f`` slice (doc_id % 3 and the planted
    rows), so the query's maxFilesPerTrigger=1 stream drains exactly 4
    non-empty micro-batches."""
    import glob
    import os

    import pyarrow.parquet as pq

    from signal_messenger_vector_database_spark.io.materialize import scope
    from signal_messenger_vector_database_spark.plans.streaming_queries import (
        _INGEST_PLANTED,
        _stage_ingest_source,
    )

    s = streaming_session(spark)
    with scope():
        stage = _stage_ingest_source(s, SF)
        files = sorted(glob.glob(os.path.join(stage, "**", "*.parquet"), recursive=True))
        assert [os.path.basename(os.path.dirname(f)) for f in files] == [
            "_f=0", "_f=1", "_f=2", "_f=3"
        ]
        sizes = [pq.ParquetFile(f).metadata.num_rows for f in files]
        n_docs = load_table(spark, SF, "documents").count()
        assert min(sizes) > 0 and sum(sizes) == n_docs + len(_INGEST_PLANTED)
        assert sizes[3] == len(_INGEST_PLANTED)

        q = (
            s.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        await_drained(q)
        batches = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"]]
        assert sorted(batches) == sorted(sizes)


def test_stream_lsh_dedup_exercises_both_arms_and_matches_batch(spark):
    """stream_lsh_dedup must (a) equal the batch LSH pair set exactly —
    completeness of the within-batch + cross-index decomposition — and
    (b) exercise BOTH arms STRUCTURALLY: staging splits on doc_id % 3
    and 1e6 % 3 = 1, so every planted pair (d, d+1e6) spans two batches
    by construction (the cross-index arm), while organic same-residue
    pairs cover the within-batch arm."""
    from signal_messenger_vector_database_spark.plans.similarity import (
        _minhash_lsh_pairs,
    )
    from signal_messenger_vector_database_spark.plans.streaming_queries import (
        _stream_lsh_dedup,
    )

    streamed = {tuple(r) for r in _stream_lsh_dedup(spark, SF).collect()}
    batch = {tuple(r) for r in _minhash_lsh_pairs(spark, SF).collect()}
    assert streamed == batch and len(streamed) > 0
    planted = [(a, b) for a, b, _ in streamed if b == a + 1_000_000]
    assert planted and all(a % 3 != b % 3 for a, b in planted)  # cross-batch
    within = [(a, b) for a, b, _ in streamed if a % 3 == b % 3]
    assert within  # the within-batch arm is live too


def test_stream_ivf_maintain_multibatch_equals_batch_twin(spark):
    """stream_ivf_maintain drains FOUR real insert+delete micro-batches
    (staging splits the op log on vec_id % 4, maxFilesPerTrigger=1 —
    every batch carries both op kinds by construction); the final
    occupancy/flags frame must equal the one-shot batch `maintain`
    cycle over the same base/delta/tombstones — the chain-invariance
    contract under the frozen base quantizer."""
    from signal_messenger_vector_database_spark.io.sources import (
        parquet_row_count,
    )
    from signal_messenger_vector_database_spark.operators.ann import (
        hier_super_count,
        scaled_cluster_count,
    )
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        maintain,
    )
    from signal_messenger_vector_database_spark.plans.streaming_queries import (
        _stream_ivf_maintain,
    )

    streamed = {tuple(r) for r in _stream_ivf_maintain(spark, SF).collect()}

    n = parquet_row_count(SF, "embeddings")
    cut = max(1, n - max(50, n // 10))
    emb = load_table(spark, SF, "embeddings")
    k = scaled_cluster_count(cut)
    out = maintain(
        spark,
        emb.filter(F.col("vec_id") < cut),
        emb.filter(F.col("vec_id") >= cut),
        f"{SF}/embeddings|smt-base|{cut}",
        f"{SF}/embeddings|smt-delta|{n - cut}",
        k,
        hier_super_count(k),
        tombstones=emb.filter(
            (F.col("vec_id") < cut) & (F.col("vec_id") % 37 == 5)
        ).select("vec_id"),
    )
    batch = {tuple(r) for r in out["cells"].collect()}
    assert streamed == batch and len(streamed) >= k  # every cell accounted
    # both op kinds actually flowed through the stream
    assert any(r[3] > 0 for r in streamed)  # n_new
    assert any(r[2] > 0 for r in streamed)  # n_tomb


def test_stream_ivf_compact_acts_and_serves(spark):
    """stream_ivf_compact must (a) actually COMPACT — the planted %37
    tombstones push cells over the needs_compact threshold at this
    fixture, so the audit columns are non-zero — and (b) serve an
    answer INVARIANT under the compaction: the streamed+compacted
    disk-index serve equals the same 2-cell routed, tombstone-excluded
    top-5 computed directly from the batch assignment (compaction only
    removes rows the anti-join excludes anyway)."""
    from signal_messenger_vector_database_spark.functions.text import (
        portable_round,
    )
    from signal_messenger_vector_database_spark.functions.vector import (
        cosine_similarity,
    )
    from signal_messenger_vector_database_spark.io.sources import (
        parquet_row_count,
    )
    from signal_messenger_vector_database_spark.operators.ann import (
        hier_super_count,
        ivf_assign_hier,
        ivf_seed_centroids,
        route_query_cells,
        scaled_cluster_count,
    )
    from signal_messenger_vector_database_spark.plans.streaming_queries import (
        _stream_ivf_compact,
    )

    rows = _stream_ivf_compact(spark, SF).collect()
    assert len(rows) == 5
    # (a) compaction fired: audit columns constant and non-zero
    assert len({(r.n_cells_compacted, r.n_rows_removed) for r in rows}) == 1
    assert rows[0].n_cells_compacted > 0 and rows[0].n_rows_removed > 0

    # (b) answer-invariance vs the direct batch computation
    n = parquet_row_count(SF, "embeddings")
    cut = max(1, n - max(50, n // 10))
    k = scaled_cluster_count(cut)
    ns = hier_super_count(k)
    emb = load_table(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") < cut)
    seeds = ivf_seed_centroids(base, k)
    assign = ivf_assign_hier(emb, seeds, ns, n_centroids=k).select(
        "vec_id", "cid"
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    qcells = route_query_cells(q, seeds, ns, n_cells=2)
    tombs = emb.filter(
        (F.col("vec_id") < cut) & (F.col("vec_id") % 37 == 5)
    ).select("vec_id")
    expected = (
        emb.join(
            assign.join(qcells.select("cid"), "cid")
            .join(tombs, "vec_id", "left_anti")
            .select("vec_id"),
            "vec_id",
        )
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            portable_round(cosine_similarity("embedding", "qv"), 4).alias(
                "sim"
            ),
        )
        .orderBy(F.desc("sim"), F.col("vec_id"))
        .limit(5)
        .collect()
    )
    assert [(r.vec_id, r.sim) for r in rows] == [
        (r.vec_id, r.sim) for r in expected
    ]
