"""Wave 21 — x64 probes for the streaming family (VERDICT r11 #7).

The per-micro-batch O(batch + candidates) claim for the incremental
streaming operators was argued from plan shape, never measured.  This
probe measures the MARGINAL cost of one standard-size batch while the
ACCUMULATED state the batch must consult grows 1x -> 64x:

* ``lsh`` — stream_lsh_dedup's shape: the signature index is
  pre-populated from the scale-k corpus (untimed), then ONE fixed
  500-doc batch is processed exactly as the query's foreachBatch body
  does (within-batch band join, cross-index band join, semi-joined
  Jaccard verify, index append — see plans/streaming_queries.py::
  _stream_lsh_dedup, the source of truth for this glue).  Batch texts
  are vocabulary-SUBSTITUTED (md5(word|probe)) so replica families in
  the history cannot make the batch a genuine near-dup of everything —
  the wave-20c lesson: decorrelate the DATA to measure the PLAN.
* ``ingest`` — stream_ingest_index's shape: the chunk index is
  pre-populated at scale k, then one 500-doc batch runs
  suppress -> chunk -> md5-featurize -> in-row assign -> append.
  Per-batch work never reads the index (append-only sink), so cost
  must be flat by construction; the row verifies it.
* ``wm`` — stream_dedup_watermark's shape at EVERY requested scale:
  dropDuplicatesWithinWatermark over the scale-k events stream in
  multi-batch AvailableNow mode, reporting per-batch durations and the
  state-store row counts from query progress — bounded state (eviction
  works) and flat per-batch cost are the claims.

Usage:
    python tools/stream_probe.py [--scales=1,16,64] [--arms=lsh,ingest,wm]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

BATCH_DOCS = 500


def _fixed_batch(spark):
    """The standard probe batch: 500 sf0.1 docs, ids remapped far away
    from any replica id, words substituted so the batch is decorrelated
    from the history (plan cost, not data cost)."""
    from pyspark.sql import functions as F

    from scaling_probe import BASE

    docs = spark.read.parquet(os.path.join(BASE, "documents.parquet")).filter(
        F.col("doc_id") < BATCH_DOCS
    )
    subst = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.substring(F.md5(F.concat_ws("_", w, F.lit("probe"))), 1, 8),
        ),
        " ",
    )
    return docs.select(
        (F.col("doc_id") + F.lit(10**9)).alias("doc_id"), subst.alias("text")
    ).localCheckpoint()


def probe_lsh(spark, scales) -> dict:
    from scaling_probe import build_scaled
    from signal_messenger_vector_database_spark.operators.dedup import (
        band_key_cols,
        lsh_dedup_batch,
        minhash_with_shingles,
    )
    from signal_messenger_vector_database_spark.plans.similarity import (
        _JACCARD_THRESHOLD,
    )

    # the growing index's array columns defeat Catalyst's size estimate
    # (the _stream_lsh_dedup rationale) — but scope the conf to THIS arm
    # and restore it, so a combined run's other arms measure under the
    # default join config (r12 adversarial review)
    prior_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    out = {}
    batch = _fixed_batch(spark)
    for k in scales:
        sf_dir = build_scaled(spark, k)
        index_dir = tempfile.mkdtemp(prefix=f"smvd-sprobe-lsh-x{k}-") + "/index"
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        minhash_with_shingles(docs, id_col="doc_id", text_col="text").select(
            "doc_id", "shingles", *band_key_cols()
        ).write.mode("overwrite").parquet(index_dir)

        t0 = time.time()
        stats = lsh_dedup_batch(
            spark,
            batch,
            index_dir,
            threshold=_JACCARD_THRESHOLD,
            collect_stats=True,
        )
        sec = round(time.time() - t0, 2)
        row = {
            "scale": k,
            "index_docs": docs.count(),
            "batch_sec": sec,
            **stats,
        }
        out[f"x{k}"] = row
        print(json.dumps({"lsh": row}), flush=True)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior_thresh)
    return out


def probe_ingest(spark, scales) -> dict:
    from pyspark.sql import functions as F

    from scaling_probe import build_scaled
    from signal_messenger_vector_database_spark.operators.chunking import (
        chunk_text,
    )
    from signal_messenger_vector_database_spark.operators.suppression import (
        filter_control_messages,
    )
    from signal_messenger_vector_database_spark.plans.streaming_queries import (
        _INGEST_CHUNK_TOKENS,
        _INGEST_CHUNK_WORDS,
        _md5_featurize,
        _nearest_ingest_centroid,
    )

    def assign_append(df, index_dir):
        df.select(
            "doc_id",
            "chunk_id",
            "chunk_tokens",
            _nearest_ingest_centroid(F.col("emb")).alias("cid"),
        ).write.mode("append").parquet(index_dir)

    def pipeline(df):
        kept = filter_control_messages(df, body_col="text")
        chunked = chunk_text(
            kept,
            text_col="text",
            ideal_token_size=_INGEST_CHUNK_TOKENS,
            chunk_words=_INGEST_CHUNK_WORDS,
        ).select("doc_id", "chunk_id", "chunk_text", "chunk_tokens")
        return chunked.withColumn("emb", _md5_featurize(F.col("chunk_text")))

    out = {}
    batch = _fixed_batch(spark)
    for k in scales:
        sf_dir = build_scaled(spark, k)
        index_dir = tempfile.mkdtemp(prefix=f"smvd-sprobe-ing-x{k}-") + "/index"
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
            "doc_id", "text"
        )
        assign_append(pipeline(docs), index_dir)  # pre-populate, untimed
        t0 = time.time()
        assign_append(pipeline(batch), index_dir)
        sec = round(time.time() - t0, 2)
        row = {"scale": k, "index_docs": docs.count(), "batch_sec": sec}
        out[f"x{k}"] = row
        print(json.dumps({"ingest": row}), flush=True)
    return out


def probe_wm(spark, scales) -> dict:
    """Per-batch durations + state rows for the watermark dedup over the
    each requested scale (the stream itself IS the growing history)."""
    from pyspark.sql import functions as F

    from scaling_probe import build_scaled
    from signal_messenger_vector_database_spark.streaming.ingest import (
        await_drained,
        streaming_session,
    )

    out = {}
    for k in scales:
        sf_dir = build_scaled(spark, k)
        s = streaming_session(spark)
        stream = (
            s.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string,"
                " value double, props string"
            )
            .option("maxFilesPerTrigger", "4")
            .parquet(os.path.join(sf_dir, "events.parquet"))
        )
        deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        sink_dir = tempfile.mkdtemp(prefix=f"smvd-sprobe-wm-x{k}-")

        def append(batch, bid):
            batch.write.mode("append").parquet(os.path.join(sink_dir, "ev"))

        q = (
            deduped.writeStream.foreachBatch(append)
            .option(
                "checkpointLocation", tempfile.mkdtemp(prefix="smvd-sprobe-ckpt-")
            )
            .trigger(availableNow=True)
            .start()
        )
        await_drained(q)
        prog = []
        for p in q.recentProgress:
            if isinstance(p, dict):
                prog.append(p)
            else:  # StreamingQueryProgress: .json is a str property
                j = p.json
                prog.append(json.loads(j() if callable(j) else j))
        batches = [
            {
                "rows": p["numInputRows"],
                "sec": round(p["durationMs"]["triggerExecution"] / 1000.0, 2),
                "state_rows": sum(
                    s0["numRowsTotal"] for s0 in p.get("stateOperators", [])
                ),
            }
            for p in prog
            if p["numInputRows"] > 0
        ]
        row = {
            "scale": k,
            "n_batches": len(batches),
            "sec_per_mrow": [
                round(b["sec"] / max(b["rows"], 1) * 1e6, 1) for b in batches
            ],
            "max_state_rows": max((b["state_rows"] for b in batches), default=0),
            "batches": batches,
        }
        out[f"x{k}"] = row
        print(json.dumps({"wm": row}), flush=True)
    return out


def main() -> None:
    scales = [1, 16, 64]
    arms = ["lsh", "ingest", "wm"]
    for a in sys.argv[1:]:
        if a.startswith("--scales="):
            scales = [int(x) for x in a.split("=", 1)[1].split(",")]
        elif a.startswith("--arms="):
            arms = a.split("=", 1)[1].split(",")
        else:
            sys.exit(f"unrecognized argument {a!r}")

    from signal_messenger_vector_database_spark.session import get_spark

    spark = get_spark("stream-probe")
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    if "lsh" in arms:
        results["lsh"] = probe_lsh(spark, scales)
    if "ingest" in arms:
        results["ingest"] = probe_ingest(spark, scales)
    if "wm" in arms:
        results["wm"] = probe_wm(spark, scales)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
