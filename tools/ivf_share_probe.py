"""Probe: the cost shape of IVF cell-index maintenance at scale.

Both arms run on i.i.d. replicas from tools/scaling_probe.build_scaled
and time the cid-partitioned disk index (operators/ivf_index.py's
``write_cell_index`` / ``compact_cells`` / ``cell_candidates``).  The
probe sets SMVD_IVF_MEMO=0 for the whole run, so every arm pays its own
coarse assignment, as in the wave-24 and wave-29b numbers in SCALING.md.
Oracles are unaffected; this probe measures COST shape only.

Usage:
    python tools/ivf_share_probe.py --compact   # wave 24: cell compaction —
                                                # flagged-cells-only rewrite
                                                # vs the full index write
    python tools/ivf_share_probe.py --stream-compact
                                                # wave 29b: the acting
                                                # streaming compaction cycle
                                                # e2e + pre/post-compaction
                                                # serving contrast
    [--scales=1,16,64]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_compact(scales: list[int]) -> None:
    """Wave 24 (VERDICT r12 #1 done-criterion): compaction cost must be
    proportional to FLAGGED CELLS, not corpus.  Per scale: build the
    assignment, materialize it as a cid-partitioned disk index (the
    full-rewrite contrast arm — this is what compaction avoids), then
    compact a FIXED set of 2 cells.  Because the corpus-scaled k keeps
    cell size ~125 rows at every scale, a fixed flagged set means a
    fixed row count — compact_sec should stay FLAT at x1/x16/x64 while
    full_write_sec grows with the corpus.  At the largest scale a
    second pass compacts 8 cells, showing cost tracks the flagged-cell
    row count along the other axis too."""
    import shutil

    from scaling_probe import build_scaled

    from pyspark.sql import functions as F

    from signal_messenger_vector_database_spark.io.sources import (
        load_table,
        parquet_row_count,
    )
    from signal_messenger_vector_database_spark.operators.ann import (
        hier_super_count,
        scaled_cluster_count,
    )
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        compact_cells,
        read_cell_index,
        shared_hier_assignment,
        write_cell_index,
    )
    from signal_messenger_vector_database_spark.session import get_spark

    spark = get_spark("ivf-compact-probe")
    spark.sparkContext.setLogLevel("ERROR")
    dirs = {k: build_scaled(spark, k) for k in scales}

    results = {}
    for warmup in (True, False):
      for k in (scales[:1] if warmup else scales):
        sf_dir = dirs[k]
        n = parquet_row_count(sf_dir, "embeddings")
        kk = scaled_cluster_count(n)
        ns = hier_super_count(kk)
        emb = load_table(spark, sf_dir, "embeddings")
        assign = shared_hier_assignment(
            spark, emb, f"{sf_dir}/embeddings|compact-probe|{n}", kk, ns
        )
        idx = f"/tmp/smvd_compact_probe/x{k}"
        shutil.rmtree(idx, ignore_errors=True)
        t0 = time.time()
        write_cell_index(assign, idx)
        full_write_sec = round(time.time() - t0, 2)

        for n_flagged in (2,) if k != scales[-1] or warmup else (2, 8):
            flagged = [
                r.cid
                for r in read_cell_index(spark, idx)
                .select("cid")
                .distinct()
                .orderBy("cid")
                .limit(n_flagged)
                .collect()
            ]
            tombs = (
                read_cell_index(spark, idx)
                .filter(F.col("cid").isin(flagged) & (F.col("vec_id") % 2 == 0))
                .select("vec_id")
            )
            t0 = time.time()
            stats = compact_cells(spark, idx, tombs, flagged).collect()
            compact_sec = round(time.time() - t0, 2)
            if warmup:
                continue
            row = {
                "scale": k,
                "n": n,
                "k_cells": kk,
                "full_write_sec": full_write_sec,
                "n_flagged": n_flagged,
                "rows_in_flagged": int(sum(s.n_before for s in stats)),
                "rows_removed": int(sum(s.n_removed for s in stats)),
                "compact_sec": compact_sec,
            }
            results[f"x{k}_f{n_flagged}"] = row
            print(json.dumps(row), flush=True)
    print(json.dumps(results))


def run_stream_compact(scales: list[int]) -> None:
    """Wave 29b (VERDICT r14 #5 done-criterion): the ACTING streaming
    maintenance cycle at scale, two readings per scale —

      e2e_sec        — `stream_ivf_compact` end-to-end (stage the op
                       log, drain 4 micro-batches, write the disk
                       index, compact the streamed flagged cells,
                       serve).  Expected ~linear in corpus: the
                       assignment + index write dominate.
      serve pre/post — the wave-24 contrast, now measured on the SERVE
                       side: a disk index with a HEAVY tombstone load
                       (80% of the routed cells' rows — the probe
                       chooses its own density; the catalog query's
                       %37 convention leaves compaction semantically
                       live but cost-invisible), routed 2-cell serve
                       timed BEFORE compaction (scan includes doomed
                       rows + anti-join) and AFTER (smaller cells,
                       smaller anti-join input).  The drop is the
                       steady-state dividend a compaction pass buys
                       every subsequent query.
    """
    import shutil
    import tempfile

    from scaling_probe import build_scaled

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from signal_messenger_vector_database_spark.functions.vector import (
        cosine_similarity,
    )
    from signal_messenger_vector_database_spark.io.sources import (
        load_table,
        parquet_row_count,
    )
    from signal_messenger_vector_database_spark.operators.ann import (
        hier_super_count,
        ivf_seed_centroids,
        route_query_cells,
        scaled_cluster_count,
    )
    from signal_messenger_vector_database_spark.operators.ivf_index import (
        cell_candidates,
        compact_cells,
        exclude_tombstones,
        shared_hier_assignment,
        write_cell_index,
    )
    from signal_messenger_vector_database_spark.session import get_spark

    spark = get_spark("ivf-stream-compact-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    dirs = {k: build_scaled(spark, k) for k in scales}
    root = tempfile.mkdtemp(prefix="smvd_stream_compact_probe_")

    def timed_serve(idx, emb, seeds, ns, kk, tombs):
        q = emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qv")
        )
        qcells = route_query_cells(q, seeds, ns, n_cells=2)
        cids = [r.cid for r in qcells.select("cid").collect()]
        runs = []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.time()
            cand = cell_candidates(spark, idx, cids).select("vec_id")
            live = exclude_tombstones(cand, tombs)
            (
                emb.join(live, "vec_id")
                .crossJoin(F.broadcast(q))
                .select(
                    "vec_id",
                    cosine_similarity("embedding", "qv").alias("sim"),
                )
                .orderBy(F.desc("sim"), "vec_id")
                .limit(5)
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            runs.append(round(time.time() - t0, 3))
        return sorted(runs)[1], cids

    try:
        results = {}
        for warmup in (True, False):
          for k in (scales[:1] if warmup else scales):
            sf_dir = dirs[k]
            n = parquet_row_count(sf_dir, "embeddings")
            t0 = time.time()
            qs["stream_ivf_compact"](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            e2e_sec = round(time.time() - t0, 2)

            # pre/post serving contrast on a heavy-tombstone index
            kk = scaled_cluster_count(n)
            ns = hier_super_count(kk)
            emb = load_table(spark, sf_dir, "embeddings")
            seeds = ivf_seed_centroids(emb, kk)
            assign = shared_hier_assignment(
                spark, emb, f"{sf_dir}/embeddings|scp|{n}", kk, ns
            )
            idx = os.path.join(root, f"x{k}")
            shutil.rmtree(idx, ignore_errors=True)
            write_cell_index(assign, idx)
            tombs = emb.filter(F.col("vec_id") % 5 != 0).select(
                "vec_id"
            )  # 80% doomed: the steady state a lazy compactor drifts into
            pre_sec, cids = timed_serve(idx, emb, seeds, ns, kk, tombs)
            t0 = time.time()
            stats = compact_cells(spark, idx, tombs, cids).collect()
            compact_sec = round(time.time() - t0, 2)
            post_sec, _ = timed_serve(idx, emb, seeds, ns, kk, tombs)
            if warmup:
                continue
            row = {
                "scale": k,
                "n": n,
                "k_cells": kk,
                "e2e_sec": e2e_sec,
                "serve_pre_sec": pre_sec,
                "compact_sec": compact_sec,
                "serve_post_sec": post_sec,
                "rows_removed": int(sum(s.n_removed for s in stats)),
            }
            results[f"x{k}"] = row
            print(json.dumps(row), flush=True)
        print(json.dumps(results))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    # every arm pays its own assignment (module docstring); the session
    # memo must not amortize it across arms
    os.environ["SMVD_IVF_MEMO"] = "0"
    # strict one-pass parse (r12 adversarial review: a typo'd --scale=
    # must not silently probe the defaults)
    scales = [1, 16, 64]
    run = None
    for a in sys.argv[1:]:
        if a.startswith("--scales="):
            scales = [int(x) for x in a.split("=", 1)[1].split(",")]
        elif a == "--compact":
            run = run_compact
        elif a == "--stream-compact":
            run = run_stream_compact
        else:
            sys.exit(f"unrecognized argument {a!r}")
    if run is None:
        sys.exit(
            "usage: ivf_share_probe.py --compact|--stream-compact [--scales=...]"
        )
    run(scales)


if __name__ == "__main__":
    main()
