"""Skewed-corpus probe (wave 14): do seeded Voronoi cells blow up?

The fenced dedup family (semdedup, knn_graph_ivf) bounds its pair join
by cluster SIZE, which holds only if no cell captures a corpus-scale
fraction of the vectors.  Seeded centroids (vec_id < k) are sampled
from the data, so cells are balanced-ish on i.i.d. corpora — but a
SKEWED corpus (mass concentrated near one direction: the dominant-
template / boilerplate regime in real crawl embeddings) can make one
seeded cell quadratic again.  This probe measures exactly that:

  replicas: rep 0 = the sf0.1 fixture; rep > 0 vectors are rotated
  (the decorrelated-replica rule) and HALF of them (vec_id % 2 == 0)
  are pulled 80% of the way to a fixed attractor (the base corpus's
  vec 0) — so the grown corpus holds ~half its mass in one tight blob
  while keys/ids stay unique.

  measured per scale (1x/4x/16x), for BOTH centroid choices
  (seeded + hier assignment = the semdedup default; kmeans_fit 3
  rounds = the semdedup_trained arm):
    - the top-3 cell sizes, max/mean ratio, and the PAIR BUDGET
      sum(|c|*(|c|-1)/2) — the exact candidate count the fenced join
      must score, the quantity that decides the argument;
    - wall time of the full semdedup / semdedup_trained queries at
      1x/4x only.  The first run timed the seeded arm at x16 and it
      did not finish in 50 minutes (a single mega-cell straggler at
      ~1.3 cores of 32): that non-completion is the x16 data point,
      and the pair budget quantifies it without re-burning the hour.

Usage: python tools/skew_probe.py [--scales=1,4,16]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scaling_probe import BASE, replica_root  # noqa: E402

WORK = "/tmp/smvd_skew_probe"


def build_skewed(spark, k: int) -> str:
    from pyspark.sql import functions as F

    out = os.path.join(replica_root(WORK), f"x{k}")
    if os.path.exists(os.path.join(out, "_OK1")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    emb = spark.read.parquet(os.path.join(BASE, "embeddings.parquet"))
    n_vecs = emb.count()
    dim = len(emb.select("embedding").first()[0])
    attractor = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    att = F.array(*[F.lit(float(x)) for x in attractor])
    reps = spark.range(k).select(F.col("id").cast("int").alias("rep"))
    rot = F.when(F.col("rep") == 0, F.col("embedding")).otherwise(
        F.concat(
            F.slice(F.col("embedding"), F.col("rep") + 1, dim),
            F.slice(F.col("embedding"), F.lit(1), F.col("rep")),
        )
    )
    pulled = F.zip_with(rot, att, lambda e, a: 0.2 * e + 0.8 * a)
    skew = F.when(
        (F.col("rep") > 0) & (F.col("vec_id") % 2 == 0), pulled
    ).otherwise(rot)
    (
        emb.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * n_vecs).alias("vec_id"),
            skew.cast("array<float>").alias("embedding"),
            "label",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "embeddings.parquet"))
    )
    open(os.path.join(out, "_OK1"), "w").close()
    return out


def cell_stats(assign, col: str):
    from pyspark.sql import functions as F

    per = assign.groupBy(col).count().persist()
    sizes = per.orderBy(F.desc("count")).limit(3).collect()
    agg = per.agg(
        F.max("count").alias("mx"),
        F.avg("count").alias("mn"),
        F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pairs"),
    ).first()
    per.unpersist()
    return (
        [r["count"] for r in sizes],
        agg["mx"] / agg["mn"],
        int(agg["pairs"]),
    )


def main() -> None:
    scales = [1, 4, 16]
    for a in sys.argv[1:]:
        if a.startswith("--scales="):
            scales = [int(x) for x in a.split("=", 1)[1].split(",")]

    from pyspark.sql import functions as F

    from signal_messenger_vector_database_spark.io.sources import (
        load_table,
        parquet_row_count,
    )
    from signal_messenger_vector_database_spark.operators.ann import (
        hier_super_count,
        ivf_assign_hier,
        ivf_seed_centroids,
        scaled_cluster_count,
    )
    from signal_messenger_vector_database_spark.operators.clustering import (
        kmeans_fit,
    )
    from signal_messenger_vector_database_spark.plans.similarity import (
        _knn_graph_ivf,
    )
    from signal_messenger_vector_database_spark.plans.vectorops import (
        _SEMDEDUP_CAP,
        _semdedup,
        _semdedup_trained,
        _semdedup_uncapped,
    )
    from signal_messenger_vector_database_spark.session import get_spark

    spark = get_spark("skew-probe")
    spark.sparkContext.setLogLevel("ERROR")

    results = {}
    for k in scales:
        d = build_skewed(spark, k)
        n = parquet_row_count(d, "embeddings")
        kk = scaled_cluster_count(n)
        emb = load_table(spark, d, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        seeded = ivf_assign_hier(
            emb, ivf_seed_centroids(emb, kk), hier_super_count(kk)
        )
        top_s, ratio_s, pairs_s = cell_stats(seeded, "cid")
        # the capped fence's pair budget on the SAME assignment (wave 16:
        # the r10 default) — the (cluster, sub) key bounds it by
        # construction
        from signal_messenger_vector_database_spark.operators.ann import (
            capped_cell_split,
        )

        split = capped_cell_split(
            seeded.withColumnRenamed("cid", "cluster"), cap=_SEMDEDUP_CAP
        ).withColumn(
            "cellsub",
            F.concat_ws("#", F.col("cluster"), F.col("sub")),
        )
        top_c, ratio_c, pairs_c = cell_stats(split, "cellsub")
        trained, _ = kmeans_fit(spark, emb, k=kk, max_iter=3, tol=-1.0)
        top_t, ratio_t, pairs_t = cell_stats(trained, "cluster")

        # the r10 DEFAULTS are capped — bounded on any distribution, so
        # they get timed at EVERY scale including the skewed x16 the
        # uncapped fence could not finish (>50 min straggler, wave 14)
        t0 = time.time()
        _semdedup(spark, d).write.format("noop").mode("overwrite").save()
        t_capped = round(time.time() - t0, 2)
        t0 = time.time()
        _knn_graph_ivf(spark, d).write.format("noop").mode("overwrite").save()
        t_knn = round(time.time() - t0, 2)

        t_seed = t_train = None
        if k <= 4:  # x16 uncapped measured once: >50 min (straggler); see doc
            t0 = time.time()
            _semdedup_uncapped(spark, d).write.format("noop").mode(
                "overwrite"
            ).save()
            t_seed = round(time.time() - t0, 2)
            t0 = time.time()
            _semdedup_trained(spark, d).write.format("noop").mode(
                "overwrite"
            ).save()
            t_train = round(time.time() - t0, 2)

        results[k] = {
            "n": n,
            "k": kk,
            "seeded_top3": top_s,
            "seeded_max_over_mean": round(ratio_s, 1),
            "seeded_pair_budget": pairs_s,
            "capped_top3": top_c,
            "capped_max_over_mean": round(ratio_c, 1),
            "capped_pair_budget": pairs_c,
            "trained_top3": top_t,
            "trained_max_over_mean": round(ratio_t, 1),
            "trained_pair_budget": pairs_t,
            "semdedup_default_sec": t_capped,
            "knn_graph_default_sec": t_knn,
            "semdedup_uncapped_sec": t_seed,
            "semdedup_trained_sec": t_train,
        }
        print(f"x{k}: {results[k]}", flush=True)

    import json

    print(json.dumps(results))


if __name__ == "__main__":
    main()
