"""Iterative k-means, Spark-first (the pattern behind MLlib's impl).

Complements ``plans/vectorops.py``'s single oracle-checked assignment
step with the full training loop.  Per iteration:

1. assignment — the k centroids collapse to ONE broadcast row holding
   the whole codebook as an array of structs; each vector row computes
   its argmin in place with nested higher-order functions (``transform``
   over centroids, the ``squared_l2`` fold, ``array_min`` on a
   (distance, cluster) struct).  The vector table is scanned, never
   shuffled, and — unlike the explode-to-(vector, centroid)-pairs shape
   this replaced — no n*k intermediate rows ever exist.  That matters
   because SemDeDup-style callers scale k WITH the corpus (k = n/125):
   the pair blow-up would have been n²/125 rows per iteration at 100 TB,
   where the per-row argmin is the same FLOPs with zero shuffle;
2. update — new centroids as per-(cluster, dim) means: posexplode +
   two-key partial aggregate (one exchange of k*dim tiny rows).

State per iteration is k arrays on the driver — O(k*dim), independent
of table size, so 100 TB of vectors iterate at one scan per round.
``localCheckpoint`` is unnecessary here because each iteration's plan is
rebuilt from the (cached) input and the tiny collected centroids, not
stacked on the previous iteration's plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import squared_l2
from ..io.materialize import materialize, release


def _assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Add ``cluster`` and ``d2`` (squared L2 to that cluster).

    The codebook is collapsed to a single row (array of (c_id, centroid)
    structs, sorted for determinism) and broadcast; every vector row then
    folds over it in place.  d2 per centroid is the identical left fold
    (``squared_l2``) the old pair-join shape used, and the argmin
    tie-break — smallest d2, then smallest c_id — is replayed by
    ``array_min`` on a (d2, c_id) struct, so assignments (and the oracle
    parity of kmeans_lloyd3 / semdedup) are bit-unchanged.
    """
    cents = centroids.agg(
        F.array_sort(F.collect_list(F.struct("c_id", "centroid"))).alias("_cents")
    )

    def _score(c):
        d2 = squared_l2(F.col("embedding"), c["centroid"])
        return F.struct(d2.alias("d2"), c["c_id"].alias("c_id"))

    best = F.array_min(F.transform(F.col("_cents"), _score))
    return (
        emb.crossJoin(F.broadcast(cents))
        .select("vec_id", "embedding", best.alias("_best"))
        .select(
            "vec_id",
            F.col("_best.c_id").alias("cluster"),
            "embedding",
            F.col("_best.d2").alias("d2"),
        )
    )


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids: per-(cluster, dim) mean, re-assembled into arrays."""
    expl = assigned.select(
        "cluster", F.posexplode("embedding").alias("pos", "val")
    )
    return (
        expl.groupBy("cluster", "pos")
        .agg(F.avg("val").alias("m"))
        .groupBy(F.col("cluster").alias("c_id"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pv"))
        .select("c_id", F.col("pv.m").alias("centroid"))
    )


def kmeans_fit(
    spark: SparkSession,
    emb: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[float]]:
    """Lloyd's algorithm.  Returns (final assignment DataFrame with
    ``vec_id, cluster, d2``, inertia history).  Deterministic: initial
    centroids are the k lowest-id vectors (k-means++ would sample;
    determinism matters more here for testability)."""
    emb = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    emb = materialize(emb, "kmeans input", "cache")
    centroids = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("c_id"),
            F.col("embedding").alias("centroid"),
        )
    )
    history: list[float] = []
    assigned = None
    prev = None
    for _ in range(max_iter):
        # persist each round's assignment: the inertia action, the next
        # round's centroid update, AND the caller's downstream plan all
        # read it — without the cache every action re-runs the whole
        # accumulated Lloyd lineage (measured 10 s for 3 rounds over 2k
        # vectors at sf0.1; ~2 s with the cache)
        assigned = materialize(_assign(emb, centroids), "lloyd round", "cache")
        # tol < 0 pins the iteration count (kmeans_lloyd3, semdedup): the
        # inertia exists only for the convergence test, so skip its
        # per-round driver action entirely — the whole fixed-round DAG
        # then materializes in ONE job at the caller's first action
        if tol >= 0:
            inertia = assigned.agg(F.sum("d2")).first()[0]
            history.append(float(inertia))
        if prev is not None:  # released now: rounds would pile up
            release(prev)
        prev = assigned
        if len(history) >= 2 and abs(history[-2] - history[-1]) <= tol * max(history[-2], 1.0):
            break
        centroids = _update(assigned)
    release(emb)
    return assigned.select("vec_id", "cluster", "d2"), history
