"""Bulk vector operators over the embeddings table (E3 family).

The reference declares a VECTOR(768) column and installs pgvector but
never computes over it (SURVEY §2.7).  These queries are the *bulk* vector
analytics a 100 TB embedding store needs beyond top-k:

- ``embedding_centroids``: per-label element-wise mean.  Relational
  formulation — ``posexplode`` then a plain two-key aggregate — so the
  whole thing is one shuffle on (label, pos) with map-side partial
  aggregation; no Python, no per-group collect.  At 768 dims x millions of
  rows the explode multiplies row count but each row is 16 bytes and the
  partial aggregate collapses them before the exchange.
- ``kmeans_assign``: one k-means assignment step — distance of every
  vector to every centroid via a broadcast cross join (k rows), argmin by
  a window-free ``min_by``.  This is the building block of iterative
  clustering done Spark-first: the per-iteration state (centroids) is tiny
  and broadcast; the big side is never shuffled.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import portable_round
from ..functions.vector import squared_l2, squared_l2_sql
from ..io.materialize import materialize
from ..io.sources import load_table, local_rows
from .embeddings_index import full_corpus, incoming_split
from .recall import hit_counts
from .registry import QuerySpec


def _exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "val")
    )


def _embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _exploded(spark, sf_dir)
        .groupBy("label", "pos")
        .agg(
            portable_round(F.avg("val"), 4).alias("centroid"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


_CENTROIDS_SQL = """
SELECT label, u.pos - 1 AS pos,
       FLOOR(AVG(u.val) * 10000 + 0.5) / 10000 AS centroid,
       COUNT(*) AS n_vectors
FROM (
  SELECT label,
         unnest(list_transform(embedding,
                (x, i) -> struct_pack(pos := i, val := x))) AS u
  FROM embeddings
)
GROUP BY 1, 2
"""


def _kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # Centroids = per-label means (the result of one "update" step).
    centroids = (
        _exploded(spark, sf_dir)
        .groupBy(F.col("label").alias("c_label"), "pos")
        .agg(F.avg("val").alias("cval"))
        .groupBy("c_label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pv"))
        .select("c_label", F.col("pv.cval").alias("centroid"))
    )
    # Assignment step: squared L2 to each centroid, keep the argmin.
    d2 = squared_l2("embedding", "centroid")
    scored = (
        emb.join(F.broadcast(centroids))
        .select(
            "vec_id",
            "label",
            "c_label",
            portable_round(d2, 4).alias("d2"),
        )
    )
    return (
        scored.groupBy("vec_id", "label")
        .agg(
            F.min_by("c_label", F.struct("d2", "c_label")).alias("assigned"),
            F.min("d2").alias("best_d2"),
        )
    )


# DuckDB twin: same centroid CTE, cross join, list-fold distance, argmin
# via min_by over the (distance, label) pair for identical tie-breaks.
_KMEANS_ASSIGN_SQL = """
WITH expl AS (
  SELECT label AS c_label,
         unnest(list_transform(embedding,
                (x, i) -> struct_pack(pos := i, val := x))) AS u
  FROM embeddings
),
cent AS (
  SELECT c_label,
         list(AVG_val ORDER BY pos) AS centroid
  FROM (
    SELECT c_label, u.pos AS pos, AVG(u.val) AS AVG_val
    FROM expl GROUP BY 1, 2
  )
  GROUP BY c_label
),
scored AS (
  SELECT e.vec_id, e.label, c.c_label,
         FLOOR(list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> (e.embedding[i] - c.centroid[i]) * (e.embedding[i] - c.centroid[i])))
               * 10000 + 0.5) / 10000 AS d2
  FROM embeddings e CROSS JOIN cent c
)
SELECT vec_id, label, c_label AS assigned, d2 AS best_d2
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d2, c_label) AS rn
      FROM scored)
WHERE rn = 1
"""


def _kmeans_fit_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lloyd's loop (operators/clustering.py): deterministic init,
    iterate until inertia stabilizes, return the final assignment.
    The driver-side iteration is not one SQL string, but the OUTPUT is
    deterministic per corpus (centroid updates average raw float32
    components — exact order-free sums in doubles; see
    tools/gen_kmeans_oracle.py), so the oracle is a corpus-keyed
    snapshot (the tokenize_cl100k / bpe_train pattern), re-verified by
    every multi-scale + hostile sweep."""
    from ..operators.clustering import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _history = kmeans_fit(spark, emb, k=8, max_iter=5)
    return assigned


@functools.lru_cache(maxsize=1)
def _kmeans_fit_assign_sql() -> str:
    """Corpus-keyed snapshot oracle, built LAZILY (the QuerySpec holds
    this function, resolved at oracle_sql() access): reading the three
    snapshot TSVs at import time made a missing/corrupt fixture break
    import of the entire plans package instead of just this query
    (ADVICE r11).  lru_cache keeps the ~155 KB VALUES literal a
    one-time cost per process."""
    import os
    import sys

    from ..functions.bpe import _DATA_DIR

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
            "tools",
        ),
    )
    from gen_kmeans_oracle import KEY_SQL

    values = []
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = os.path.join(_DATA_DIR, f"kmeans_fit_{sf}.tsv")
        with open(path) as f:
            header = f.readline().strip()
            if not header.startswith("# corpus_key="):
                raise ValueError(
                    f"{path}: missing '# corpus_key=' header — regenerate "
                    "with tools/gen_kmeans_oracle.py"
                )
            key = int(header.split("=", 1)[1])
            for line in f:
                if line.strip():
                    vec_id, cluster, d2 = line.split("\t")
                    # the d2 literal must parse as a DOUBLE, not via an
                    # intermediate DECIMAL (which rounds the last ulp):
                    # VARCHAR -> DOUBLE is the exact repr round-trip
                    values.append(
                        f"({key}, {vec_id}, {cluster}, '{d2.strip()}'::DOUBLE)"
                    )
    joined = ", ".join(values)
    return (
        "SELECT CAST(vec_id AS BIGINT) AS vec_id, "
        "CAST(cluster AS BIGINT) AS cluster, CAST(d2 AS DOUBLE) AS d2 "
        f"FROM (VALUES {joined}) AS t(corpus_key, vec_id, cluster, d2) "
        f"WHERE corpus_key = ({KEY_SQL})"
    )


SPECS: dict[str, QuerySpec] = {
    "kmeans_fit_assign": QuerySpec(
        _kmeans_fit_assign,
        _kmeans_fit_assign_sql,  # lazy: snapshot TSVs read on first access
        "full iterative k-means fit (Lloyd), final assignment — corpus-keyed "
        "snapshot oracle (generated FROM this implementation, so it pins "
        "determinism and regressions, not first-time correctness; an "
        "independent numpy Lloyd replays the sf0.001 snapshot in "
        "tests/test_clustering.py)",
    ),
    "embedding_centroids": QuerySpec(
        _embedding_centroids,
        _CENTROIDS_SQL,
        "per-label element-wise centroid via posexplode + two-key agg",
    ),
    "kmeans_assign": QuerySpec(
        _kmeans_assign,
        _KMEANS_ASSIGN_SQL,
        "one k-means assignment step: broadcast centroids, min_by argmin",
    ),
}


# --- int8 embedding quantization (ANN memory scale path) -----------------
# Per-vector symmetric int8: scale = max|v|/127, q_i = floor(v_i/scale+.5).
# 4x memory vs float32 — at 100 TB the difference between an index that
# fits executor memory and one that spills.  Cosine is scale-invariant
# (per-vector scalar cancels in the ratio), so int8 top-k reuses the same
# cosine expression over the quantized arrays; recon_mse quantifies the
# precision trade.  floor(x+0.5) (NOT round()) on both engines: HALF_UP
# vs banker's/shortest-repr divergence on negative halves would break the
# value-hash otherwise (see functions/text.py::portable_round).


def _quantized(emb: DataFrame) -> DataFrame:
    v = F.col("embedding").cast("array<double>")
    raw_scale = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
    scale = F.greatest(raw_scale, F.lit(1e-12))
    q = F.transform(v, lambda x: F.floor(x / scale + 0.5).cast("int"))
    return emb.select("vec_id", v.alias("v"), scale.alias("qscale"), q.alias("q"))


def _embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qd = _quantized(emb)
    recon_err = F.aggregate(
        F.zip_with("v", "q", lambda x, qi: (x - qi * F.col("qscale")) ** 2),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) / F.size("v")
    # recon_mse materialized BEFORE the select that re-aliases "qscale" to
    # its rounded form — otherwise Spark's lateral-column-alias resolution
    # binds the recon expression to the ROUNDED scale and skews the MSE.
    qd = qd.withColumn("recon_raw", recon_err)
    # qvec serialized to a comma-joined string: driver canonicalizer
    # cannot sort array cells (r2 VERDICT issue 1)
    return qd.select(
        "vec_id",
        portable_round(F.col("qscale"), 6).alias("qscale"),
        F.array_join(
            F.transform(F.col("q"), lambda x: x.cast("string")), ","
        ).alias("qvec"),
        portable_round(F.col("recon_raw"), 10).alias("recon_mse"),
    )


_SQL_QSCALE = "greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0, 1e-12)"

_EMBEDDING_QUANTIZE_SQL = f"""
WITH qd AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {_SQL_QSCALE} AS qscale,
         list_transform(embedding::DOUBLE[], x -> CAST(floor(x / {_SQL_QSCALE} + 0.5) AS INTEGER)) AS q
  FROM embeddings
)
SELECT vec_id,
       FLOOR(qscale * 1000000 + 0.5) / 1000000 AS qscale,
       array_to_string(q, ',') AS qvec,
       FLOOR(list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(v)),
             i -> (v[i] - q[i] * qscale) ^ 2)), (acc, x) -> acc + x) / len(v) * 10000000000 + 0.5) / 10000000000 AS recon_mse
FROM qd
"""


def _topk_cosine_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the QUANTIZED vectors: integer dot
    products (SIMD-friendly at scale), identical ranking formula —
    per-vector scales cancel out of the cosine ratio."""
    from ..functions.vector import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qd = _quantized(emb).select("vec_id", F.col("q").cast("array<double>").alias("qv"))
    probe = qd.filter(F.col("vec_id") == 0).select(F.col("qv").alias("pv"))
    return (
        qd.crossJoin(F.broadcast(probe))
        .select("vec_id", portable_round(cosine_similarity("qv", "pv"), 4).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
    )


_TOPK_INT8_SQL = f"""
WITH qd AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> floor(x / {_SQL_QSCALE} + 0.5)) AS qv
  FROM embeddings
),
probe AS (SELECT qv AS pv FROM qd WHERE vec_id = 0)
SELECT vec_id,
       FLOOR(list_dot_product(qv, pv) /
             (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(pv, pv)))
             * 10000 + 0.5) / 10000 AS sim
FROM qd, probe
ORDER BY sim DESC, vec_id
LIMIT 10
"""

SPECS["embedding_quantize_int8"] = QuerySpec(
    _embedding_quantize,
    _EMBEDDING_QUANTIZE_SQL,
    "per-vector symmetric int8 quantization + reconstruction MSE",
)
SPECS["topk_cosine_int8"] = QuerySpec(
    _topk_cosine_int8,
    _TOPK_INT8_SQL,
    "cosine top-k over int8-quantized vectors (scales cancel)",
)


# --- covariance sub-block + random projection -------------------------------

_COV_DIMS = 8  # leading sub-block; full d x d follows the same one-pass shape


def _embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance matrix (leading 8x8 block) in ONE aggregate pass.

    The sufficient statistics for every covariance entry are distributive
    sums, so the whole matrix is a single map-side-combinable groupBy-less
    agg over the fact — no explode, no self-join.  At 100 TB and d=768
    the same shape holds (d*(d+1)/2 aggregates per partition, merged on
    the driver-sized single reduce row) — this is how Spark MLlib's
    RowMatrix computes Gram/covariance too."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        *[F.col("embedding").getItem(i).alias(f"e{i}") for i in range(_COV_DIMS)]
    )
    aggs = [
        F.covar_pop(f"e{i}", f"e{j}").alias(f"c_{i}_{j}")
        for i in range(_COV_DIMS)
        for j in range(i, _COV_DIMS)
    ]
    wide = dims.agg(*aggs)
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.lit(j).alias("j"),
                portable_round(F.col(f"c_{i}_{j}"), 4).alias("cov"),
            )
            for i in range(_COV_DIMS)
            for j in range(i, _COV_DIMS)
        ]
    )
    return wide.select(F.inline(cells))


def _embedding_covariance_sql() -> str:
    aggs = ",\n       ".join(
        f"covar_pop(embedding[{i + 1}], embedding[{j + 1}]) AS c_{i}_{j}"
        for i in range(_COV_DIMS)
        for j in range(i, _COV_DIMS)
    )
    cells = ",\n    ".join(
        f"struct_pack(i := {i}, j := {j}, "
        f"cov := FLOOR(c_{i}_{j} * 10000 + 0.5) / 10000)"
        for i in range(_COV_DIMS)
        for j in range(i, _COV_DIMS)
    )
    return f"""
WITH wide AS (
  SELECT {aggs}
  FROM embeddings
)
SELECT u.i AS i, u.j AS j, u.cov AS cov
FROM (SELECT unnest([
    {cells}
  ]) AS u FROM wide)
"""


# Rademacher (+/-1) projection matrix, pinned by seed and baked as literal
# arithmetic into BOTH engines (the rag_retrieve pattern): sparse sign
# projections achieve the Johnson-Lindenstrauss bound without float
# literals, and +/-1 entries keep the whole projection inside whole-stage
# codegen as plain add/subtract chains.
# norm-preserving JL scale is sqrt(k) for a k x d +/-1 matrix; the literal
# double repr round-trips exactly, so both engines divide by the same bits
_RP_OUT, _RP_IN = 8, 64
_RP_SCALE = _RP_OUT**0.5

def _rp_signs() -> list[list[int]]:
    import random

    rng = random.Random(20240813)
    return [
        [1 if rng.random() < 0.5 else -1 for _ in range(_RP_IN)]
        for _ in range(_RP_OUT)
    ]


def _random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    signs = _rp_signs()
    # accumulate in float64 on both engines (the stored column is float32;
    # mixed-precision folds diverge at repr level)
    elem = lambda i: F.col("embedding").getItem(i).cast("double")  # noqa: E731
    cols = []
    for j in range(_RP_OUT):
        # left-associated +/- chain: identical double sequence both engines
        acc = elem(0) * signs[j][0]
        for i in range(1, _RP_IN):
            term = elem(i)
            acc = acc + term if signs[j][i] == 1 else acc - term
        cols.append(portable_round(acc / _RP_SCALE, 4).alias(f"p{j}"))
    return emb.select("vec_id", *cols)


def _random_projection_sql() -> str:
    signs = _rp_signs()
    outs = []
    for j in range(_RP_OUT):
        chain = f"e[1] * {signs[j][0]}"
        for i in range(1, _RP_IN):
            op = "+" if signs[j][i] == 1 else "-"
            chain += f" {op} e[{i + 1}]"
        outs.append(
            f"FLOOR(({chain}) / {_RP_SCALE} * 10000 + 0.5) / 10000 AS p{j}"
        )
    sel = ",\n       ".join(outs)
    return (
        "WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)\n"
        f"SELECT vec_id,\n       {sel}\nFROM d"
    )


SPECS["embedding_covariance"] = QuerySpec(
    _embedding_covariance,
    _embedding_covariance_sql(),
    "one-pass covariance sub-block from distributive aggregates",
)
SPECS["random_projection"] = QuerySpec(
    _random_projection,
    _random_projection_sql(),
    "seeded Rademacher 64->8 projection as codegen-friendly literal +/- chains",
)


def _kmeans_lloyd3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three full Lloyd iterations with early-stop disabled — the
    fixed-iteration twin of ``kmeans_fit_assign`` that a SQL oracle CAN
    replay (the production query keeps its convergence early-stop and
    stays rows-only; this one pins the iteration count so DuckDB unrolls
    the same 3 assign/update cycles as chained CTEs).  Embeddings are
    cast to double up front so both engines do identical float64
    arithmetic from iteration one."""
    from ..operators.clustering import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    assigned, _ = kmeans_fit(spark, emb, k=8, max_iter=3, tol=-1.0)
    return assigned.select(
        "vec_id", "cluster", portable_round(F.col("d2"), 4).alias("d2")
    )


def _kmeans_lloyd3_with(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """The WITH-clause body (``d``, ``c0``, ``a1``..``a{iters}``) shared by
    the kmeans_lloyd3 oracle and downstream consumers (semdedup) — final
    assignment table is ``a{iters}`` (vec_id, e, cluster, d2)."""
    d2 = (
        "list_sum(list_transform(range(1, {n}), "
        "i -> (d.e[i] - c.cv[i]) * (d.e[i] - c.cv[i])))"
    ).format(n=dim + 1)
    assign = """
a{n} AS (
  SELECT vec_id, e, c_id AS cluster, d2 FROM (
    SELECT vec_id, e, c_id, d2,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn
    FROM (
      SELECT d.vec_id, d.e, c.c_id, {d2} AS d2
      FROM d CROSS JOIN c{prev} c
    )
  ) WHERE rn = 1
)"""
    update = """
c{n} AS (
  SELECT c_id, list(m ORDER BY pos) AS cv FROM (
    SELECT cluster AS c_id, u.pos AS pos, AVG(u.val) AS m
    FROM (
      SELECT cluster,
             unnest(list_transform(e, (x, i) -> struct_pack(pos := i, val := x))) AS u
      FROM a{prev}
    )
    GROUP BY 1, 2
  )
  GROUP BY c_id
)"""
    parts = [
        f"WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),",
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c_id, e AS cv
  FROM d ORDER BY vec_id LIMIT {k}
)""",
    ]
    for it in range(1, iters + 1):
        parts.append(assign.format(n=it, prev=it - 1, d2=d2))
        if it < iters:
            parts.append(update.format(n=it, prev=it))
    return parts[0] + ",".join(parts[1:])


def _kmeans_lloyd3_sql(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    return (
        _kmeans_lloyd3_with(k, iters, dim)
        + f"""
SELECT vec_id, cluster, FLOOR(d2 * 10000 + 0.5) / 10000 AS d2
FROM a{iters}
"""
    )


SPECS["kmeans_lloyd3"] = QuerySpec(
    _kmeans_lloyd3,
    _kmeans_lloyd3_sql(),
    "3 fixed Lloyd iterations, oracle-unrolled as chained SQL CTEs",
)


# --- product quantization (PQ) with literal codebooks -----------------------
# Completes the ANN ladder (brute -> LSH -> IVF -> PQ): split 64 dims into
# 8 subspaces of 8; encode each subvector as the argmin over a 16-entry
# codebook; score with asymmetric distance (ADC) — sum of per-subspace
# query-to-codeword distances looked up by code.  Codebooks here are
# seeded literals (data-independent) so the ENTIRE pipeline, encode and
# ADC ranking, replays exactly in the oracle — the data-trained variant
# (pq_encode_trained below) swaps in per-subspace Lloyd-trained centroids
# with the identical plan shape.  8 codes x 4 bits = 64x compression vs
# float32.

_PQ_M, _PQ_K, _PQ_D = 8, 16, 8  # subspaces, codewords each, dims per subspace


def _pq_codebooks() -> list[list[list[float]]]:
    import random

    rng = random.Random(4242)
    # codewords in [-0.25, 0.25]^8 — the scale of unit-norm 64-dim data
    return [
        [[round(rng.uniform(-0.25, 0.25), 3) for _ in range(_PQ_D)] for _ in range(_PQ_K)]
        for _ in range(_PQ_M)
    ]


def _pq_spark_dist_array(sub_j: int, codebook: list[list[float]]) -> str:
    """16-entry distance array for subspace j as ONE ``transform`` over a
    literal 16x8 codebook array: the squared-L2 lambda body is ~8 terms,
    so no generated method comes near janino's 64 KB limit (the previous
    fully-inlined form emitted 128 squared-diff terms per column and blew
    the codegen budget, forcing interpreted eval on every batch).  The
    arithmetic is the SAME left-associated double chain per codeword, so
    values are bit-identical to the inlined form and to the DuckDB twin.
    Strings (one parser call per column) instead of Column-object algebra:
    building the ~3k-node tree through py4j costs ~3 ms per call."""
    base = sub_j * _PQ_D
    cb = "array(" + ", ".join(
        "array(" + ", ".join(f"CAST({c} AS DOUBLE)" for c in cw) + ")"
        for cw in codebook
    ) + ")"
    body = squared_l2_sql(
        [f"CAST(embedding[{base + i}] AS DOUBLE)" for i in range(_PQ_D)],
        [f"cw[{i}]" for i in range(_PQ_D)],
    )
    return f"transform({cb}, cw -> {body})"


def _pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    books = _pq_codebooks()
    # materialize each 16-entry distance array ONCE, then argmin off the
    # column — inlining the array into array_position(arr, array_min(arr))
    # would duplicate the arithmetic tree twice per subspace
    dist_exprs = [
        f"{_pq_spark_dist_array(j, books[j])} AS d{j}" for j in range(_PQ_M)
    ]
    staged = emb.selectExpr("vec_id", *dist_exprs)
    # argmin = first index attaining the min (ties: lowest code, both engines)
    return staged.selectExpr(
        "vec_id",
        *[
            f"CAST(array_position(d{j}, array_min(d{j})) - 1 AS INT) AS c{j}"
            for j in range(_PQ_M)
        ],
    )


def _pq_sql_subdist(sub_j: int, code: list[float], vec: str = "e") -> str:
    base = sub_j * _PQ_D
    terms = [
        f"({vec}[{base + i + 1}] - {code[i]}) * ({vec}[{base + i + 1}] - {code[i]})"
        for i in range(_PQ_D)
    ]
    return "(" + " + ".join(terms) + ")"


def _pq_encode_sql() -> str:
    books = _pq_codebooks()
    cols = []
    for j in range(_PQ_M):
        dl = "[" + ", ".join(_pq_sql_subdist(j, books[j][k]) for k in range(_PQ_K)) + "]"
        cols.append(
            f"CAST(list_position({dl}, list_min({dl})) - 1 AS INTEGER) AS c{j}"
        )
    sel = ",\n       ".join(cols)
    return (
        "WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)\n"
        f"SELECT vec_id,\n       {sel}\nFROM d"
    )


_PQ_QUESTION = "Which archived conversations mention the delivery receipt?"


def _pq_query_vec() -> list[float]:
    """Deterministic unit-norm query vector — the rag_retrieve pattern
    (plans/pipeline.py): derived from a fixed question string, so it is
    data-independent and both engines can receive it as literals."""
    from ..operators.embed import HashEmbedder

    return [float(x) for x in HashEmbedder(64).embed_batch([_PQ_QUESTION])[0]]


def _pq_lut() -> list[list[float]]:
    """The 8x16 ADC lookup table, computed ONCE driver-side and quantized
    to the repo-standard 1e-4 grain.  Both the Spark expression and the
    DuckDB oracle receive these exact literals — neither engine recomputes
    the LUT from an in-database query vector, so there is no cross-engine
    floating-point seam left to land on a rounding boundary (the r5/r6
    driver hash-FAIL mode: 1-ulp differences in the 8-term subdistance
    sums flipping a FLOOR)."""
    import math

    q = _pq_query_vec()
    books = _pq_codebooks()
    luts = []
    for j in range(_PQ_M):
        base = j * _PQ_D
        row = []
        for k in range(_PQ_K):
            acc = 0.0
            for i in range(_PQ_D):
                t = q[base + i] - books[j][k][i]
                acc += t * t
            row.append(math.floor(acc * 10000 + 0.5) / 10000)
        luts.append(row)
    return luts


def _adc_spark_expr() -> str:
    """Spark-side ADC sum over the shared quantized LUT literals —
    defined ONCE for both topk_pq_adc and topk_ivf_pq so the
    expressions cannot drift (the cross-engine bit-identity of the
    shared-literal rule depends on every consumer using the same
    strings)."""
    lut = _pq_lut()
    return " + ".join(
        "array(" + ", ".join(repr(v) for v in lut[j]) + f")[c{j}]"  # 0-based
        for j in range(_PQ_M)
    )


def _adc_sql_expr(prefix: str = "codes.") -> str:
    """DuckDB twin of :func:`_adc_spark_expr` (1-based subscripts)."""
    lut = _pq_lut()
    return " + ".join(
        "[" + ", ".join(repr(v) for v in lut[j]) + f"][{prefix}c{j} + 1]"
        for j in range(_PQ_M)
    )


def _pq_adc_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC ranking: a fixed query vector scores each encoded vector as the
    SUM of per-subspace lookup distances, ordered by (distance, vec_id);
    callers cut it at their own k.  The 8x16 LUT is computed driver-side
    from the query vector + codebooks, quantized to 1e-4, and inlined as
    literals (identical literals go into the oracle SQL, see
    ``_pq_lut``).  The scan reads only the 8 int codes — this is why PQ
    wins at 100 TB: the hot loop touches 8 bytes/vector, not 256, and the
    LUT is a k*m-value broadcast literal."""
    codes = _pq_encode(spark, sf_dir)
    # left-associated sum of 8 shared literals -> bit-identical in both
    # engines by IEEE-754 determinism; the trailing FLOOR is cosmetic.
    # The outer CAST(... AS DOUBLE) is load-bearing for the driver hash:
    # the quantized LUT literals parse as DECIMAL in Spark SQL, so the
    # uncast expression emits decimal(21,6) rendering '1.293600' while
    # DuckDB renders DOUBLE '1.2936' — identical values, different
    # canonical strings (the r7 red-cell root cause).  Both engines cast
    # the exact decimal result to DOUBLE, which rounds to the identical
    # nearest double.
    adc = _adc_spark_expr()
    return codes.selectExpr(
        "vec_id",
        f"CAST(FLOOR(({adc}) * 10000 + 0.5) / 10000 AS DOUBLE) AS adc_dist",
    ).orderBy("adc_dist", "vec_id")


def _pq_adc_top_sql(k: int) -> str:
    """DuckDB twin of ``_pq_adc_ranked(...).limit(k)``.  The oracle
    consumes the SAME quantized LUT literals the Spark expression does;
    only the codes are computed in-database (and pq_encode is
    independently oracle-proven green)."""
    enc = _pq_encode_sql()
    adc = _adc_sql_expr()
    return f"""
WITH codes AS ({enc})
SELECT codes.vec_id, CAST(FLOOR(({adc}) * 10000 + 0.5) / 10000 AS DOUBLE) AS adc_dist
FROM codes
ORDER BY adc_dist, vec_id
LIMIT {k}
"""


def _topk_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 over the 8-byte codes."""
    return _pq_adc_ranked(spark, sf_dir).limit(10)


SPECS["pq_encode"] = QuerySpec(
    _pq_encode,
    _pq_encode_sql(),
    "product-quantization encode: 8x 4-bit codes via literal codebooks (64x compression)",
)
SPECS["topk_pq_adc"] = QuerySpec(
    _topk_pq_adc,
    _pq_adc_top_sql(10),
    "PQ asymmetric-distance top-k over 8-byte codes (ANN memory scale path)",
)


# --- SemDeDup: semantic dedup via within-cluster cosine -------------------
# The SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): cluster the
# embedding space, then compare pairs ONLY within a cluster and drop all
# but one representative of each near-duplicate neighborhood.  This is the
# 100 TB shape for semantic dedup: k-means assignment is one broadcast
# cross join (k tiny centroids), and the quadratic pair join is fenced
# inside clusters of ~n/k vectors — never across the corpus.  Keep rule:
# a vector is dropped iff some LOWER-id vector in its cluster sits within
# the cosine threshold (deterministic, order-free, both engines replay it).

_SEMDEDUP_THRESHOLD = 0.35  # aligned with embedding_neardup's corpus scale

# The capped fence (wave-14 skew escape, the r10 DEFAULT).  SCALING.md
# wave 14 measured a mass blob (half the corpus near one point)
# defeating every GEOMETRIC remedy: Lloyd-trained centroids leave the
# blob in one cell (max cell ~47% of corpus, 113M fenced pairs,
# >50 min single-task straggler), and a within-cell seeded
# sub-quantizer re-collapses (nearest-by-cosine always prefers the blob
# center: 3,141-member cell -> 2,959-member sub-cell, measured).  The
# escape is capped_cell_split (operators/ann.py): HASH-balanced
# sub-cells for any cell over the cap — bounded by construction, zero
# cosines.  Keep-quality trade (documented, LSH-style): near-dup pairs
# crossing sub-cells are not candidates; where the cap binds (blob
# cells) members are mutual near-dups, so each sub-cell still drops
# all-but-one and only the ~k_sub representatives survive.  Cap pinned
# at 64 so the split arm is FIXTURE-LIVE at all three scales (cells
# run 48-176; production rule: cap ~ 4x the 125-target).  Wave 14 also
# measured the capped arm at PARITY on i.i.d. replicas, which is why
# the cap costs nothing when skew is absent and is safe as the default.
_SEMDEDUP_CAP = 64


def _semdedup_fenced(
    spark: SparkSession, sf_dir: str, cap: int | None, expose_sub: bool
) -> DataFrame:
    """ONE SemDeDup builder behind every fenced variant (the r8
    shared-definition rule): seeded centroids + the shared TWO-LEVEL
    coarse assignment, optionally split by ``capped_cell_split``, then
    the cosine pair join fenced on the (cluster[, sub]) key.

    Cluster count scales with the corpus so cluster SIZE stays bounded
    (~125): the pair join is quadratic in cluster size, so a fixed k
    would quietly re-grow the all-pairs blow-up at 100 TB.  Under that
    scaled-k rule the ASSIGNMENT becomes the next quadratic — 3 Lloyd
    rounds at k ~ n/125 are 3*n*k = n^2/42 cosines — so the default
    path drops trained centroids entirely: seeded Voronoi cells
    (vec_id < k) + ivf_assign_hier (n*(1+nprobe)*sqrt(k)), the same
    assignment every scaled-k consumer shares, oracle-replayed via the
    shared CTE chain (plans/ivf_sql.py).

    ``cap`` bounds cell size BY CONSTRUCTION (capped_cell_split, the
    wave-14 skew escape) and is the DEFAULT as of r10: on i.i.d.
    corpora the split never triggers beyond fixture liveness and the
    capped arm measured at parity (wave 14), while on blob-skewed
    corpora it is the difference between 592k pairs / seconds and
    115.4M pairs / a >50-minute straggler.  ``cap=None`` keeps the
    uncapped fence as the measured baseline (``semdedup_uncapped``)."""
    from ..functions.vector import dot_product, l2_norm
    from ..operators.ann import capped_cell_split

    corpus = full_corpus(spark, sf_dir)
    # the pair math runs in double; the assignment is the corpus's one
    # shared family, keyed on the raw scan
    emb = corpus.emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    assigned = corpus.assign.withColumnRenamed("cid", "cluster")
    if cap is not None:
        # capped_cell_split consumes the assignment TWICE (the cell-size
        # aggregate and the tagged join) — cut the lineage so the
        # n*(1+nprobe)*sqrt(k) assignment runs once, not per branch
        assigned = capped_cell_split(
            materialize(assigned, "fenced assignment", "lazy"), cap=cap
        )
    fence_cols = ["cluster"] + (["sub"] if cap is not None else [])
    # Lineage cut + per-vector norms computed ONCE (n fold passes, not
    # 2*pairs): the assignment feeds three plan branches (both pair-join
    # sides and the final keep projection) — without the checkpoint each
    # branch re-runs the assignment lineage, and without the precomputed
    # norms the higher-order cosine folds run three times per PAIR.
    vecs = (
        assigned.join(emb, "vec_id")
        .select(
            "vec_id", *fence_cols, "embedding", l2_norm("embedding").alias("nrm")
        )
        .transform(materialize, "fenced vectors", "lazy")
    )
    a = vecs.select(
        F.col("vec_id").alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in fence_cols],
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = vecs.select(
        F.col("vec_id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in fence_cols],
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    sim = dot_product("va", "vb") / (F.col("na") * F.col("nb"))
    fence = F.col("id_a") < F.col("id_b")
    for c in fence_cols:
        fence = (F.col(f"{c}_a") == F.col(f"{c}_b")) & fence
    dropped = (
        a.join(b, fence)
        .filter(F.round(sim, 4) >= _SEMDEDUP_THRESHOLD)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    out_cols = [
        "vec_id",
        F.col("cluster").cast("long").alias("cluster"),
    ]
    if expose_sub:
        out_cols.append(F.col("sub").cast("int").alias("sub"))
    return vecs.join(dropped.withColumn("_drop", F.lit(1)), "vec_id", "left").select(
        *out_cols,
        F.col("_drop").isNull().alias("keep"),
    )


def _semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup, production default (r10): capped (cluster, sub) fence —
    candidate volume bounded on ANY distribution.  See _semdedup_fenced."""
    return _semdedup_fenced(spark, sf_dir, cap=_SEMDEDUP_CAP, expose_sub=False)


def _semdedup_uncapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r9-era uncapped fence, kept as the measured baseline: exact
    within-cell candidates, but a blob-skewed corpus re-grows a
    single-cell quadratic (wave 14: 115.4M pairs, >3,000 s at skewed
    x16 where the capped default is 592k pairs / 6.3 s)."""
    return _semdedup_fenced(spark, sf_dir, cap=None, expose_sub=False)


def _semdedup_sql(k: int = 8, iters: int = 3) -> str:
    cos = _SQL_COS_E.format(a="a.e", b="b.e")
    return (
        _kmeans_lloyd3_with(k, iters)
        + f""",
assign AS (SELECT vec_id, e, cluster FROM a{iters}),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE ROUND({cos}, 4) >= {_SEMDEDUP_THRESHOLD}
)
SELECT s.vec_id, CAST(s.cluster AS BIGINT) AS cluster,
       (d.vec_id IS NULL) AS keep
FROM assign s LEFT JOIN dropped d ON s.vec_id = d.vec_id
"""
    )


_SQL_COS_E = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _semdedup_sql_multiscale(iters: int = 3) -> str:
    """Corpus-keyed oracle (the cl100k-snapshot pattern): the Spark side
    derives k = max(8, n/125), so a single pinned-k SQL twin is only
    valid at corpora where that resolves to its literal.  Embed one full
    replay per FIXTURE k (8 for n<=1124, 16 for sf0.1's n=2000), each
    branch guarded by the same formula over the corpus it reads — the
    oracle now follows the derived knob across every fixture scale
    instead of documenting the divergence away."""
    branches = []
    for k in (8, 16):
        branches.append(
            f"SELECT * FROM ({_semdedup_sql(k, iters)}) b{k} "
            f"WHERE GREATEST(8, (SELECT COUNT(*) FROM embeddings) // 125) = {k}"
        )
    return " UNION ALL ".join(branches)


def _semdedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kmeans-trained-centroid arm of SemDeDup: tighter, balanced
    cells (3 Lloyd rounds) at 3*n*k assignment cost — the quality
    option when seeded Voronoi cell-size variance matters (skewed
    corpora; wave-13 probe).  The default ``semdedup`` uses the
    seeded + two-level assignment every scaled-k consumer shares."""
    from ..functions.vector import dot_product, l2_norm
    from ..io.sources import parquet_row_count
    from ..operators.ann import scaled_cluster_count
    from ..operators.clustering import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n = parquet_row_count(sf_dir, "embeddings")
    assigned, _ = kmeans_fit(
        spark, emb, k=scaled_cluster_count(n), max_iter=3, tol=-1.0
    )
    vecs = (
        assigned.join(emb, "vec_id")
        .select(
            "vec_id", "cluster", "embedding", l2_norm("embedding").alias("nrm")
        )
        .transform(materialize, "cluster vectors", "lazy")
    )
    a = vecs.select(
        F.col("vec_id").alias("id_a"),
        F.col("cluster").alias("cl_a"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = vecs.select(
        F.col("vec_id").alias("id_b"),
        F.col("cluster").alias("cl_b"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    sim = dot_product("va", "vb") / (F.col("na") * F.col("nb"))
    dropped = (
        a.join(b, (F.col("cl_a") == F.col("cl_b")) & (F.col("id_a") < F.col("id_b")))
        .filter(F.round(sim, 4) >= _SEMDEDUP_THRESHOLD)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return vecs.join(dropped.withColumn("_drop", F.lit(1)), "vec_id", "left").select(
        "vec_id",
        F.col("cluster").cast("long").alias("cluster"),
        F.col("_drop").isNull().alias("keep"),
    )


def _semdedup_fenced_sql(cap: int | None, expose_sub: bool) -> str:
    """Oracle twin of ``_semdedup_fenced``: the shared two-level
    assignment chain, optionally the SHARED hash-split CTEs
    (plans/ivf_sql.py::capped_split_ctes — the SQL twin of
    capped_cell_split), then the fenced pair join.  k and ns derive
    from COUNT(*) inside the chain, so — unlike the trained arm, whose
    Lloyd unrolling needs literal k — ONE SQL body follows the corpus
    across every fixture scale (no multiscale branch union)."""
    from .ivf_sql import HIER_ASSIGN_CTES, capped_split_ctes

    cos = _SQL_COS_E.format(a="a.embedding::DOUBLE[]", b="b.embedding::DOUBLE[]")
    if cap is None:
        assign = """assign AS (
  SELECT e.vec_id, e.embedding, h.cid_hier AS cluster
  FROM embeddings e JOIN hier h USING (vec_id)
)"""
        fence = "a.cluster = b.cluster"
    else:
        assign = f"{capped_split_ctes(cap)},\nassign AS (SELECT * FROM sv2)"
        fence = "a.cluster = b.cluster AND a.sub = b.sub"
    sub_out = "s.sub, " if expose_sub else ""
    return f"""
WITH {HIER_ASSIGN_CTES},
{assign},
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b
    ON {fence} AND a.vec_id < b.vec_id
  WHERE ROUND({cos}, 4) >= {_SEMDEDUP_THRESHOLD}
)
SELECT s.vec_id, CAST(s.cluster AS BIGINT) AS cluster, {sub_out}
       (d.vec_id IS NULL) AS keep
FROM assign s LEFT JOIN dropped d ON s.vec_id = d.vec_id
"""


SPECS["semdedup"] = QuerySpec(
    _semdedup,
    _semdedup_fenced_sql(cap=_SEMDEDUP_CAP, expose_sub=False),
    "SemDeDup: capped (cluster, sub)-fenced cosine near-dup drop — bounded candidates on any distribution (r10 default)",
)

SPECS["semdedup_uncapped"] = QuerySpec(
    _semdedup_uncapped,
    _semdedup_fenced_sql(cap=None, expose_sub=False),
    "SemDeDup, uncapped-fence baseline (r9 default): exact within-cell candidates, blob-skew straggler risk",
)

SPECS["semdedup_trained"] = QuerySpec(
    _semdedup_trained,
    _semdedup_sql_multiscale(),
    "SemDeDup, kmeans-trained-centroid arm: balanced cells via 3 Lloyd rounds (quality option)",
)


# --- semdedup_capped: the default's diagnostic twin -------------------------
# Same plan as the default (ONE builder), with the sub-cell id EXPOSED
# so the split geometry itself is oracle-checked per vector.


def _semdedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _semdedup_fenced(
        spark, sf_dir, cap=_SEMDEDUP_CAP, expose_sub=True
    )


SPECS["semdedup_capped"] = QuerySpec(
    _semdedup_capped,
    _semdedup_fenced_sql(cap=_SEMDEDUP_CAP, expose_sub=True),
    "SemDeDup capped fence with the sub-cell id exposed (split-geometry diagnostic twin of the default)",
)


# --- trained product quantization (1 Lloyd round, all subspaces in ONE plan)
# Realizes the claim in the literal-codebook PQ docstring: the data-trained
# variant has the identical plan shape.  All 8 subspace k-means problems
# train SIMULTANEOUSLY as one relational plan — subvectors exploded to
# (vec_id, sub_j, sv) rows, the 128 seeded codewords as one broadcast
# dimension, assignment via min_by partial aggregation, centroid update as
# a (sub_j, code, pos) three-key aggregate, re-assignment against the
# trained codebooks, codes pivoted back to 8 scalar columns.  At 100 TB
# the training state is 8*16 tiny arrays; the vector table is scanned,
# never shuffled for a join.  The oracle replays the same single round
# (argmin ties by lowest code, AVG update) in chained CTEs.


def _pq_sub_rows(emb: DataFrame) -> DataFrame:
    sub = F.expr(
        f"transform(sequence(0, {_PQ_M - 1}), "
        f"j -> slice(embedding, j * {_PQ_D} + 1, {_PQ_D}))"
    )
    return emb.select("vec_id", F.posexplode(sub).alias("sub_j", "sv"))


def _pq_trained_parts(spark: SparkSession, sf_dir: str):
    """(final assignment a2, trained codebooks) — ONE build shared by
    pq_encode_trained and pq_recall_trained so the training recipe
    cannot drift between the encoder and its recall measurement."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    subs = materialize(_pq_sub_rows(emb), "pq subvectors", "lazy")
    books = _pq_codebooks()
    cb0 = local_rows(
        spark,
        [(j, k, books[j][k]) for j in range(_PQ_M) for k in range(_PQ_K)],
        "sub_j int, code int, cw array<double>",
    )

    def assign(cb: DataFrame) -> DataFrame:
        scored = subs.join(F.broadcast(cb), "sub_j").select(
            "vec_id", "sub_j", "sv", "code", squared_l2("sv", "cw").alias("d2")
        )
        return scored.groupBy("vec_id", "sub_j").agg(
            F.min_by(F.struct("code", "sv"), F.struct("d2", "code")).alias("_w")
        ).select(
            "vec_id", "sub_j", F.col("_w.code").alias("code"), F.col("_w.sv").alias("sv")
        )

    a1 = assign(cb0)
    trained = (
        a1.select("sub_j", "code", F.posexplode("sv").alias("pos", "val"))
        .groupBy("sub_j", "code", "pos")
        .agg(F.avg("val").alias("m"))
        .groupBy("sub_j", "code")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pv"))
        .select("sub_j", "code", F.col("pv.m").alias("cw"))
    )
    return assign(trained), trained


def _pq_encode_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    a2, _ = _pq_trained_parts(spark, sf_dir)
    return a2.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("sub_j") == j, F.col("code")))
            .cast("int")
            .alias(f"c{j}")
            for j in range(_PQ_M)
        ]
    )


def _pq_encode_trained_sql() -> str:
    books = _pq_codebooks()
    cb_vals = ", ".join(
        f"({j}, {k}, [" + ", ".join(f"CAST({c} AS DOUBLE)" for c in books[j][k]) + "])"
        for j in range(_PQ_M)
        for k in range(_PQ_K)
    )
    d2 = (
        "list_sum(list_transform(range(1, {n}), "
        "i -> (s.sv[i] - c.cw[i]) * (s.sv[i] - c.cw[i])))"
    ).format(n=_PQ_D + 1)
    assign = """
{out} AS (
  SELECT vec_id, sub_j, sv, code FROM (
    SELECT s.vec_id, s.sub_j, s.sv, c.code, {d2} AS d2,
           row_number() OVER (PARTITION BY s.vec_id, s.sub_j ORDER BY {d2}, c.code) AS rn
    FROM subs s JOIN {cb} c ON s.sub_j = c.sub_j
  ) WHERE rn = 1
)"""
    cols = ",\n       ".join(
        f"CAST(MAX(CASE WHEN sub_j = {j} THEN code END) AS INTEGER) AS c{j}"
        for j in range(_PQ_M)
    )
    return f"""
WITH {_pq_trained_cte_body()}
SELECT vec_id,
       {cols}
FROM a2
GROUP BY vec_id
"""


def _pq_trained_cte_body() -> str:
    """The training CTE chain (subs -> cb0 -> a1 -> trained -> a2),
    shared verbatim by the pq_encode_trained and pq_recall_trained
    oracles."""
    books = _pq_codebooks()
    cb_vals = ", ".join(
        f"({j}, {k}, [" + ", ".join(f"CAST({c} AS DOUBLE)" for c in books[j][k]) + "])"
        for j in range(_PQ_M)
        for k in range(_PQ_K)
    )
    d2 = (
        "list_sum(list_transform(range(1, {n}), "
        "i -> (s.sv[i] - c.cw[i]) * (s.sv[i] - c.cw[i])))"
    ).format(n=_PQ_D + 1)
    assign = """
{out} AS (
  SELECT vec_id, sub_j, sv, code FROM (
    SELECT s.vec_id, s.sub_j, s.sv, c.code, {d2} AS d2,
           row_number() OVER (PARTITION BY s.vec_id, s.sub_j ORDER BY {d2}, c.code) AS rn
    FROM subs s JOIN {cb} c ON s.sub_j = c.sub_j
  ) WHERE rn = 1
)"""
    return f"""d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
subs AS (
  SELECT vec_id, j AS sub_j, e[j * {_PQ_D} + 1 : j * {_PQ_D} + {_PQ_D}] AS sv
  FROM d, generate_series(0, {_PQ_M - 1}) g(j)
),
cb0(sub_j, code, cw) AS (VALUES {cb_vals}),
{assign.format(out="a1", cb="cb0", d2=d2)},
trained AS (
  SELECT sub_j, code, list(m ORDER BY pos) AS cw FROM (
    SELECT sub_j, code, u.pos AS pos, AVG(u.val) AS m
    FROM (
      SELECT sub_j, code,
             unnest(list_transform(sv, (x, i) -> struct_pack(pos := i, val := x))) AS u
      FROM a1
    )
    GROUP BY 1, 2, 3
  )
  GROUP BY sub_j, code
),
{assign.format(out="a2", cb="trained", d2=d2)}"""


SPECS["pq_encode_trained"] = QuerySpec(
    _pq_encode_trained,
    _pq_encode_trained_sql(),
    "PQ with data-trained codebooks: one Lloyd round over all 8 subspaces in a single relational plan",
)


# --- IVF-PQ: coarse cluster pruning + ADC scoring over 8-byte codes ------
# The capstone of the ANN ladder — the FAISS IVF-PQ shape, which is what
# actually serves billion-vector search: an IVF coarse quantizer prunes
# the candidate set to the probed cluster(s), and within it vectors are
# scored by PQ asymmetric distance, so the hot loop reads 8 BYTES per
# candidate (the codes) instead of 256 bytes of floats, against a
# broadcast literal lookup table.  Composition of two independently
# oracle-proven pieces: the ann_ivf coarse assignment
# (plans/similarity.py — data-dependent, replayed order-identically per
# engine) and the topk_pq_adc literal LUT (driver-computed, 1e-4
# quantized, the SAME literals in both engines — no cross-engine FP
# seam).  At 100 TB: codes table is ~64x smaller than the vectors,
# assignment is bucketable by cid, and a probe touches |cluster| rows.


def _topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assign = ivf_assign(emb, centroids)
    qcid = assign.filter(F.col("vec_id") == 0).select(F.col("cid").alias("qcid"))
    codes = _pq_encode(spark, sf_dir)
    adc = _adc_spark_expr()
    return (
        codes.join(assign, "vec_id")
        .join(F.broadcast(qcid), F.col("cid") == F.col("qcid"))
        # CAST AS DOUBLE: same rendering-parity requirement as
        # _topk_pq_adc (decimal(21,6) vs DOUBLE, the r7 red cell).
        .selectExpr(
            "vec_id",
            f"CAST(FLOOR(({adc}) * 10000 + 0.5) / 10000 AS DOUBLE) AS adc_dist",
        )
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


def _topk_ivf_pq_sql() -> str:
    from .similarity import _SQL_COS

    cos_ec = _SQL_COS.format(a="e.embedding", b="c.cv")
    enc = _pq_encode_sql()
    adc = _adc_sql_expr()
    return f"""
WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
sims AS (
  SELECT e.vec_id, c.cid, {cos_ec} AS csim FROM embeddings e, c
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rk
    FROM sims
  ) WHERE rk = 1
),
qc AS (SELECT cid FROM assign WHERE vec_id = 0),
codes AS ({enc})
SELECT codes.vec_id, CAST(FLOOR(({adc}) * 10000 + 0.5) / 10000 AS DOUBLE) AS adc_dist
FROM codes JOIN assign s ON codes.vec_id = s.vec_id JOIN qc ON s.cid = qc.cid
ORDER BY adc_dist, codes.vec_id
LIMIT 10
"""


SPECS["topk_ivf_pq"] = QuerySpec(
    _topk_ivf_pq,
    _topk_ivf_pq_sql(),
    "IVF-PQ search: coarse cluster pruning + asymmetric-distance scoring over 8-byte codes",
)


# --- PQ shortlist + exact re-rank: the production two-stage retrieval ----
# Completes the ANN ladder (exact -> IVF -> PQ/ADC -> IVF-PQ) with the
# shape real systems actually serve: the compressed index produces a
# generous shortlist CHEAPLY (8 bytes/vector ADC scan), then only the
# shortlist's full vectors are fetched and scored exactly.  At 100 TB the
# full-precision vectors live in a separate store keyed by id; this plan
# reads 100 rows of it instead of all n — the 64x compression does the
# candidate generation, the re-rank restores exact ranking quality at
# O(shortlist) cost.  Both stages reuse independently oracle-proven
# pieces: the quantized shared-literal ADC LUT (_pq_lut) and the
# topk_cosine scoring pattern against the SAME query-vector literals.

_PQ_RERANK_SHORTLIST = 100


def _topk_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import portable_round
    from ..functions.vector import cosine_similarity

    codes = _pq_encode(spark, sf_dir)
    adc = _adc_spark_expr()
    shortlist = (
        codes.selectExpr(
            "vec_id",
            f"CAST(FLOOR(({adc}) * 10000 + 0.5) / 10000 AS DOUBLE) AS adc_dist",
        )
        .orderBy("adc_dist", "vec_id")
        .limit(_PQ_RERANK_SHORTLIST)
        .select("vec_id")
    )
    q = F.array(*[F.lit(x) for x in _pq_query_vec()]).cast("array<double>")
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .select(
            "vec_id",
            portable_round(cosine_similarity(F.col("e"), q), 4).alias("sim"),
        )
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
    )


def _topk_pq_rerank_sql() -> str:
    from .similarity import _SQL_COS

    enc = _pq_encode_sql()
    adc = _adc_sql_expr()
    qlit = "[" + ", ".join(repr(x) for x in _pq_query_vec()) + "]::DOUBLE[]"
    cos = _SQL_COS.format(a="e.embedding", b="q.qv")
    return f"""
WITH codes AS ({enc}),
short AS (
  SELECT codes.vec_id,
         CAST(FLOOR(({adc}) * 10000 + 0.5) / 10000 AS DOUBLE) AS adc_dist
  FROM codes
  ORDER BY adc_dist, vec_id
  LIMIT {_PQ_RERANK_SHORTLIST}
),
q AS (SELECT {qlit} AS qv)
SELECT e.vec_id,
       FLOOR(({cos}) * 10000 + 0.5) / 10000 AS sim
FROM embeddings e JOIN short ON e.vec_id = short.vec_id, q
ORDER BY sim DESC, e.vec_id
LIMIT 10
"""


SPECS["topk_pq_rerank"] = QuerySpec(
    _topk_pq_rerank,
    _topk_pq_rerank_sql(),
    "two-stage retrieval: 8-byte ADC shortlist, exact cosine re-rank of 100 candidates",
)


# --- centroid-outlier pruning (semantic quality filter) --------------------
# The embedding-space quality filter (the CLIP-score / semantic-outlier
# pruning family): score every vector by cosine to ITS OWN label's
# centroid and drop the bottom decile per label — mislabeled or noisy
# points sit far from their class center.  Complements semdedup (which
# drops near-DUPLICATES inside clusters; this drops OUTLIERS).
#
# Scale shape: the centroid build is the embedding_centroids aggregate
# (one (label,pos) shuffle with map-side partials); centroids broadcast;
# the scoring pass is one linear scan (each vector vs one centroid — no
# pair join anywhere).  The per-label decile is NOT a row rank (a window
# over |labels| partitions would funnel n rows into 10 tasks): it is a
# VALUE threshold read off the per-(label, rounded-csim) histogram, whose
# cardinality is bounded by 20001 values/label regardless of corpus size.
# keep = csim > t_label where t_label is the value at which the running
# count first reaches floor(n_label/10); ties AT the threshold value are
# dropped together, so the drop count is >= the decile and never
# undershoots (deterministic, value-based — no dependence on physical
# row order; on a corpus where one value covers a whole label the label
# drops entirely, the documented degenerate arm).
#
# FP discipline: centroid elements are quantized to the 1e-4 grid (the
# proven embedding_centroids grain) BEFORE the cosine, so both engines
# score against bit-identical centroids; csim is portable_round(4); the
# scored table is persisted because three consumers (histogram, counts,
# final projection) would otherwise each recompute the float cosine with
# their own partial-aggregation order (the ccnet_buckets lesson).

_PRUNE_DECILE = 10  # drop floor(n/10) per label


def _centroid_outlier_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.vector import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    cent = (
        _exploded(spark, sf_dir)
        .groupBy(F.col("label").alias("c_label"), "pos")
        .agg(portable_round(F.avg("val"), 4).alias("cval"))
        .groupBy("c_label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pv"))
        .select("c_label", F.col("pv.cval").alias("cv"))
    )
    scored = (
        emb.join(F.broadcast(cent), emb.label == F.col("c_label"))
        .select(
            "vec_id",
            "label",
            portable_round(cosine_similarity("embedding", "cv"), 4).alias(
                "csim"
            ),
        )
        .transform(materialize, "pair similarities", "cache")
    )
    hist = scored.groupBy("label", "csim").agg(F.count(F.lit(1)).alias("c"))
    wl = Window.partitionBy("label").orderBy("csim")
    cum = hist.withColumn(
        "cum", F.sum("c").over(wl.rowsBetween(Window.unboundedPreceding, 0))
    )
    nl = scored.groupBy("label").agg(F.count(F.lit(1)).alias("n_l"))
    thr = (
        cum.join(F.broadcast(nl), "label")
        .filter(
            (F.floor(F.col("n_l") / _PRUNE_DECILE) >= 1)
            & (F.col("cum") >= F.floor(F.col("n_l") / _PRUNE_DECILE))
        )
        .groupBy("label")
        .agg(F.min("csim").alias("thr"))
    )
    return scored.join(F.broadcast(thr), "label", "left").select(
        "vec_id",
        "label",
        "csim",
        (F.col("thr").isNull() | (F.col("csim") > F.col("thr"))).alias("keep"),
    )


_CENTROID_PRUNE_SQL = f"""
WITH expl AS (
  SELECT label AS c_label,
         unnest(list_transform(embedding,
                (x, i) -> struct_pack(pos := i, val := x))) AS u
  FROM embeddings
),
cent AS (
  SELECT c_label, list(cval ORDER BY pos) AS cv
  FROM (
    SELECT c_label, u.pos AS pos,
           FLOOR(AVG(u.val) * 10000 + 0.5) / 10000 AS cval
    FROM expl GROUP BY 1, 2
  )
  GROUP BY c_label
),
scored AS (
  SELECT e.vec_id, e.label,
         FLOOR(list_dot_product(e.embedding::DOUBLE[], c.cv) /
               (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(c.cv, c.cv)))
               * 10000 + 0.5) / 10000 AS csim
  FROM embeddings e JOIN cent c ON e.label = c.c_label
),
hist AS (SELECT label, csim, COUNT(*) AS c FROM scored GROUP BY 1, 2),
cum AS (
  SELECT label, csim,
         SUM(c) OVER (PARTITION BY label ORDER BY csim
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
nl AS (SELECT label, COUNT(*) AS n_l FROM scored GROUP BY label),
thr AS (
  SELECT cum.label, MIN(csim) AS thr
  FROM cum JOIN nl ON cum.label = nl.label
  WHERE FLOOR(n_l / {_PRUNE_DECILE}) >= 1
    AND cum >= FLOOR(n_l / {_PRUNE_DECILE})
  GROUP BY cum.label
)
SELECT s.vec_id, s.label, s.csim,
       (t.thr IS NULL OR s.csim > t.thr) AS keep
FROM scored s LEFT JOIN thr t ON s.label = t.label
"""


SPECS["centroid_outlier_prune"] = QuerySpec(
    _centroid_outlier_prune,
    _CENTROID_PRUNE_SQL,
    "per-label bottom-decile outlier drop by cosine-to-centroid (value-histogram threshold, no pair join)",
)


# --- IVF index maintenance (the vector-store operations query) -------------
# The reference IS a vector store (pgvector append-only, BASELINE.md) —
# this is the maintenance pass an IVF index over that store runs after
# every ingest+delete cycle: assign the incoming batch to the existing
# coarse quantizer, account tombstoned rows, and flag clusters that need
# a SPLIT (overfull vs the mean occupancy) or a COMPACTION (live
# fraction dropped below 98%).  Batch/tombstone membership is derived
# from vec_id here (the newest max(50, n/10) ids are "incoming"; base
# ids with vec_id % 37 = 5 are tombstoned) purely so both engines see
# identical deterministic sets; in production those are the delta table
# and the delete log, and the base assignment is the STORED index — the
# delta-only assignment is this same ivf_assign call on the delta frame.
#
# Every decision is exact-integer (10*(nl+nn)*k > 11*total for split;
# 50*nl < 49*(nl+nt) for compact — i.e. live < 0.98): zero FP outside
# the proven assignment cosine, so the oracle compare has no seam.  The
# maintenance table is k rows; `total` stays IN the plan as a broadcast
# 1-row aggregate (no driver action).


def _ivf_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-level assignment (r9): with k ~ n/125, flat assignment is the
    # n*k = n^2/125 quadratic the wave-11 probe surfaced (16x point
    # 4.0x); hier is n*(1+nprobe)*sqrt(k), oracle-replayed via the
    # shared CTE chain (plans/ivf_sql.py).  Routed through the r11
    # build-once index seam (the session memo's part for this corpus).
    corpus = full_corpus(spark, sf_dir)
    # unclamped, as the oracle renders it (incoming_split clamps)
    cut = corpus.n - max(50, corpus.n // 10)
    tagged = corpus.assign.select(
        "cid",
        F.when(F.col("vec_id") >= cut, "new")
        .when(F.col("vec_id") % 37 == 5, "tomb")
        .otherwise("live")
        .alias("st"),
    )
    # ONE definition of the whole accounting pipeline (aggregation +
    # exact-integer flag rules), shared with the maintenance-policy
    # operator (ivf_index.maintain — r12): the catalog query and the
    # scheduler-facing API cannot drift.  Only the membership TAGGING
    # differs (this query's synthetic new/tomb convention above vs the
    # operator's real delta/delete-log joins).
    from ..operators.ivf_index import occupancy_cells

    return occupancy_cells(tagged)


def _ivf_maint_sql() -> str:
    from .ivf_sql import HIER_ASSIGN_CTES

    return f"""
WITH {HIER_ASSIGN_CTES},
pm AS (SELECT COUNT(*) - GREATEST(50, COUNT(*) // 10) AS cut FROM embeddings),
assign AS (SELECT vec_id, cid_hier AS cid FROM hier),
tagged AS (
  SELECT a.cid,
         CASE WHEN a.vec_id >= pm.cut THEN 'new'
              WHEN a.vec_id % 37 = 5 THEN 'tomb'
              ELSE 'live' END AS st
  FROM assign a, pm
),
agg AS (
  SELECT cid,
         SUM(CASE WHEN st = 'live' THEN 1 ELSE 0 END) AS n_live,
         SUM(CASE WHEN st = 'tomb' THEN 1 ELSE 0 END) AS n_tomb,
         SUM(CASE WHEN st = 'new' THEN 1 ELSE 0 END) AS n_new
  FROM tagged GROUP BY cid
),
tot AS (SELECT SUM(n_live + n_new) AS total, COUNT(*) AS k FROM agg)
SELECT CAST(a.cid AS BIGINT) AS cid,
       CAST(a.n_live AS BIGINT) AS n_live,
       CAST(a.n_tomb AS BIGINT) AS n_tomb,
       CAST(a.n_new AS BIGINT) AS n_new,
       (10 * (a.n_live + a.n_new) * t.k > 11 * t.total) AS needs_split,
       (50 * a.n_live < 49 * (a.n_live + a.n_tomb)) AS needs_compact
FROM agg a, tot t
"""


SPECS["ivf_maintenance"] = QuerySpec(
    _ivf_maintenance,
    _ivf_maint_sql(),
    "IVF index maintenance: delta assignment + tombstone accounting, split/compact flags (exact-integer rules)",
)


# --- incremental delta assignment (VERDICT r11 #2) -------------------------
# The steady-state ingest path between ivf_maintenance's re-cluster
# events: the newest max(50, n/10) vectors (the same "incoming batch"
# convention as ivf_maintenance) are assigned against the coarse
# quantizer FROZEN at the base corpus — geometry k/ns derives from the
# BASE count, seeds are the base's lowest-k ids — and only those delta
# rows are returned, with their per-cell occupancy.  Because the
# two-level assignment is per-row given fixed centroids, the delta-only
# path is bit-identical to slicing a full base∪delta assignment at base
# geometry; the oracle replays it with the shared CTE chain's
# (src=base, assign_src=delta) parameterization, so drift between the
# delta operator and the full chain is structurally impossible.  Routed
# through shared_hier_assignment_delta: the base part is the base
# seam's memo entry (built once) and ONLY the delta is assigned — the
# +1/64-corpus probe (SCALING.md wave 21) measured that marginal cost.


def _ivf_delta_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    split = incoming_split(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return split.delta(split.delta_assignment(spark, emb)).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cid").cast("long").alias("cid"),
        F.count(F.lit(1))
        .over(Window.partitionBy("cid"))
        .cast("long")
        .alias("n_delta_in_cell"),
    )


def _ivf_delta_assign_sql() -> str:
    from .ivf_sql import hier_assign_ctes

    return f"""
WITH nn AS (SELECT COUNT(*) AS n,
                   GREATEST(1, COUNT(*) - GREATEST(50, COUNT(*) // 10)) AS cut
            FROM embeddings),
base AS (SELECT e.vec_id, e.embedding FROM embeddings e, nn
         WHERE e.vec_id < nn.cut),
delta AS (SELECT e.vec_id, e.embedding FROM embeddings e, nn
          WHERE e.vec_id >= nn.cut),
{hier_assign_ctes(src="base", assign_src="delta")}
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(cid_hier AS BIGINT) AS cid,
       CAST(COUNT(*) OVER (PARTITION BY cid_hier) AS BIGINT) AS n_delta_in_cell
FROM hier
"""


SPECS["ivf_delta_assign"] = QuerySpec(
    _ivf_delta_assign,
    _ivf_delta_assign_sql(),
    "incremental IVF maintenance: delta-only assignment against the frozen "
    "base quantizer (shared_hier_assignment_delta; oracle = the shared hier "
    "CTE chain with src=base, assign_src=delta)",
)


# --- chained incremental assignment (VERDICT r12 #2) ------------------------
# The steady state ivf_delta_assign models ONE cycle of; this is the
# N-cycle reality: the incoming region (newest max(50, n/10) ids — the
# ivf_maintenance convention) arrives as THREE successive ingest
# batches, each assigned against the quantizer frozen at the original
# base.  Cycle i's base is the union of the memo parts of base +
# cycles 1..i-1 (reused, never re-assigned) — the
# shared_hier_assignment_chain seam.  Because per-row assignment is
# independent given fixed centroids, the 3-cycle chain is bit-identical
# to one full assignment at base geometry, which is exactly what the
# oracle replays (src=base, assign_src=whole corpus).  Output: the
# incoming region's rows with their cycle tag.


def _ivf_chain_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    split = incoming_split(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return split.delta(split.chain_assignment(spark, emb)).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cid").cast("long").alias("cid"),
        F.when(F.col("vec_id") < split.b1, 1)
        .when(F.col("vec_id") < split.b2, 2)
        .otherwise(3)
        .cast("int")
        .alias("cycle"),
    )


def _ivf_chain_assign_sql() -> str:
    from .ivf_sql import hier_assign_ctes

    return f"""
WITH nn AS (SELECT COUNT(*) AS n,
                   GREATEST(1, COUNT(*) - GREATEST(50, COUNT(*) // 10)) AS cut
            FROM embeddings),
bb AS (SELECT cut, n,
              cut + (n - cut) // 3 AS b1,
              cut + 2 * ((n - cut) // 3) AS b2
       FROM nn),
base AS (SELECT e.vec_id, e.embedding FROM embeddings e, nn
         WHERE e.vec_id < nn.cut),
{hier_assign_ctes(src="base", assign_src="embeddings")}
SELECT CAST(h.vec_id AS BIGINT) AS vec_id,
       CAST(h.cid_hier AS BIGINT) AS cid,
       CAST(CASE WHEN h.vec_id < bb.b1 THEN 1
                 WHEN h.vec_id < bb.b2 THEN 2
                 ELSE 3 END AS INTEGER) AS cycle
FROM hier h, bb
WHERE h.vec_id >= bb.cut
"""


SPECS["ivf_chain_assign"] = QuerySpec(
    _ivf_chain_assign,
    _ivf_chain_assign_sql(),
    "N-cycle incremental maintenance: 3 chained ingest batches assigned "
    "against the frozen base quantizer (shared_hier_assignment_chain — "
    "cycle i's base is the materialized union of base + cycles 1..i-1)",
)


# --- deletion-aware serving (VERDICT r12 #1) --------------------------------
# ``ivf_maintenance`` accounts tombstones; THIS query is the serving
# side finally excluding them: top-5 by cosine over base ∪ delta MINUS
# the delete log, through the frozen-quantizer IVF shortlist.  The
# anti-join sits INSIDE the shortlist — after the query-cell routing
# restricts candidates, before the exact re-rank — so its cost is
# O(candidates) x delete-log (an equi-join AQE broadcasts when the log
# is small), never O(n).  Conventions shared with the maintenance pair
# so all three queries describe ONE lifecycle: base/delta split at
# cut = n - max(50, n/10) (clamped to 1), tombstones = base ids with
# vec_id % 37 = 5 (deterministic in both engines; in production: the
# delta table and the delete log).  Query = vec_id 0 (0 % 37 != 5, so
# the probe row itself is live).  Exclusion correctness is structural:
# filtering candidates BEFORE ranking is top-k over the surviving set
# restricted to the cell — the oracle recomputes exactly that.


def _topk_ivf_tombstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import cosine_similarity
    from ..operators.ivf_index import exclude_tombstones

    split = incoming_split(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    assign = split.delta_assignment(spark, emb)
    tombs = split.tombstones(emb).select("vec_id")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    qcid = assign.filter(F.col("vec_id") == 0).select(F.col("cid").alias("qcid"))
    shortlist = assign.join(
        F.broadcast(qcid), F.col("cid") == F.col("qcid")
    )  # routed candidates: the query's cell only
    live = exclude_tombstones(shortlist, tombs)  # THE r13 serving seam
    return (
        emb.join(live.select("vec_id"), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            portable_round(cosine_similarity("embedding", "qv"), 4).alias(
                "sim"
            ),
        )
        .orderBy(F.desc("sim"), F.col("vec_id"))
        .limit(5)
    )


def _topk_ivf_tombstone_sql() -> str:
    from .ivf_sql import SQL_COS, hier_assign_ctes

    cos_eq = SQL_COS.format(a="e.embedding", b="q.qv")
    return f"""
WITH nn AS (SELECT COUNT(*) AS n,
                   GREATEST(1, COUNT(*) - GREATEST(50, COUNT(*) // 10)) AS cut
            FROM embeddings),
base AS (SELECT e.vec_id, e.embedding FROM embeddings e, nn
         WHERE e.vec_id < nn.cut),
{hier_assign_ctes(src="base", assign_src="embeddings")},
tomb AS (SELECT e.vec_id FROM embeddings e, nn
         WHERE e.vec_id < nn.cut AND e.vec_id % 37 = 5),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qc AS (SELECT cid_hier AS cid FROM hier WHERE vec_id = 0)
SELECT e.vec_id,
       FLOOR(({cos_eq}) * 10000 + 0.5) / 10000 AS sim
FROM embeddings e
JOIN hier h ON e.vec_id = h.vec_id
JOIN qc ON h.cid_hier = qc.cid, q
WHERE e.vec_id NOT IN (SELECT vec_id FROM tomb)
ORDER BY sim DESC, e.vec_id
LIMIT 5
"""


SPECS["topk_ivf_tombstone"] = QuerySpec(
    _topk_ivf_tombstone,
    _topk_ivf_tombstone_sql(),
    "deletion-aware IVF serving: top-5 cosine over base ∪ delta MINUS the "
    "delete log — tombstone anti-join inside the shortlist (O(candidates)), "
    "before the exact re-rank (exclude_tombstones seam)",
)


# --- attribute-filtered ANN serving (r13) -----------------------------------
# The filtered-search shape every production vector store serves
# (pgvector: `WHERE ... ORDER BY embedding <=> q` — the reference's
# installed-but-unused stack at src/rag/sqlx.rs:22-29 would have gotten
# it for free from Postgres): a metadata predicate restricts WHICH
# vectors may be returned.  Two strategies exist at scale — PRE-filter
# (scan with the predicate pushed to parquet, exact rank: right when
# the predicate is partition-prunable or ultra-selective) and
# POST-filter (route cells, apply the predicate INSIDE the shortlist,
# exact re-rank: right for broad predicates, cost O(candidates)).
# This query is the post-filter arm with the twist the strategy
# actually requires: a ~10%-selective predicate thins a 125-row cell
# to ~12 candidates, so the probe is WIDENED to the query's 2 nearest
# cells (route_query_cells — the first serving query to multi-probe;
# the stored index is unchanged, the router replays the build rule
# over the k-row centroid table).  Anti-pattern for contrast: ranking
# first and filtering after the LIMIT returns < k rows.


def _topk_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import cosine_similarity
    from ..operators.ann import ivf_seed_centroids, route_query_cells

    # the SAME build-once family every full-corpus consumer rides
    emb, _, k, ns, assign = full_corpus(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    qcells = route_query_cells(
        q, ivf_seed_centroids(emb, k), ns, n_cells=2
    )
    shortlist = assign.join(F.broadcast(qcells), "cid")
    return (
        emb.join(shortlist.select("vec_id"), "vec_id")
        .filter(F.col("label") == 3)  # the predicate, INSIDE the shortlist
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            portable_round(cosine_similarity("embedding", "qv"), 4).alias(
                "sim"
            ),
        )
        .orderBy(F.desc("sim"), F.col("vec_id"))
        .limit(5)
    )


def _topk_ivf_filtered_sql() -> str:
    from .ivf_sql import SQL_COS, hier_assign_ctes

    cos_qs = SQL_COS.format(a="q.qv", b="s.sv")
    cos_qc = SQL_COS.format(a="q.qv", b="c2.cv")
    cos_eq = SQL_COS.format(a="e.embedding", b="q.qv")
    return f"""
WITH {hier_assign_ctes()},
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
       FLOOR(({cos_eq}) * 10000 + 0.5) / 10000 AS sim
FROM embeddings e
JOIN hier h ON e.vec_id = h.vec_id
JOIN qcells qc ON h.cid_hier = qc.cid, q
WHERE e.label = 3
ORDER BY sim DESC, e.vec_id
LIMIT 5
"""


SPECS["topk_ivf_filtered"] = QuerySpec(
    _topk_ivf_filtered,
    _topk_ivf_filtered_sql(),
    "attribute-filtered ANN serving: label predicate INSIDE the IVF "
    "shortlist, probe widened to the query's 2 nearest cells "
    "(route_query_cells), exact re-rank over the filtered candidates",
)


# --- late-interaction (MaxSim) retrieval (r13) -------------------------------
# ColBERT-style multi-vector scoring (Khattab & Zaharia, SIGIR 2020):
# a document is MANY vectors (one per chunk/token — here doc_id =
# vec_id div 8, the chunk-explode layout operators/chunking.py
# produces when each chunk is embedded); a query is a SET of token
# vectors; score(doc) = sum over query tokens of max over the doc's
# vectors of sim(token, vector).  The serving shape at 100 TB: each
# query token routes to its IVF cell (the stored assignment — no new
# index), candidate docs = docs owning ANY routed vector, then the
# exact MaxSim re-rank touches only candidate docs' vectors.  Query
# tokens are a tiny broadcast side, so scoring is |Q| expression
# passes over the candidates — no shuffle beyond the two-key
# aggregate.  FP seam discipline (the similarity.py banded-statistics
# rule): per-(vector, token) cosines quantize ONCE to exact BIGINTs;
# max and sum are then order-independent integer ops, and the final
# score is one exact division both engines render identically.


def _maxsim_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import cosine_similarity

    emb, *_, assign = full_corpus(spark, sf_dir)
    qt = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    # candidate generation off the stored index: the union of the
    # query tokens' routed cells -> the docs owning any member vector
    qcells = (
        assign.filter(F.col("vec_id") < 3).select("cid").distinct()
    )
    cand_docs = (
        assign.join(F.broadcast(qcells), "cid")
        .select(F.expr("vec_id div 8").alias("doc_id"))
        .distinct()
    )
    qsim = F.floor(
        cosine_similarity("embedding", "qv") * 10000 + 0.5
    ).cast("long")
    sims = (
        emb.withColumn("doc_id", F.expr("vec_id div 8"))
        .join(cand_docs, "doc_id")  # exact re-rank: candidates only
        .crossJoin(F.broadcast(qt))
        .select("doc_id", "qid", qsim.alias("qsim"))
    )
    return (
        sims.groupBy("doc_id", "qid")
        .agg(F.max("qsim").alias("mx"))
        .groupBy("doc_id")
        .agg((F.sum("mx").cast("double") / 10000).alias("score"))
        .select(F.col("doc_id").cast("long").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(5)
    )


def _maxsim_retrieve_sql() -> str:
    from .ivf_sql import SQL_COS, hier_assign_ctes

    cos_eq = SQL_COS.format(a="e.embedding", b="qt.qv")
    return f"""
WITH {hier_assign_ctes()},
qt AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
qcells AS (SELECT DISTINCT cid_hier AS cid FROM hier WHERE vec_id < 3),
cand_docs AS (
  SELECT DISTINCT h.vec_id // 8 AS doc_id
  FROM hier h JOIN qcells qc ON h.cid_hier = qc.cid
),
sims AS (
  SELECT e.vec_id // 8 AS doc_id, qt.qid,
         CAST(FLOOR(({cos_eq}) * 10000 + 0.5) AS BIGINT) AS qsim
  FROM embeddings e
  JOIN cand_docs d ON e.vec_id // 8 = d.doc_id, qt
),
ms AS (SELECT doc_id, qid, MAX(qsim) AS mx FROM sims GROUP BY doc_id, qid)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(SUM(mx) AS DOUBLE) / 10000 AS score
FROM ms GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT 5
"""


SPECS["maxsim_retrieve"] = QuerySpec(
    _maxsim_retrieve,
    _maxsim_retrieve_sql(),
    "late-interaction (ColBERT MaxSim) retrieval: per-token IVF candidate "
    "generation off the stored assignment, exact integer-quantized MaxSim "
    "re-rank over candidate docs only",
)


# --- composed lifecycle serving (VERDICT r13 #1) -----------------------------
# The FULL production point-query shape, every r13 seam stacked in one
# hash-checked answer: an index built once at base geometry, grown by
# THREE chained ingest cycles against the frozen quantizer
# (shared_hier_assignment_chain), served deletion-aware (tombstone
# anti-join inside the shortlist), attribute-filtered (label predicate
# INSIDE the shortlist), through a probe widened to the query's 2
# nearest cells (route_query_cells — centroids frozen at the base
# corpus, exactly what the chain's quantizer uses), exact cosine
# re-rank last.  Until r14 this composition existed only as a pytest
# assertion (test_composed_filtered_tombstone_serving); here the
# oracle recomputes the identical composition from first principles —
# hier CTE chain at base geometry over the whole corpus (chain
# assignment is per-row invariant, so N chained cycles == one delta
# assignment of everything), the same qs/qcells routing CTEs, the same
# tombstone NOT IN and label predicate — so "every seam composes
# without changing the answer" is driver-verified, not asserted.
# Conventions shared with the maintenance family: base/delta split at
# cut = n - max(50, n/10) (clamped to 1), three equal ingest cycles,
# tombstones = base ids with vec_id % 37 = 5, query = vec_id 0.


def _topk_ivf_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import cosine_similarity
    from ..operators.ann import ivf_seed_centroids, route_query_cells
    from ..operators.ivf_index import exclude_tombstones

    split = incoming_split(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    # grow: 3 chained cycles, quantizer frozen at the base corpus
    assign = split.chain_assignment(spark, emb)
    tombs = split.tombstones(emb).select("vec_id")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    # route: 2-cell widened probe off the SAME frozen base centroids
    qcells = route_query_cells(
        q, ivf_seed_centroids(split.base(emb), split.k), split.ns, n_cells=2
    )
    shortlist = assign.join(F.broadcast(qcells), "cid")
    live = exclude_tombstones(shortlist, tombs)  # deletes, O(candidates)
    return (
        emb.join(live.select("vec_id"), "vec_id")
        .filter(F.col("label") == 3)  # attribute predicate, in-shortlist
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            portable_round(cosine_similarity("embedding", "qv"), 4).alias(
                "sim"
            ),
        )
        .orderBy(F.desc("sim"), F.col("vec_id"))
        .limit(5)
    )


def _topk_ivf_lifecycle_sql() -> str:
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
{hier_assign_ctes(src="base", assign_src="embeddings")},
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
       FLOOR(({cos_eq}) * 10000 + 0.5) / 10000 AS sim
FROM embeddings e
JOIN hier h ON e.vec_id = h.vec_id
JOIN qcells qc ON h.cid_hier = qc.cid, q
WHERE e.label = 3
  AND e.vec_id NOT IN (SELECT vec_id FROM tomb)
ORDER BY sim DESC, e.vec_id
LIMIT 5
"""


SPECS["topk_ivf_lifecycle"] = QuerySpec(
    _topk_ivf_lifecycle,
    _topk_ivf_lifecycle_sql(),
    "composed lifecycle serving: 3 chained ingest cycles (frozen base "
    "quantizer) + tombstone anti-join + label predicate inside a 2-cell "
    "widened probe (route_query_cells) + exact cosine re-rank — every "
    "r13 seam in ONE hash-checked answer",
)


# --- IVF-SQ8 serving (VERDICT r13 #3) ----------------------------------------
# The FAISS IVFScalarQuantizer shape — the cheaper production default
# when memory allows codes but not floats: coarse cells route the
# probe, per-vector symmetric int8 codes (4x smaller than fp32; the
# embedding_quantize_int8 scheme, scales cancel out of the cosine
# ratio) score the shortlist, and an exact float re-rank of the
# surviving top-N fixes the quantization error.  Completes the repo's
# quantized-serving matrix: PQ (trained / ADC / residual / delta) had
# no scalar-quantization sibling.  Cost at scale: the int8 pass
# touches only the 2 routed cells' codes (O(2 x cell_size) integer dot
# products, SIMD-friendly); the float pass touches _SQ8_RERANK rows.
# FP seam: the approx score quantizes to the 1e-4 grid BEFORE the
# shortlist LIMIT (the topk_pq_rerank discipline), so the cut is an
# integer comparison with a vec_id tie-break in both engines.

_SQ8_RERANK = 20


def _topk_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import cosine_similarity
    from ..operators.ann import ivf_seed_centroids, route_query_cells

    # the SAME build-once family every full-corpus consumer rides
    emb, _, k, ns, assign = full_corpus(spark, sf_dir)
    qcode = _quantized(emb.filter(F.col("vec_id") == 0)).select(
        F.col("q").cast("array<double>").alias("qc")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    qcells = route_query_cells(
        q, ivf_seed_centroids(emb, k), ns, n_cells=2
    )
    # int8 scoring pass over the ROUTED CANDIDATES only: in production
    # the codes are stored next to the assignment (quantize once at
    # ingest, the PQ-codes discipline); query-time must therefore touch
    # O(candidates) quantized rows, never re-encode the corpus — the
    # ×64 probe caught the corpus-wide form growing 2.5× (wave 27)
    cand = assign.join(F.broadcast(qcells), "cid").select("vec_id")
    cand_codes = _quantized(emb.join(cand, "vec_id")).select(
        "vec_id", F.col("q").cast("array<double>").alias("code")
    )
    shortlist = (
        cand_codes.crossJoin(F.broadcast(qcode))
        .select(
            "vec_id",
            F.floor(cosine_similarity("code", "qc") * 10000 + 0.5)
            .cast("long")
            .alias("asim"),
        )
        .orderBy(F.desc("asim"), "vec_id")
        .limit(_SQ8_RERANK)
        .select("vec_id")
    )
    # exact float re-rank of the surviving candidates
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            portable_round(cosine_similarity("embedding", "qv"), 4).alias(
                "sim"
            ),
        )
        .orderBy(F.desc("sim"), F.col("vec_id"))
        .limit(5)
    )


def _topk_ivf_sq8_sql() -> str:
    from .ivf_sql import SQL_COS, hier_assign_ctes

    cos_qs = SQL_COS.format(a="q.qv", b="s.sv")
    cos_qc = SQL_COS.format(a="q.qv", b="c2.cv")
    cos_eq = SQL_COS.format(a="e.embedding", b="q.qv")
    return f"""
WITH {hier_assign_ctes()},
qd AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> floor(x / {_SQL_QSCALE} + 0.5)) AS code
  FROM embeddings
),
qcode AS (SELECT code AS qc FROM qd WHERE vec_id = 0),
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
),
short AS (
  SELECT vec_id FROM (
    SELECT d.vec_id,
           CAST(FLOOR(list_dot_product(d.code, qcode.qc) /
                (sqrt(list_dot_product(d.code, d.code)) *
                 sqrt(list_dot_product(qcode.qc, qcode.qc)))
                * 10000 + 0.5) AS BIGINT) AS asim
    FROM qd d
    JOIN hier h ON d.vec_id = h.vec_id
    JOIN qcells qc ON h.cid_hier = qc.cid, qcode
  ) ORDER BY asim DESC, vec_id
  LIMIT {_SQ8_RERANK}
)
SELECT e.vec_id,
       FLOOR(({cos_eq}) * 10000 + 0.5) / 10000 AS sim
FROM embeddings e JOIN short USING (vec_id), q
ORDER BY sim DESC, e.vec_id
LIMIT 5
"""


SPECS["topk_ivf_sq8"] = QuerySpec(
    _topk_ivf_sq8,
    _topk_ivf_sq8_sql(),
    "IVF-SQ8 serving (the FAISS IVFScalarQuantizer shape): 2-cell routed "
    "probe scored over per-vector symmetric int8 codes (integer dot "
    "products, scales cancel), exact float re-rank of the top-20",
)


# --- embedding drift monitor ----------------------------------------------
# The vector-store ML-ops query: has the embedding distribution MOVED
# between the established corpus and the newest ingest?  Per label,
# cosine between the base-half and delta-half centroids (1.0 = no
# drift); a monitoring job alerts when it dips.  The halves split on
# vec_id < n/2 here purely so both engines see identical deterministic
# sets — in production they are the indexed corpus vs the ingest
# window.  Scale shape: two (label, pos) partial-aggregated centroid
# shuffles + a |labels|-row cosine; centroids are quantized to the
# proven 1e-4 grain BEFORE the cosine (the centroid_outlier_prune
# discipline) so both engines score bit-identical vectors.


def _embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import cosine_similarity
    from ..io.sources import parquet_row_count

    n = parquet_row_count(sf_dir, "embeddings")
    half = n // 2
    expl = _exploded(spark, sf_dir)

    def centroid(side, pred):
        return (
            expl.filter(pred)
            .groupBy("label", "pos")
            .agg(portable_round(F.avg("val"), 4).alias("cval"))
            .groupBy("label")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias(
                    "pv"
                ),
                F.count(F.lit(1)).alias("_dims"),
            )
            .select(
                "label",
                F.col("pv.cval").alias(f"cv_{side}"),
            )
        )

    base = centroid("base", F.col("vec_id") < half)
    delta = centroid("delta", F.col("vec_id") >= half)
    counts = (
        load_table(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(
            F.sum(F.when(F.col("vec_id") < half, 1).otherwise(0))
            .cast("long")
            .alias("n_base"),
            F.sum(F.when(F.col("vec_id") >= half, 1).otherwise(0))
            .cast("long")
            .alias("n_delta"),
        )
    )
    return (
        base.join(delta, "label")
        .join(counts, "label")
        .select(
            F.col("label").cast("long").alias("label"),
            "n_base",
            "n_delta",
            portable_round(
                cosine_similarity("cv_base", "cv_delta"), 4
            ).alias("centroid_cos"),
        )
    )


_EMBEDDING_DRIFT_SQL = """
WITH h AS (SELECT COUNT(*) // 2 AS half FROM embeddings),
expl AS (
  SELECT vec_id, label,
         unnest(list_transform(embedding,
                (x, i) -> struct_pack(pos := i, val := x))) AS u
  FROM embeddings
),
cb AS (
  SELECT label, list(cval ORDER BY pos) AS cv_base FROM (
    SELECT label, u.pos AS pos,
           FLOOR(AVG(u.val) * 10000 + 0.5) / 10000 AS cval
    FROM expl, h WHERE vec_id < h.half GROUP BY 1, 2
  ) GROUP BY label
),
cd AS (
  SELECT label, list(cval ORDER BY pos) AS cv_delta FROM (
    SELECT label, u.pos AS pos,
           FLOOR(AVG(u.val) * 10000 + 0.5) / 10000 AS cval
    FROM expl, h WHERE vec_id >= h.half GROUP BY 1, 2
  ) GROUP BY label
),
counts AS (
  SELECT label,
         CAST(SUM(CASE WHEN vec_id < h.half THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         CAST(SUM(CASE WHEN vec_id >= h.half THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
  FROM embeddings, h GROUP BY label
)
SELECT CAST(cb.label AS BIGINT) AS label, counts.n_base, counts.n_delta,
       FLOOR(list_dot_product(cb.cv_base, cd.cv_delta) /
             (sqrt(list_dot_product(cb.cv_base, cb.cv_base))
              * sqrt(list_dot_product(cd.cv_delta, cd.cv_delta)))
             * 10000 + 0.5) / 10000 AS centroid_cos
FROM cb JOIN cd ON cb.label = cd.label
JOIN counts ON cb.label = counts.label
"""


SPECS["embedding_drift"] = QuerySpec(
    _embedding_drift,
    _EMBEDDING_DRIFT_SQL,
    "embedding drift monitor: per-label cosine between base-half and delta-half centroids",
)


# --- PQ recall measurement ------------------------------------------------
# The last approximate mechanism without a measured quality number:
# recall@10 of the ADC (8-byte-code) ranking against the exact squared-L2
# top-10 for the same literal query vector, PLUS the shortlist-100
# recall — the quantity the two-stage topk_pq_rerank path actually
# depends on (if the true top-10 are anywhere in the 100-candidate ADC
# shortlist, exact rerank recovers them perfectly).  Measured on the
# fixture: direct ADC@10 recall is 0.0/0.1/0.1 across scales — the
# seeded 16-codeword codebooks are a FLOOR, and the honest number that
# rejects single-stage PQ ranking on isotropic data — while the
# shortlist recall (0.6/0.4/0.3 measured — the shortlist covers 20%/
# 5%/5% of the fixture corpus, so these are floor numbers too) is what
# the production two-stage shape lives on;
# trained codebooks (pq_encode_trained) are the other lever.  One row;
# both arms reuse proven machinery (shared LUT literals, the
# kmeans-style list-fold L2).

# k of both PQ recall rows: it sets the ADC and exact top-k limits and
# the recall denominators.  Both rows also score an ADC shortlist of
# _PQ_SHORTLIST vectors against the same exact top-k.
_PQ_RECALL_K = 10
_PQ_SHORTLIST = 100


# DuckDB twin of _exact_l2_topk; reads a q(qv) CTE
_EXACT_L2_TOPK_CTE_TMPL = """exact AS (
  SELECT vec_id FROM (
    SELECT e.vec_id,
           FLOOR(list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> (e.embedding[i] - q.qv[i]) * (e.embedding[i] - q.qv[i])))
                 * 10000 + 0.5) / 10000 AS d2
    FROM embeddings e, q
  )
  ORDER BY d2, vec_id
  LIMIT {k}
)"""


def _recall_row_sql() -> str:
    """DuckDB twin of :func:`_recall_row` over ``approx``/``short100``/
    ``exact`` CTEs, at k = ``_PQ_RECALL_K``."""
    k = float(_PQ_RECALL_K)
    return f"""h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM approx JOIN exact USING (vec_id)),
sh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_short_hits
       FROM short100 JOIN exact USING (vec_id))
SELECT h.n_hits, CAST(h.n_hits AS DOUBLE) / {k} AS recall,
       sh.n_short_hits,
       CAST(sh.n_short_hits AS DOUBLE) / {k} AS shortlist_recall
FROM h CROSS JOIN sh
"""


def _pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = _pq_adc_ranked(spark, sf_dir)
    return _recall_row(
        ranked.limit(_PQ_RECALL_K).select("vec_id"),
        ranked.limit(_PQ_SHORTLIST).select("vec_id"),
        _exact_l2_topk(spark, sf_dir),
        _PQ_RECALL_K,
    )


def _pq_recall_sql() -> str:
    qv = "[" + ", ".join(repr(x) for x in _pq_query_vec()) + "]::DOUBLE[]"
    return f"""
WITH approx AS (SELECT vec_id FROM ({_pq_adc_top_sql(_PQ_RECALL_K)})),
q AS (SELECT {qv} AS qv),
{_EXACT_L2_TOPK_CTE_TMPL.format(k=_PQ_RECALL_K)}
, short100 AS (
  SELECT codes.vec_id,
         CAST(FLOOR(({_adc_sql_expr()}) * 10000 + 0.5) / 10000 AS DOUBLE) AS adc_dist
  FROM ({_pq_encode_sql()}) codes
  ORDER BY adc_dist, vec_id
  LIMIT {_PQ_SHORTLIST}
),
{_recall_row_sql()}"""


SPECS["pq_recall_at_k"] = QuerySpec(
    _pq_recall_at_k,
    _pq_recall_sql(),
    "measured recall@10 of the 8-byte ADC ranking vs exact L2 (the PQ quality number)",
)


# --- trained-codebook PQ recall (the lift the floor numbers point at) -----
# pq_recall_at_k measures the SEEDED codebooks (recall 0.0-0.1 — the
# floor); this measures the same query after ONE Lloyd round of codebook
# training (the _pq_trained_parts build shared with pq_encode_trained).
# Per-rank ADC distances use exact-integer sufficient statistics: each
# (sub_j, code) LUT entry is FLOOR(d2 * 1e4 + 0.5) as BIGINT, the
# per-vector distance is an exact integer sum of 8 such entries, and the
# ranking key (adc_q, vec_id) is integer — the only cross-engine seam is
# the one FLOOR per 128 LUT values over the trained centroids, the same
# class pq_encode_trained already proves green.
#
# Measured lift over the seeded floor (same query, same ground truth):
# shortlist-100 recall 0.6/0.4/0.3 -> 0.8/0.5/0.7 and direct@10
# 0.0/0.1/0.1 -> 0.1/0.0/0.2 across sf0.001/0.01/0.1 — one Lloyd round
# roughly doubles what the two-stage rerank path has to work with, on
# isotropic vectors where PQ is hardest.


def _exact_l2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact squared-L2 top-``_PQ_RECALL_K`` for the PQ literal query
    vector — shared ground truth for both PQ recall measurements."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.array(*[F.lit(x) for x in _pq_query_vec()]).cast("array<double>")
    d2 = squared_l2(F.col("embedding").cast("array<double>"), qv)
    return (
        emb.select("vec_id", portable_round(d2, 4).alias("d2"))
        .orderBy("d2", "vec_id")
        .limit(_PQ_RECALL_K)
        .select("vec_id")
    )


def _recall_row(
    top: DataFrame, short: DataFrame, exact: DataFrame, k: int
) -> DataFrame:
    """One row: the hits of an approximate top-``k`` and of its longer
    shortlist in the exact top-``k``, and both recalls@``k``."""
    hits = hit_counts(top, exact, "vec_id").withColumnRenamed("nh", "n_hits")
    short_hits = hit_counts(short, exact, "vec_id").withColumnRenamed(
        "nh", "n_short_hits"
    )
    return hits.crossJoin(short_hits).select(
        "n_hits",
        (F.col("n_hits").cast("double") / F.lit(float(k))).alias("recall"),
        "n_short_hits",
        (F.col("n_short_hits").cast("double") / F.lit(float(k))).alias(
            "shortlist_recall"
        ),
    )


def _pq_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    a2, trained = _pq_trained_parts(spark, sf_dir)
    q = _pq_query_vec()
    qdf = local_rows(
        spark,
        [(j, [float(x) for x in q[j * _PQ_D : (j + 1) * _PQ_D]]) for j in range(_PQ_M)],
        "sub_j int, qv array<double>",
    )
    lut = trained.join(F.broadcast(qdf), "sub_j").select(
        "sub_j",
        "code",
        F.floor(squared_l2("qv", "cw") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("ld_q"),
    )
    dists = (
        a2.select("vec_id", "sub_j", "code")
        .join(F.broadcast(lut), ["sub_j", "code"])
        .groupBy("vec_id")
        .agg(F.sum("ld_q").alias("adc_q"))
    )
    ranked = dists.orderBy("adc_q", "vec_id")
    return _recall_row(
        ranked.limit(_PQ_RECALL_K).select("vec_id"),
        ranked.limit(_PQ_SHORTLIST).select("vec_id"),
        _exact_l2_topk(spark, sf_dir),
        _PQ_RECALL_K,
    )


def _pq_recall_trained_sql() -> str:
    qv = "[" + ", ".join(repr(x) for x in _pq_query_vec()) + "]::DOUBLE[]"
    qd2 = (
        "list_sum(list_transform(range(1, {n}), "
        "i -> (qs.qv[i] - t.cw[i]) * (qs.qv[i] - t.cw[i])))"
    ).format(n=_PQ_D + 1)
    return f"""
WITH {_pq_trained_cte_body()},
q AS (SELECT {qv} AS qv),
qs AS (
  SELECT j AS sub_j, q.qv[j * {_PQ_D} + 1 : j * {_PQ_D} + {_PQ_D}] AS qv
  FROM q, generate_series(0, {_PQ_M - 1}) g(j)
),
lut AS (
  SELECT t.sub_j, t.code,
         CAST(FLOOR({qd2} * 10000 + 0.5) AS BIGINT) AS ld_q
  FROM trained t JOIN qs ON t.sub_j = qs.sub_j
),
dists AS (
  SELECT a2.vec_id, SUM(l.ld_q) AS adc_q
  FROM a2 JOIN lut l ON a2.sub_j = l.sub_j AND a2.code = l.code
  GROUP BY a2.vec_id
),
approx AS (SELECT vec_id FROM dists ORDER BY adc_q, vec_id LIMIT {_PQ_RECALL_K}),
short100 AS (SELECT vec_id FROM dists ORDER BY adc_q, vec_id LIMIT {_PQ_SHORTLIST}),
{_EXACT_L2_TOPK_CTE_TMPL.format(k=_PQ_RECALL_K)},
{_recall_row_sql()}"""


SPECS["pq_recall_trained"] = QuerySpec(
    _pq_recall_trained,
    _pq_recall_trained_sql(),
    "recall@10 of ADC over ONE-Lloyd-round trained codebooks (the training lift, measured)",
)


# --- binary (1-bit) quantization serving (r14) -------------------------------
# The third point of the quantization matrix after PQ (trained/ADC/
# residual/delta) and SQ8: sign-bit codes — 1 bit per dimension, a 32x
# compression over fp32 — scanned with Hamming distance and fixed by an
# exact float re-rank.  This is the compressed-linear-scan shape
# production vector stores ship (pgvector `bit(n)` + hamming ops,
# Milvus BINARY_VECTOR, the "binary quantization" arm of every 2024
# embedding-at-scale writeup): at 100 TB the code table is small enough
# to scan (or mmap) where the float table is not, XOR+popcount is the
# cheapest distance arithmetic that exists, and recall is recovered by
# re-ranking the short Hamming list with the true metric.  Composition
# with the IVF router (route cells, Hamming within the cell) is the
# same one-join change as topk_ivf_sq8.
#
# Portability: the 64 sign bits pack into TWO 32-bit halves held as
# BIGINTs (a single 64-bit word would put bit 63 in the sign position),
# so packing, XOR, and popcount are exact integer ops both engines
# spell identically; the Hamming shortlist cut is (distance ASC,
# vec_id) — no FP anywhere before the final re-rank.

# measured at sf0.1 (quant_recall_matrix methodology): the exact
# top-10's coverage by the Hamming shortlist is 5/8/10/10 at widths
# 64/128/256/512 — 64-bit codes on 64-dim embeddings need ~256
# candidates for full recall@10, and a 256-row float re-rank is still
# negligible next to the code scan.  Production dims: MEASURED by
# tools/quant_dim_probe.py (SCALING.md wave 29c) at the reference's
# 768 dims (src/rag/sqlx.rs:42), n=20k clustered corpus — coverage@256
# = 0.95 at 1.3% of the corpus vs the 64-d fixture needing ~13% of its
# corpus for the same coverage: more bits shrink the shortlist as a
# FRACTION of n by ~10x, while the ABSOLUTE width for full recall
# still grows with n (sign codes have fixed resolution) — which is
# exactly why the serving form routes cells first (topk_ivf_binary)
# instead of widening a global Hamming scan.
_BINARY_RERANK_SHORTLIST = 256


def _pack_sign_bits(vec_col: str, start: int):
    """Σ 2^i over dims [start, start+32) with a positive sign — exact
    BIGINT < 2^32.  Strictly-positive counts as 1 (ties at 0.0 are 0
    in both engines).  r15: rendered as ONE F.expr string (the 64
    chained when-terms cost ~300 py4j round-trips per build); identical
    CASE/element_at arithmetic, bit-identical codes."""
    terms = " + ".join(
        f"CASE WHEN element_at({vec_col}, {start + i + 1}) > 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i in range(32)
    )
    return F.expr(f"CAST({terms} AS BIGINT)")


def _topk_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    codes = emb.select(
        "vec_id",
        _pack_sign_bits("embedding", 0).alias("lo"),
        _pack_sign_bits("embedding", 32).alias("hi"),
    )
    qc = codes.filter(F.col("vec_id") == 0).select(
        F.col("lo").alias("qlo"), F.col("hi").alias("qhi")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    hamming = F.bit_count(
        F.col("lo").bitwiseXOR(F.col("qlo"))
    ) + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi")))
    shortlist = (
        codes.crossJoin(F.broadcast(qc))
        .select("vec_id", hamming.cast("int").alias("hd"))
        .orderBy("hd", "vec_id")
        .limit(_BINARY_RERANK_SHORTLIST)
        .select("vec_id")
    )
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            portable_round(cosine_similarity("embedding", "qv"), 4).alias(
                "sim"
            ),
        )
        .orderBy(F.desc("sim"), F.col("vec_id"))
        .limit(10)
    )


def _sql_pack_sign_bits(start: int) -> str:
    """DuckDB twin of ``_pack_sign_bits`` — ONE definition shared by
    every binary-code oracle (topk_binary_rerank, quant_recall_matrix)."""
    terms = " + ".join(
        f"CASE WHEN embedding[{start + i + 1}] > 0 THEN {1 << i} ELSE 0 END"
        for i in range(32)
    )
    return f"CAST({terms} AS BIGINT)"


def _topk_binary_rerank_sql() -> str:
    from .ivf_sql import SQL_COS

    pack = _sql_pack_sign_bits
    cos_eq = SQL_COS.format(a="e.embedding", b="q.qv")
    return f"""
WITH codes AS (
  SELECT vec_id, {pack(0)} AS lo, {pack(32)} AS hi FROM embeddings
),
qc AS (SELECT lo AS qlo, hi AS qhi FROM codes WHERE vec_id = 0),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
short AS (
  SELECT vec_id FROM (
    SELECT c.vec_id,
           CAST(bit_count(xor(c.lo, qc.qlo)) + bit_count(xor(c.hi, qc.qhi))
                AS INTEGER) AS hd
    FROM codes c, qc
  ) ORDER BY hd, vec_id
  LIMIT {_BINARY_RERANK_SHORTLIST}
)
SELECT e.vec_id,
       FLOOR(({cos_eq}) * 10000 + 0.5) / 10000 AS sim
FROM embeddings e JOIN short USING (vec_id), q
ORDER BY sim DESC, e.vec_id
LIMIT 10
"""


SPECS["topk_binary_rerank"] = QuerySpec(
    _topk_binary_rerank,
    _topk_binary_rerank_sql(),
    "binary (1-bit sign) quantization serving: 64-bit Hamming scan over "
    "packed codes (two exact BIGINT halves, XOR+popcount), exact float "
    "re-rank of the top-256 (the measured full-recall@10 width — "
    "quant_recall_matrix) — the 32x-compressed linear-scan arm",
)


# --- routed binary serving (VERDICT r14 #3) ---------------------------------
# The 100 TB serving form of the binary arm: topk_binary_rerank is the
# honest compressed-LINEAR-SCAN shape; production composes the same
# codes with the IVF router — route the query's 2 nearest cells, scan
# sign-bit codes within those cells only, exact float re-rank of the
# Hamming shortlist.  Exactly the one-join change topk_ivf_sq8 made to
# its scalar codes (the code comment there claimed it; this query
# proves it, oracle-paired): cost at scale is O(2 x cell_size)
# XOR+popcounts — the cheapest per-candidate arithmetic in the whole
# quantization matrix — instead of O(n).  Stored-codes discipline as
# sq8: codes are computed for the ROUTED candidates only (in
# production they are stored next to the assignment, packed once at
# ingest); query-time never re-encodes the corpus (the wave-27 x64
# lesson).  No FP before the re-rank: the shortlist cut is (integer
# Hamming ASC, vec_id) in both engines.


def _topk_ivf_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import cosine_similarity
    from ..operators.ann import ivf_seed_centroids, route_query_cells

    # the SAME build-once family every full-corpus consumer rides
    emb, _, k, ns, assign = full_corpus(spark, sf_dir)
    qc = (
        emb.filter(F.col("vec_id") == 0)
        .select(
            _pack_sign_bits("embedding", 0).alias("qlo"),
            _pack_sign_bits("embedding", 32).alias("qhi"),
        )
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    qcells = route_query_cells(
        q, ivf_seed_centroids(emb, k), ns, n_cells=2
    )
    cand = assign.join(F.broadcast(qcells), "cid").select("vec_id")
    cand_codes = emb.join(cand, "vec_id").select(
        "vec_id",
        _pack_sign_bits("embedding", 0).alias("lo"),
        _pack_sign_bits("embedding", 32).alias("hi"),
    )
    hamming = F.bit_count(
        F.col("lo").bitwiseXOR(F.col("qlo"))
    ) + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi")))
    shortlist = (
        cand_codes.crossJoin(F.broadcast(qc))
        .select("vec_id", hamming.cast("int").alias("hd"))
        .orderBy("hd", "vec_id")
        .limit(_BINARY_RERANK_SHORTLIST)
        .select("vec_id")
    )
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            portable_round(cosine_similarity("embedding", "qv"), 4).alias(
                "sim"
            ),
        )
        .orderBy(F.desc("sim"), F.col("vec_id"))
        .limit(5)
    )


def _topk_ivf_binary_sql() -> str:
    from .ivf_sql import SQL_COS, hier_assign_ctes

    pack = _sql_pack_sign_bits
    cos_qs = SQL_COS.format(a="q.qv", b="s.sv")
    cos_qc = SQL_COS.format(a="q.qv", b="c2.cv")
    cos_eq = SQL_COS.format(a="e.embedding", b="q.qv")
    return f"""
WITH {hier_assign_ctes()},
codes AS (
  SELECT vec_id, {pack(0)} AS lo, {pack(32)} AS hi FROM embeddings
),
qc AS (SELECT lo AS qlo, hi AS qhi FROM codes WHERE vec_id = 0),
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
),
short AS (
  SELECT vec_id FROM (
    SELECT c.vec_id,
           CAST(bit_count(xor(c.lo, qc.qlo)) + bit_count(xor(c.hi, qc.qhi))
                AS INTEGER) AS hd
    FROM codes c
    JOIN hier h ON c.vec_id = h.vec_id
    JOIN qcells cc ON h.cid_hier = cc.cid, qc
  ) ORDER BY hd, vec_id
  LIMIT {_BINARY_RERANK_SHORTLIST}
)
SELECT e.vec_id,
       FLOOR(({cos_eq}) * 10000 + 0.5) / 10000 AS sim
FROM embeddings e JOIN short USING (vec_id), q
ORDER BY sim DESC, e.vec_id
LIMIT 5
"""


SPECS["topk_ivf_binary"] = QuerySpec(
    _topk_ivf_binary,
    _topk_ivf_binary_sql(),
    "routed binary-quantization serving: 2-cell IVF probe, XOR+popcount "
    "Hamming over the routed candidates' sign-bit codes only "
    "(stored-codes discipline), exact float re-rank — the sq8 "
    "composition with the cheapest scorer in the quantization matrix",
)


# --- three-tier cascade serving (r15) ---------------------------------------
# The staged-refinement shape production vector stores actually ship
# (FAISS IndexRefine / "binary quantization + rescoring" in every 2024
# deployment writeup; pgvector's bit(n) prefilter + halfvec rescore):
# each tier touches FEWER candidates with a MORE precise (and more
# expensive) scorer, so per-query cost concentrates where precision
# matters.  Tier 0 routes 2 IVF cells (O(k) centroid arithmetic);
# tier 1 scans the routed candidates' 1-bit sign codes with
# XOR+popcount Hamming (32x-compressed, the cheapest arithmetic —
# keeps 64); tier 2 re-ranks the 64 with int8 symmetric-quantized
# cosine (4x-compressed integer dots — keeps 20); tier 3 re-ranks the
# 20 with exact float cosine (keeps 5).  At 100 TB: the float table is
# touched for 20 rows per query, the int8 table for 64, the bit table
# for O(2 x cell) — the memory/IO hierarchy maps onto the storage
# tiers.  Every inter-tier cut is portable by construction: exact
# integers (Hamming), the 1e-4 grid (int8 cosine), vec_id tie-breaks —
# both engines cut identical sets, so the composed answer hash-checks.
# Widths: tier-1 keeps _QRM_SHORTLIST (64, the measured
# shortlist-recall@64 operating point in quant_recall_matrix), tier 2
# keeps _SQ8_RERANK (20, the sq8 arm's width).

# 64 == _QRM_SHORTLIST (defined below; literal here — the quant matrix
# section follows this one), 20 == the sq8 arm's rerank width
_CASCADE_T1, _CASCADE_T2 = 64, _SQ8_RERANK


def _topk_ivf_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import cosine_similarity
    from ..operators.ann import ivf_seed_centroids, route_query_cells

    emb, _, k, ns, assign = full_corpus(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    qb = emb.filter(F.col("vec_id") == 0).select(
        _pack_sign_bits("embedding", 0).alias("qlo"),
        _pack_sign_bits("embedding", 32).alias("qhi"),
    )
    qcode = _quantized(emb.filter(F.col("vec_id") == 0)).select(
        F.col("q").cast("array<double>").alias("qc")
    )
    # tier 0: route
    qcells = route_query_cells(q, ivf_seed_centroids(emb, k), ns, n_cells=2)
    cand = assign.join(F.broadcast(qcells), "cid").select("vec_id")
    # tier 1: 1-bit Hamming over the routed candidates (stored codes)
    cand_bits = emb.join(cand, "vec_id").select(
        "vec_id",
        _pack_sign_bits("embedding", 0).alias("lo"),
        _pack_sign_bits("embedding", 32).alias("hi"),
    )
    hamming = F.bit_count(
        F.col("lo").bitwiseXOR(F.col("qlo"))
    ) + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi")))
    t1 = (
        cand_bits.crossJoin(F.broadcast(qb))
        .select("vec_id", hamming.cast("int").alias("hd"))
        .orderBy("hd", "vec_id")
        .limit(_CASCADE_T1)
        .select("vec_id")
    )
    # tier 2: int8 cosine over the tier-1 survivors (1e-4 grid cut)
    t1_codes = _quantized(emb.join(F.broadcast(t1), "vec_id")).select(
        "vec_id", F.col("q").cast("array<double>").alias("code")
    )
    t2 = (
        t1_codes.crossJoin(F.broadcast(qcode))
        .select(
            "vec_id",
            F.floor(cosine_similarity("code", "qc") * 10000 + 0.5)
            .cast("long")
            .alias("asim"),
        )
        .orderBy(F.desc("asim"), "vec_id")
        .limit(_CASCADE_T2)
        .select("vec_id")
    )
    # tier 3: exact float re-rank of the 20 survivors
    return (
        emb.join(F.broadcast(t2), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            portable_round(cosine_similarity("embedding", "qv"), 4).alias(
                "sim"
            ),
        )
        .orderBy(F.desc("sim"), F.col("vec_id"))
        .limit(5)
    )


def _topk_ivf_cascade_sql() -> str:
    from .ivf_sql import SQL_COS, hier_assign_ctes

    pack = _sql_pack_sign_bits
    cos_qs = SQL_COS.format(a="q.qv", b="s.sv")
    cos_qc = SQL_COS.format(a="q.qv", b="c2.cv")
    cos_eq = SQL_COS.format(a="e.embedding", b="q.qv")
    cos_code = (
        "list_dot_product(d.code, qcode.qc) / "
        "(sqrt(list_dot_product(d.code, d.code)) * "
        "sqrt(list_dot_product(qcode.qc, qcode.qc)))"
    )
    return f"""
WITH {hier_assign_ctes()},
codes AS (
  SELECT vec_id, {pack(0)} AS lo, {pack(32)} AS hi FROM embeddings
),
qb AS (SELECT lo AS qlo, hi AS qhi FROM codes WHERE vec_id = 0),
qd AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> floor(x / {_SQL_QSCALE} + 0.5)) AS code
  FROM embeddings
),
qcode AS (SELECT code AS qc FROM qd WHERE vec_id = 0),
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
),
t1 AS (
  SELECT vec_id FROM (
    SELECT c.vec_id,
           CAST(bit_count(xor(c.lo, qb.qlo)) + bit_count(xor(c.hi, qb.qhi))
                AS INTEGER) AS hd
    FROM codes c
    JOIN hier h ON c.vec_id = h.vec_id
    JOIN qcells cc ON h.cid_hier = cc.cid, qb
  ) ORDER BY hd, vec_id
  LIMIT {_CASCADE_T1}
),
t2 AS (
  SELECT vec_id FROM (
    SELECT d.vec_id,
           CAST(FLOOR(({cos_code}) * 10000 + 0.5) AS BIGINT) AS asim
    FROM qd d JOIN t1 USING (vec_id), qcode
  ) ORDER BY asim DESC, vec_id
  LIMIT {_CASCADE_T2}
)
SELECT e.vec_id,
       FLOOR(({cos_eq}) * 10000 + 0.5) / 10000 AS sim
FROM embeddings e JOIN t2 USING (vec_id), q
ORDER BY sim DESC, e.vec_id
LIMIT 5
"""


SPECS["topk_ivf_cascade"] = QuerySpec(
    _topk_ivf_cascade,
    _topk_ivf_cascade_sql(),
    "three-tier cascade serving (FAISS IndexRefine shape): 2-cell IVF "
    "route -> 1-bit Hamming keeps 64 -> int8 cosine keeps 20 -> exact "
    "float keeps 5; every inter-tier cut exact-integer or 1e-4-grid "
    "with vec_id tie-breaks, so the composed answer hash-checks",
)


# --- batched multi-query serving (late r15) ---------------------------------
# Every routed query so far serves ONE vector per invocation — the
# point-query shape.  A serving tier runs BATCHES: Q queries arrive
# together and the engine amortizes one corpus/assignment pass across
# all of them instead of launching Q jobs.  This query serves 5
# queries (vec_id 0-4) in one plan: batch routing via
# route_query_cells(id_col="qid") — per-query windows over the tiny
# broadcast centroid frames, |Q| x n_super arithmetic, no corpus work
# — then ONE equi-join of the (qid, cid) routing table against the
# stored assignment produces every query's candidates at once, one
# join attaches vectors, and a per-qid window takes each query's
# top-5.  Cost shape at 100 TB: the corpus-side work is a single
# shuffle-free routed-candidate join of size Σ|cells(q)| regardless
# of Q (vs Q separate jobs each paying scheduling + scan setup);
# per-query state is Q x nprobe rows of routing arithmetic.  The
# final rank cut is grid-quantized (1e-4, vec_id tie-break) so both
# engines cut identical per-query sets; the routing windows replay
# route_query_cells' exact comparator per qid (the qs/qcells CTE pair
# PARTITIONed BY qid).

_BATCH_Q, _BATCH_K = 5, 5


def _topk_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vector import cosine_similarity
    from ..operators.ann import ivf_seed_centroids, route_query_cells

    emb, _, k, ns, assign = full_corpus(spark, sf_dir)
    qset = emb.filter(F.col("vec_id") < _BATCH_Q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    qcells = route_query_cells(
        qset, ivf_seed_centroids(emb, k), ns, n_cells=2, id_col="qid"
    )
    cand = assign.join(F.broadcast(qcells), "cid").select("qid", "vec_id")
    scored = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(qset), "qid")
        .select(
            "qid",
            "vec_id",
            F.floor(cosine_similarity("embedding", "qv") * 10000 + 0.5)
            .cast("long")
            .alias("s"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("s"), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BATCH_K)
        .select(
            "qid",
            "vec_id",
            (F.col("s").cast("double") / 10000).alias("sim"),
        )
        .orderBy("qid", F.desc("sim"), "vec_id")
    )


def _topk_ivf_batch_sql() -> str:
    from .ivf_sql import SQL_COS, hier_assign_ctes

    cos_qs = SQL_COS.format(a="q.qv", b="s.sv")
    cos_qc = SQL_COS.format(a="q.qv", b="c2.cv")
    cos_eq = SQL_COS.format(a="e.embedding", b="q.qv")
    return f"""
WITH {hier_assign_ctes()},
qset AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         WHERE vec_id < {_BATCH_Q}),
qs AS (
  SELECT qid, sid FROM (
    SELECT q.qid, s.sid,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY ({cos_qs}) DESC, s.sid) AS rk
    FROM s, qset q
  ) WHERE rk <= 3
),
qcells AS (
  SELECT qid, cid FROM (
    SELECT qs.qid, c2.cid,
           ROW_NUMBER() OVER (PARTITION BY qs.qid
                              ORDER BY ({cos_qc}) DESC, c2.cid) AS rk
    FROM c2s c2 JOIN qs USING (sid)
    JOIN qset q ON qs.qid = q.qid
  ) WHERE rk <= 2
)
SELECT qid, vec_id, CAST(s AS DOUBLE) / 10000 AS sim FROM (
  SELECT q.qid, e.vec_id,
         CAST(FLOOR(({cos_eq}) * 10000 + 0.5) AS BIGINT) AS s,
         ROW_NUMBER() OVER (
           PARTITION BY q.qid
           ORDER BY CAST(FLOOR(({cos_eq}) * 10000 + 0.5) AS BIGINT) DESC,
                    e.vec_id) AS rk
  FROM embeddings e
  JOIN hier h ON e.vec_id = h.vec_id
  JOIN qcells qc ON h.cid_hier = qc.cid
  JOIN qset q ON qc.qid = q.qid
) WHERE rk <= {_BATCH_K}
ORDER BY qid, sim DESC, vec_id
"""


SPECS["topk_ivf_batch"] = QuerySpec(
    _topk_ivf_batch,
    _topk_ivf_batch_sql(),
    "batched multi-query serving: 5 queries routed per-qid in one plan "
    "(route_query_cells id_col batch mode), ONE assignment equi-join "
    "yields all queries' candidates, per-qid window takes each top-5 — "
    "the serving-tier amortization shape (grid-quantized rank cut)",
)


# --- quantization recall matrix (r14) ----------------------------------------
# The repo's rule: an approximation ships with its MEASURED operating
# point (filtered_recall_curve for the probe width, pq_recall_at_k /
# pq_recall_trained for ADC).  This query does the same for the two
# r14 quantizers: recall@10 (and shortlist-recall@64 — what survives
# into a 64-candidate re-rank) of the SQ8 int8-cosine ranking and of
# the 64-bit sign-code Hamming ranking, each brute-force over the
# whole corpus (measuring the QUANTIZER, not the router — the routed
# serving arms compose it with the probe curve).  Every ranking cut is
# on the exact 1e-4 integer grid (sq8/exact) or exact integers
# (Hamming), tie-broken by vec_id — both engines cut identical sets.

_QRM_K = 10
_QRM_SHORTLIST = 64


def _quant_recall_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import cosine_similarity
    from ..operators.ann import ivf_seed_centroids, route_query_cells

    emb, _, k, ns, assign = full_corpus(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    grid = lambda c: F.floor(c * 10000 + 0.5).cast("long")  # noqa: E731
    exact = (
        emb.crossJoin(F.broadcast(q))
        .select("vec_id", grid(cosine_similarity("embedding", "qv")).alias("s"))
        .orderBy(F.desc("s"), "vec_id")
        .limit(_QRM_K)
        .select("vec_id")
    )

    qd = _quantized(emb).select(
        "vec_id", F.col("q").cast("array<double>").alias("code")
    )
    qc = qd.filter(F.col("vec_id") == 0).select(F.col("code").alias("qc"))
    sq8_ranked = (
        qd.crossJoin(F.broadcast(qc))
        .select("vec_id", grid(cosine_similarity("code", "qc")).alias("s"))
        .orderBy(F.desc("s"), "vec_id")
    )

    bits = emb.select(
        "vec_id",
        _pack_sign_bits("embedding", 0).alias("lo"),
        _pack_sign_bits("embedding", 32).alias("hi"),
    )
    bq = bits.filter(F.col("vec_id") == 0).select(
        F.col("lo").alias("qlo"), F.col("hi").alias("qhi")
    )
    hamming = F.bit_count(
        F.col("lo").bitwiseXOR(F.col("qlo"))
    ) + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi")))
    bin_ranked = (
        bits.crossJoin(F.broadcast(bq))
        .select("vec_id", (-hamming).cast("long").alias("s"))
        .orderBy(F.desc("s"), "vec_id")
    )

    # binary_routed (r15): the same Hamming ranking RESTRICTED to the
    # 2-cell IVF probe — the operating point topk_ivf_binary actually
    # serves, so the router's recall cost on top of the quantizer's is a
    # measured number, not a claim
    qcells = route_query_cells(q, ivf_seed_centroids(emb, k), ns, n_cells=2)
    cand = assign.join(F.broadcast(qcells), "cid").select("vec_id")
    bin_routed_ranked = (
        bits.join(cand, "vec_id")
        .crossJoin(F.broadcast(bq))
        .select("vec_id", (-hamming).cast("long").alias("s"))
        .orderBy(F.desc("s"), "vec_id")
    )

    def row(method: str, ranked: DataFrame) -> DataFrame:
        return _recall_row(
            ranked.limit(_QRM_K).select("vec_id"),
            ranked.limit(_QRM_SHORTLIST).select("vec_id"),
            exact,
            _QRM_K,
        ).select(F.lit(method).alias("method"), "*")

    return (
        row("binary", bin_ranked)
        .unionByName(row("binary_routed", bin_routed_ranked))
        .unionByName(row("sq8", sq8_ranked))
        .orderBy("method")
    )


def _quant_recall_matrix_sql() -> str:
    from .ivf_sql import SQL_COS, hier_assign_ctes

    cos_eq = SQL_COS.format(a="e.embedding", b="q.qv")
    cos_qs = SQL_COS.format(a="q.qv", b="s.sv")
    cos_qc = SQL_COS.format(a="q.qv", b="c2.cv")
    cos_code = (
        "list_dot_product(d.code, qc.qc) / "
        "(sqrt(list_dot_product(d.code, d.code)) * "
        "sqrt(list_dot_product(qc.qc, qc.qc)))"
    )
    return f"""
WITH {hier_assign_ctes()},
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
exact AS (
  SELECT vec_id FROM (
    SELECT e.vec_id,
           CAST(FLOOR(({cos_eq}) * 10000 + 0.5) AS BIGINT) AS s
    FROM embeddings e, q
  ) ORDER BY s DESC, vec_id LIMIT {_QRM_K}
),
qd AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> floor(x / {_SQL_QSCALE} + 0.5)) AS code
  FROM embeddings
),
qc AS (SELECT code AS qc FROM qd WHERE vec_id = 0),
sq8r AS (
  SELECT d.vec_id,
         CAST(FLOOR(({cos_code}) * 10000 + 0.5) AS BIGINT) AS s
  FROM qd d, qc
),
bits AS (
  SELECT vec_id, {_sql_pack_sign_bits(0)} AS lo, {_sql_pack_sign_bits(32)} AS hi
  FROM embeddings
),
bq AS (SELECT lo AS qlo, hi AS qhi FROM bits WHERE vec_id = 0),
binr AS (
  SELECT b.vec_id,
         CAST(-(bit_count(xor(b.lo, bq.qlo)) + bit_count(xor(b.hi, bq.qhi)))
              AS BIGINT) AS s
  FROM bits b, bq
),
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
),
binrr AS (
  SELECT b.vec_id, b.s
  FROM binr b
  JOIN hier h ON b.vec_id = h.vec_id
  JOIN qcells cc ON h.cid_hier = cc.cid
),
sq8_top AS (SELECT vec_id FROM sq8r ORDER BY s DESC, vec_id LIMIT {_QRM_K}),
sq8_short AS (SELECT vec_id FROM sq8r ORDER BY s DESC, vec_id LIMIT {_QRM_SHORTLIST}),
bin_top AS (SELECT vec_id FROM binr ORDER BY s DESC, vec_id LIMIT {_QRM_K}),
bin_short AS (SELECT vec_id FROM binr ORDER BY s DESC, vec_id LIMIT {_QRM_SHORTLIST}),
binr_top AS (SELECT vec_id FROM binrr ORDER BY s DESC, vec_id LIMIT {_QRM_K}),
binr_short AS (SELECT vec_id FROM binrr ORDER BY s DESC, vec_id LIMIT {_QRM_SHORTLIST})
SELECT 'binary' AS method,
       CAST((SELECT COUNT(*) FROM bin_top JOIN exact USING (vec_id)) AS BIGINT) AS n_hits,
       CAST((SELECT COUNT(*) FROM bin_top JOIN exact USING (vec_id)) AS DOUBLE) / {_QRM_K} AS recall,
       CAST((SELECT COUNT(*) FROM bin_short JOIN exact USING (vec_id)) AS BIGINT) AS n_short_hits,
       CAST((SELECT COUNT(*) FROM bin_short JOIN exact USING (vec_id)) AS DOUBLE) / {_QRM_K} AS shortlist_recall
UNION ALL
SELECT 'binary_routed',
       CAST((SELECT COUNT(*) FROM binr_top JOIN exact USING (vec_id)) AS BIGINT),
       CAST((SELECT COUNT(*) FROM binr_top JOIN exact USING (vec_id)) AS DOUBLE) / {_QRM_K},
       CAST((SELECT COUNT(*) FROM binr_short JOIN exact USING (vec_id)) AS BIGINT),
       CAST((SELECT COUNT(*) FROM binr_short JOIN exact USING (vec_id)) AS DOUBLE) / {_QRM_K}
UNION ALL
SELECT 'sq8',
       CAST((SELECT COUNT(*) FROM sq8_top JOIN exact USING (vec_id)) AS BIGINT),
       CAST((SELECT COUNT(*) FROM sq8_top JOIN exact USING (vec_id)) AS DOUBLE) / {_QRM_K},
       CAST((SELECT COUNT(*) FROM sq8_short JOIN exact USING (vec_id)) AS BIGINT),
       CAST((SELECT COUNT(*) FROM sq8_short JOIN exact USING (vec_id)) AS DOUBLE) / {_QRM_K}
ORDER BY method
"""


SPECS["quant_recall_matrix"] = QuerySpec(
    _quant_recall_matrix,
    _quant_recall_matrix_sql(),
    "measured operating points of the quantizers: recall@10 and "
    "shortlist-recall@64 of the SQ8 int8-cosine ranking, the 64-bit "
    "sign-code Hamming ranking, and (r15) the ROUTED Hamming ranking "
    "(2-cell IVF probe — the point topk_ivf_binary serves) vs exact "
    "cosine (grid-quantized cuts, identical in both engines)",
)
