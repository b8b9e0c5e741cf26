"""Retrieval-quality evaluation queries: measured ANN recall and
hard-negative mining.

The ANN ladder (topk_cosine -> ann_ivf -> topk_pq_adc -> topk_ivf_pq ->
topk_pq_rerank) gives the *mechanisms* that survive 100 TB; these queries
add the *measurement* a production vector store runs continuously:

- ``ann_recall_at_k`` — per-query recall@10 of the IVF nprobe=1 path
  against exact brute-force ground truth over a fixed anchor sample.
  This is the metric every ANN deployment dashboards (the reference
  declares pgvector similarity search at src/rag/sqlx.rs:22-42 without
  ever measuring it; SCALING.md's LSH recall sweep measures our LSH arm
  offline — this puts the IVF arm's recall IN the catalog, oracle-paired).
- ``hard_negative_mining`` — per-anchor top-5 similar-but-not-near-dup
  candidates fenced inside the anchor's IVF cluster: the contrastive-
  training data op (mine negatives that are hard enough to teach the
  model but below the near-dup bar so they are true negatives).
- ``ivf_recall_clustered`` — the nprobe/recall/candidate-fraction curve
  on a CLUSTERED corpus derived from ``documents`` (see its section
  comment): the measured counterpart to ``ivf_pq_operating_curve``'s
  isotropic regime.
- ``bitext_mining_eval`` — the margin miner (plans/similarity.py::
  bitext_margin_pairs) measured against PLANTED parallel pairs:
  precision/recall vs threshold under the production fence.

Scale design, explicitly:

- The anchor set is a FIXED-size sample (``vec_id % 100 = 7 AND
  vec_id < 2000`` — at most 20 anchors at any corpus size), so the exact
  ground-truth arm is O(n * |Q|), linear in the corpus: this is how real
  systems compute ANN ground truth too (a frozen query sample, never
  all-pairs).
- The exact arm's per-anchor top-10 uses the TWO-PHASE top-k: phase 1
  keeps each scan partition's local top-10 per anchor (window over
  (qid, partition), bounded partitions), phase 2 merges only
  10 * n_partitions rows per anchor.  A single window over qid would
  shuffle all n rows into |Q| partitions — the classic top-k skew.
  Correctness is partition-invariant: the global top-10 is a subset of
  the union of per-partition top-10s for ANY partitioning, so the
  nondeterministic partition id never reaches the result.
- The approx arm and the miner touch only the anchor's cluster
  (~125 rows under the k = max(8, n/125) rule shared with knn_graph_ivf
  and semdedup; n from parquet footers, plan construction stays
  job-free).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import portable_round
from ..functions.vector import squared_l2, squared_l2_sql
from ..io.materialize import materialize
from ..io.sources import load_table, local_rows, parquet_row_count
from ..operators.ann import hier_super_count, ivf_assign_hier
from .embeddings_index import full_corpus
from .ivf_sql import HIER_ASSIGN_CTES as _HIER_ASSIGN_CTES
from .recall import hit_counts, recall_curve, zero_filled
from .registry import QuerySpec
from .similarity import _SQL_COS

_RECALL_K = 10
_HARDNEG_K = 5
# Hard-negative band: similar enough to be hard (>= 0.10 on a corpus
# whose cosine mass sits in [-0.3, 0.35]) but strictly below the
# corpus's near-dup threshold (0.35, similarity.py) with margin — a
# mined "negative" that is secretly a duplicate would poison the loss.
_HARDNEG_LO = 0.10
_HARDNEG_HI = 0.30

_ANCHOR_PRED = "vec_id % 100 = 7 AND vec_id < 2000"


def _ivf_pieces(spark: SparkSession, sf_dir: str):
    """Shared build: (norm-carrying embeddings, anchors, anchor-cluster
    candidates scored by rounded cosine).  Candidates are fenced inside
    the anchor's cluster (nprobe=1) and exclude the anchor itself.

    Norms are hoisted out of the pair loops (the exact_cosine_pairs
    trick): sim = dot/(nv*nq) with each norm computed once per vector —
    bit-identical to the per-pair cosine (same fold/sqrt/divide), a
    third of the flops in both the fenced and the exact arm.

    Assignment is the TWO-LEVEL quantizer (r9): flat assignment at the
    corpus-scaled k is n*k = n^2/125 cosines — the named next quadratic
    (VERDICT r8) — vs n*(1+nprobe)*sqrt(k) for hier.  The recall this
    module measures is therefore the recall of the arm a 100 TB
    deployment actually runs; ivf_hier_quality separately measures the
    assignment's agreement with flat."""
    from ..functions.vector import dot_product, l2_norm

    emb, *_, assign = full_corpus(spark, sf_dir)
    embn = emb.select(
        "vec_id", "embedding", l2_norm("embedding").alias("nv")
    )
    anchors = embn.filter(F.expr(_ANCHOR_PRED)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("nv").alias("nq"),
    )
    sim = portable_round(
        dot_product("embedding", "qv") / (F.col("nv") * F.col("nq")), 4
    )
    qassign = (
        assign.withColumnRenamed("vec_id", "qid")
        .join(anchors, "qid")
        .select("qid", F.col("cid").alias("qcid"), "qv", "nq")
    )
    cand = (
        embn.join(assign, "vec_id")
        .join(F.broadcast(qassign), F.col("cid") == F.col("qcid"))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", sim.alias("sim"))
    )
    return embn, anchors, cand


def _ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import dot_product

    embn, anchors, cand = _ivf_pieces(spark, sf_dir)

    # exact ground truth: two-phase top-10 per anchor (see module doc;
    # ONE shared implementation — operators/ranking.py::two_phase_topk)
    from ..operators.ranking import two_phase_topk

    scored = (
        embn.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            portable_round(
                dot_product("embedding", "qv") / (F.col("nv") * F.col("nq")),
                4,
            ).alias("sim"),
        )
    )
    exact = two_phase_topk(
        scored, "qid", [F.desc("sim"), F.asc("vec_id")], _RECALL_K
    ).select("qid", "vec_id")

    wa = Window.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    approx = (
        cand.withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") <= _RECALL_K)
        .select("qid", "vec_id")
    )

    hits = hit_counts(approx, exact, ["qid", "vec_id"], by=("qid",))
    return zero_filled(anchors.select("qid"), hits).select(
        "qid",
        F.col("nh").alias("n_hits"),
        (F.col("nh").cast("double") / F.lit(float(_RECALL_K))).alias("recall"),
    )


_COS_EA = _SQL_COS.format(a="e.embedding", b="a.qv")

# Shared oracle CTE prefix: the shared two-level assignment chain
# (plans/ivf_sql.py — the DuckDB twin of ivf_assign_hier), an `assign`
# adapter over it, anchors, and anchor-cluster candidates with rounded
# cosine — the oracle twin of _ivf_pieces.
_IVF_PIECES_CTE = f"""
{_HIER_ASSIGN_CTES},
assign AS (SELECT vec_id, cid_hier AS cid FROM hier),
anchors AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
            WHERE {_ANCHOR_PRED}),
qa AS (SELECT a.qid, s.cid AS qcid, a.qv
       FROM anchors a JOIN assign s ON a.qid = s.vec_id),
cand AS (
  SELECT qa.qid, e.vec_id,
         FLOOR(({_SQL_COS.format(a="e.embedding", b="qa.qv")}) * 10000 + 0.5) / 10000 AS sim
  FROM embeddings e
  JOIN assign s ON e.vec_id = s.vec_id
  JOIN qa ON s.cid = qa.qcid AND e.vec_id <> qa.qid
)
"""

_ANN_RECALL_SQL = f"""
WITH {_IVF_PIECES_CTE},
exact AS (
  SELECT qid, vec_id FROM (
    SELECT a.qid, e.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY a.qid
             ORDER BY FLOOR(({_COS_EA}) * 10000 + 0.5) / 10000 DESC, e.vec_id
           ) AS rk
    FROM embeddings e JOIN anchors a ON e.vec_id <> a.qid
  ) WHERE rk <= {_RECALL_K}
),
approx AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rk
    FROM cand
  ) WHERE rk <= {_RECALL_K}
),
hits AS (
  SELECT qid, COUNT(*) AS n_hits
  FROM approx JOIN exact USING (qid, vec_id) GROUP BY qid
)
SELECT a.qid,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {float(_RECALL_K)} AS recall
FROM anchors a LEFT JOIN hits h ON a.qid = h.qid
"""


def _hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, cand = _ivf_pieces(spark, sf_dir)
    banded = cand.filter(
        (F.col("sim") >= _HARDNEG_LO) & (F.col("sim") < _HARDNEG_HI)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    return (
        banded.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _HARDNEG_K)
        .select("qid", F.col("vec_id").alias("neg_id"), "sim")
    )


_HARDNEG_SQL = f"""
WITH {_IVF_PIECES_CTE}
SELECT qid, vec_id AS neg_id, sim FROM (
  SELECT qid, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rk
  FROM cand
  WHERE sim >= {_HARDNEG_LO} AND sim < {_HARDNEG_HI}
) WHERE rk <= {_HARDNEG_K}
"""


SPECS: dict[str, QuerySpec] = {
    "ann_recall_at_k": QuerySpec(
        _ann_recall_at_k,
        _ANN_RECALL_SQL,
        "measured recall@10 of the IVF nprobe=1 path vs exact ground truth over a fixed anchor sample",
    ),
    "hard_negative_mining": QuerySpec(
        _hard_negative_mining,
        _HARDNEG_SQL,
        "contrastive hard negatives: top-5 in-cluster candidates in the [0.10, 0.30) similarity band",
    ),
}


# --- hierarchical-assignment quality (the flat-assignment scale escape) ----
# With the corpus-scaled k ~ n/125, FLAT coarse assignment is n*k =
# n^2/125 cosines — the next quadratic after the pair joins it fences
# (wave-11: ivf_maintenance 0.75/0.74/3.13 s at 1x/4x/16x).  The
# production escape is the two-level quantizer (operators/ann.py::
# ivf_assign_hier, n * 2*sqrt(k) cosines); it is APPROXIMATE, so this
# query MEASURES the agreement with flat assignment — the number a
# deployment checks before switching the index build to the
# hierarchical path.  n_super = max(2, floor(sqrt(k))) and nprobe=3 in
# both engines (the fixture's isotropic vectors are the routing worst
# case; nprobe 1/2/3/4 measured 0.49 / 0.68 / 0.85 / 1.0 at sf0.1).


def _ivf_hier_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import (
        ivf_assign,
        ivf_seed_centroids,
        scaled_cluster_count,
    )

    n = parquet_row_count(sf_dir, "embeddings")
    k = scaled_cluster_count(n)
    ns = hier_super_count(k)
    emb = load_table(spark, sf_dir, "embeddings")
    cent = ivf_seed_centroids(emb, k)
    flat = ivf_assign(emb, cent).withColumnRenamed("cid", "cid_flat")
    hier = ivf_assign_hier(emb, cent, ns, n_centroids=k).withColumnRenamed(
        "cid", "cid_hier"
    )
    return (
        flat.join(hier, "vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("cid_flat") == F.col("cid_hier"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_agree"),
        )
        .select(
            "n",
            "n_agree",
            (F.col("n_agree").cast("double") / F.col("n")).alias("agree_frac"),
        )
    )


_COS_EC2 = _SQL_COS.format(a="e.embedding", b="c.cv")

# The hier-assignment CTE chain itself lives in plans/ivf_sql.py (ONE
# definition, shared with knn_graph_ivf / semdedup / ivf_maintenance /
# the pieces above), imported as _HIER_ASSIGN_CTES.

_IVF_HIER_QUALITY_SQL = f"""
WITH {_HIER_ASSIGN_CTES},
flat AS (
  SELECT vec_id, cid AS cid_flat FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY ({_COS_EC2}) DESC, c.cid) AS rk
    FROM embeddings e, c
  ) WHERE rk = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN cid_flat = cid_hier THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       CAST(SUM(CASE WHEN cid_flat = cid_hier THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS agree_frac
FROM flat JOIN hier USING (vec_id)
"""


SPECS["ivf_hier_quality"] = QuerySpec(
    _ivf_hier_quality,
    _IVF_HIER_QUALITY_SQL,
    "two-level quantizer agreement with flat IVF assignment (the n*k -> n*2sqrt(k) scale escape, measured)",
)


# --- the search query on the hierarchical index ---------------------------
# ann_ivf's twin with BOTH scale rules applied: corpus-scaled k (cluster
# size bounded for the probe) AND two-level assignment (index build cost
# n*2sqrt(k) instead of n*k) — the shape that survives when both n and k
# are large.  Same query vector (vec_id 0), same probed-cluster top-5.


def _ann_ivf_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import cosine_similarity

    emb, *_, hier = full_corpus(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    qcid = hier.filter(F.col("vec_id") == 0).select(
        F.col("cid").alias("qcid")
    )
    return (
        emb.join(hier, "vec_id")
        .join(F.broadcast(qcid), F.col("cid") == F.col("qcid"))
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


_COS_EQ2 = _SQL_COS.format(a="e.embedding", b="q.qv")

_ANN_IVF_HIER_SQL = f"""
WITH {_HIER_ASSIGN_CTES},
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qc AS (SELECT cid_hier AS cid FROM hier WHERE vec_id = 0)
SELECT e.vec_id,
       FLOOR(({_COS_EQ2}) * 10000 + 0.5) / 10000 AS sim
FROM embeddings e
JOIN hier h ON e.vec_id = h.vec_id
JOIN qc ON h.cid_hier = qc.cid, q
ORDER BY sim DESC, e.vec_id
LIMIT 5
"""


SPECS["ann_ivf_hier"] = QuerySpec(
    _ann_ivf_hier,
    _ANN_IVF_HIER_SQL,
    "IVF search through the two-level quantizer (corpus-scaled k + sqrt(k)-super routing)",
)


# --- ivf_recall_clustered: the curve's other regime, measured --------------
# ``ivf_pq_operating_curve`` (plans/pq_trained.py) measures IVF serving
# on the ISOTROPIC fixture embeddings, where recall tracks the candidate
# fraction almost linearly and >=0.9 is only affordable un-pruned — and
# its docstring claims that "on a clustered corpus the same query
# measures where >=0.9 becomes affordable below nprobe = k".  This query
# SUBSTANTIATES that claim instead of asserting it: it derives a
# clusterable corpus deterministically from the ``documents`` table
# (topic = lang|source — the natural grouping a multilingual crawl has),
# runs the SAME serving shape (seeded IVF cells, nprobe-routed
# candidates, exact re-rank within candidates), and reports the
# (nprobe, recall, candidate-fraction) rows next to the isotropic curve.
#
# Corpus construction (both engines, exact in doubles — the dyadic-grid
# discipline from operators/embed.py::DyadicEmbedder):
#   center[t][i] = hex4(md5(topic:i))            / 2^16          (16 dims)
#   v[doc]       = center[topic(doc)] + (hex4(md5(d<doc_id>:i))/2^16
#                                        - 0.5) / 16
#   query[qid]   = center[topic(doc qid)] + a fresh 'q<qid>:i'
#                  perturbation (qid 0..4 — NOT corpus members, so there
#                  is no self-hit to exclude)
# Every component is a multiple of 2^-20 bounded by ~1.07, so squared-L2
# distances are exact 46-bit sums both engines replay bit-identically —
# no rounding seam anywhere in the ranking keys (registry rule: exactness
# at the arithmetic level beats rounding at the seam).
#
# Scale shape: assignment is n x K cosines with FIXED K=32 (this is a
# routing-geometry measurement, not a fence — the corpus-scaled-k build
# path is ``ann_ivf_hier``); candidates per arm are an equi-join on the
# routed cell; shortlists and the ground-truth arm are two-phase top-k
# over 5 frozen queries — O(n * |Q|), the frozen-query-sample pattern
# ann_recall_at_k documents.  Nothing quadratic, nothing collected.
#
# Reference parity note: the reference declares pgvector cosine search
# (src/rag/sqlx.rs:22-42) and never measures recall on any corpus; this
# is north-star capability for the 100 TB pipeline.

_CL_D = 16  # embedding dims (enough to separate ~100 topics)
_CL_K = 32  # seeded IVF cells
_CL_NQ = 5  # evaluation queries: the topics of doc_id 0..4
_CL_ARMS = (1, 2, 4, 8)
_CL_TOPK = 10


def _hex4_sql_spark(h_sql: str) -> str:
    """Spark-SQL rendering of ``_hex_slice_to_int(h, 1, 4)`` — the same
    instr-based digit arithmetic, value-identical BIGINT."""
    terms = [
        f"CAST((instr('0123456789abcdef', substring({h_sql}, {1 + i}, 1)) - 1)"
        f" AS BIGINT) * {16 ** (3 - i)}"
        for i in range(4)
    ]
    return "(" + " + ".join(terms) + ")"


def _cl_vec_expr(topic_sql: str, tag_sql: str, d: int = _CL_D) -> Column:
    """center(topic) + perturbation(tag) as an array<double>, 2*d md5s
    per row, pure codegen, no shuffle (``d`` defaults to the
    clustered-recall geometry).  Rendered as ONE ``F.expr`` string
    (r15): composing the projection out of individual Column ops cost
    2-4 s of py4j round-trips PER QUERY BUILD (measured); the string
    parses in milliseconds.  ``_cl_vec_py`` is its plain-Python replay
    (pinned bit for bit by test_retrieval_eval)."""
    dims = []
    for i in range(d):
        c = _hex4_sql_spark(f"md5(concat({topic_sql}, ':{i}'))")
        p = _hex4_sql_spark(f"md5(concat({tag_sql}, ':{i}'))")
        dims.append(
            f"CAST({c} AS DOUBLE) / 65536.0D"
            f" + (CAST({p} AS DOUBLE) / 65536.0D - 0.5D) / 16.0D"
        )
    return F.expr("array(" + ", ".join(dims) + ")")


def _literal_cells_expr(rows: list[tuple[int, list[float]]]) -> Column:
    """(cid, vector) literals as ONE parsed array-of-structs expression
    — the in-place argmin's broadcast side.  CAST('<repr>' AS DOUBLE)
    round-trips Python floats exactly (Java parseDouble)."""
    parts = []
    for cid, cv in rows:
        arr = ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in cv)
        parts.append(
            f"named_struct('cid', CAST({cid} AS BIGINT), 'cv', array({arr}))"
        )
    return F.expr("array(" + ", ".join(parts) + ")")


def _cl_vec_py(topic: str, tag: str, d: int = _CL_D) -> list[float]:
    """Plain-Python replay of ``_cl_vec_expr``: every component is a
    dyadic rational (multiple of 2^-20, bounded by ~1.07), so IEEE
    doubles carry the arithmetic exactly and Python reproduces the
    engine columns bit-for-bit — the same exactness argument the
    driver-side ``ranked`` cell routing has always relied on.  r15: the
    seeds and query vectors are frozen eval constants; computing them
    here removes two collect JOBS (one of which re-analyzed and re-ran
    the 2*d-md5 projection just to fetch 5 rows)."""
    import hashlib

    out = []
    for i in range(d):
        c = int(hashlib.md5(f"{topic}:{i}".encode()).hexdigest()[:4], 16)
        p = int(hashlib.md5(f"{tag}:{i}".encode()).hexdigest()[:4], 16)
        out.append(c / 65536.0 + (p / 65536.0 - 0.5) / 16.0)
    return out


def _ivf_recall_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import two_phase_topk

    n = parquet_row_count(sf_dir, "documents")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.concat_ws("|", "lang", "source").alias("topic")
    )
    # Lineage cut on the derived corpus: without it Catalyst INLINES the
    # 2*_CL_D md5/conv expressions into every join branch — the n x K
    # assignment cross join then evaluates 32 md5s per JOINED row
    # (measured: 5.1M md5s, 6.3 s for the assignment alone at sf0.1)
    # instead of 32 per corpus row.  The checkpoint materializes the
    # projection once; every consumer reads plain arrays.
    from ..io.sources import ensure_parallelism

    # spread the single-file docs scan BEFORE the per-dim md5
    # projection (spreading the projected frame left the md5 work in
    # the single pre-shuffle partition — caught by a stage profile;
    # the _rc_corpus ordering is the correct one)
    docs_spread = ensure_parallelism(docs)
    vecs = docs_spread.select(
        "doc_id",
        _cl_vec_expr(
            "topic", "concat('d', CAST(doc_id AS STRING))"
        ).alias("v"),
    ).transform(materialize, "clustered corpus", "lazy")
    # Seeds and query vectors are FROZEN index/eval constants.  r15:
    # computed driver-side in PYTHON from the 32 topic strings (one
    # 32-row pushed-down scan) instead of two collect jobs over the md5
    # projection — ``_cl_vec_py`` replays the dyadic arithmetic
    # bit-identically (see its docstring), so both engines still rank
    # the exact same doubles and the oracle is unchanged.
    topics = {
        r["doc_id"]: r["topic"]
        for r in docs.filter(F.col("doc_id") < max(_CL_K, _CL_NQ)).collect()
    }
    seed_rows = [
        (int(i), _cl_vec_py(topics[i], f"d{i}")) for i in sorted(topics)
    ]
    # iterate over the ids PRESENT below _CL_NQ (mirroring the old
    # doc_id < _CL_NQ collect): on a corpus with fewer than _CL_NQ docs
    # (or non-contiguous small ids) this degrades gracefully to fewer
    # queries instead of a KeyError (ADVICE r15)
    q_rows = [
        (int(i), _cl_vec_py(topics[i], f"q{i}"))
        for i in sorted(topics)
        if i < _CL_NQ
    ]
    queries = local_rows(spark, q_rows, "qid int, qv array<double>")

    # assignment: n x K exact-d2 argmin, IN PLACE (the kmeans_lloyd3
    # pattern, applied here in r15): the 32 seed cells collapse to one
    # literal array-of-structs and every vector folds its argmin inside
    # the projection — no n*K cross-join row expansion and no
    # groupBy(doc_id) exchange (the old shape shuffled n pre-aggregated
    # rows).  array_min over (d2, cid) structs replays min(struct)'s
    # tie-break; squared_l2 is the same left-to-right double sequence
    # as the oracle's list fold, so the assignment is bit-identical and
    # its ROW_NUMBER ORDER BY d2, cid twin is unchanged.
    seed_lit = _literal_cells_expr(seed_rows)
    best = F.array_min(
        F.transform(
            seed_lit,
            lambda s: F.struct(
                squared_l2(F.col("v"), s["cv"]).alias("d2"),
                s["cid"].alias("cid"),
            ),
        )
    )
    assign = vecs.select("doc_id", best["cid"].alias("cid"))

    # query routing: 5 x K ranked cells, one row per (arm, probed cell).
    # Both operands are the frozen constants above, so the ranking runs
    # at plan-construction time — every term is a multiple of 2^-40
    # bounded far below 2^53, so Python's left-to-right IEEE sum replays
    # the exact doubles the engines compute (the module-comment
    # exactness argument); the oracle ranks the same values with
    # ROW_NUMBER.
    def _d2(a: list, b: list) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    ranked = {
        qid: sorted((_d2(qv, cv), cid) for cid, cv in seed_rows)
        for qid, qv in q_rows
    }
    arms = local_rows(spark, [(a,) for a in _CL_ARMS], "np int")
    probed_arm = local_rows(
        spark,
        [
            (np, qid, cid)
            for np in _CL_ARMS
            for qid, _ in q_rows
            for _, cid in ranked[qid][:np]
        ],
        "np int, qid int, cid long",
    )

    # lineage cut: cand feeds the shortlist AND the candidate-count
    # aggregate — without it the n x K assignment re-runs per branch
    cand = (
        assign.join(F.broadcast(probed_arm), "cid")
        .select("np", "qid", "doc_id")
        .transform(materialize, "recall candidates", "lazy")
    )

    d2 = squared_l2_sql(
        [f"v[{i}]" for i in range(_CL_D)], [f"qv[{i}]" for i in range(_CL_D)]
    )
    scored = (
        cand.join(vecs, "doc_id")
        .join(F.broadcast(queries), "qid")
        .select(
            "np",
            "qid",
            "doc_id",
            F.expr(d2).alias("d2"),
            F.concat_ws("#", "np", "qid").alias("_g"),
        )
    )
    short = two_phase_topk(
        scored, "_g", [F.asc("d2"), F.asc("doc_id")], _CL_TOPK
    ).select("np", "qid", "doc_id")

    exact = two_phase_topk(
        vecs.crossJoin(F.broadcast(queries)).select(
            "qid", "doc_id", F.expr(d2).alias("d2")
        ),
        "qid",
        [F.asc("d2"), F.asc("doc_id")],
        _CL_TOPK,
    ).select("qid", "doc_id")

    hits = hit_counts(
        short, F.broadcast(exact), ["qid", "doc_id"], by=("np", "qid")
    )
    # tiny derived aggregates: explicit broadcasts (the EXPLAIN-audit
    # class — Catalyst has no stats for either side)
    grid = arms.crossJoin(F.broadcast(queries.select("qid")))
    candn = cand.groupBy("np").agg(F.count(F.lit(1)).alias("sum_cand"))
    return (
        recall_curve(zero_filled(grid, hits), candn, _CL_NQ, _CL_TOPK, n)
        .withColumnRenamed("np", "nprobe")
        .orderBy("nprobe")
    )


def _cl_sql_vec(topic: str, tag: str, d: int = _CL_D) -> str:
    """DuckDB twin of _cl_vec_expr: the list-comprehension form of the same
    dyadic arithmetic (``_sql_hex4`` is the shared hex-to-int SQL)."""
    from .similarity import _sql_hex4

    c = _sql_hex4(f"md5({topic} || ':' || CAST(i AS VARCHAR))")
    p = _sql_hex4(f"md5({tag} || ':' || CAST(i AS VARCHAR))")
    return (
        f"list_transform(range(0, {d}), i -> "
        f"{c} / 65536.0 + ({p} / 65536.0 - 0.5) / 16.0)"
    )


def _ivf_recall_clustered_sql() -> str:
    def d2(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {_CL_D + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    arm_rows = ", ".join(f"({a})" for a in _CL_ARMS)
    return f"""
WITH docs AS (
  SELECT doc_id, lang || '|' || source AS topic FROM documents
),
vecs AS (
  SELECT doc_id,
         {_cl_sql_vec("topic", "'d' || CAST(doc_id AS VARCHAR)")} AS v
  FROM docs
),
seeds AS (SELECT doc_id AS cid, v AS cv FROM vecs WHERE doc_id < {_CL_K}),
q AS (
  SELECT CAST(doc_id AS INTEGER) AS qid,
         {_cl_sql_vec("topic", "'q' || CAST(doc_id AS VARCHAR)")} AS qv
  FROM docs WHERE doc_id < {_CL_NQ}
),
assign AS (
  SELECT doc_id, cid FROM (
    SELECT v.doc_id, s.cid,
           ROW_NUMBER() OVER (PARTITION BY v.doc_id
                              ORDER BY {d2("v.v", "s.cv")}, s.cid) AS rk
    FROM vecs v, seeds s
  ) WHERE rk = 1
),
probed AS (
  SELECT qid, cid, rk FROM (
    SELECT q.qid, s.cid,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY {d2("q.qv", "s.cv")}, s.cid) AS rk
    FROM q, seeds s
  )
),
arms(np) AS (VALUES {arm_rows}),
cand AS (
  SELECT a.np, p.qid, s2.doc_id
  FROM arms a JOIN probed p ON p.rk <= a.np
  JOIN assign s2 ON s2.cid = p.cid
),
short AS (
  SELECT np, qid, doc_id FROM (
    SELECT c.np, c.qid, c.doc_id,
           ROW_NUMBER() OVER (PARTITION BY c.np, c.qid
                              ORDER BY {d2("v.v", "q.qv")}, c.doc_id) AS rk
    FROM cand c JOIN vecs v ON v.doc_id = c.doc_id JOIN q ON q.qid = c.qid
  ) WHERE rk <= {_CL_TOPK}
),
exact AS (
  SELECT qid, doc_id FROM (
    SELECT q.qid, v.doc_id,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY {d2("v.v", "q.qv")}, v.doc_id) AS rk
    FROM vecs v, q
  ) WHERE rk <= {_CL_TOPK}
),
hits AS (
  SELECT s.np, s.qid, COUNT(*) AS nh
  FROM short s JOIN exact e USING (qid, doc_id) GROUP BY 1, 2
),
grid AS (SELECT a.np, q.qid FROM arms a, q),
perq AS (
  SELECT g.np, g.qid, COALESCE(h.nh, 0) AS nh
  FROM grid g LEFT JOIN hits h ON g.np = h.np AND g.qid = h.qid
),
candn AS (SELECT np, COUNT(*) AS sum_cand FROM cand GROUP BY np)
SELECT CAST(p2.np AS INTEGER) AS nprobe,
       CAST(c2.sum_cand AS BIGINT) AS sum_cand,
       CAST(c2.sum_cand AS DOUBLE)
         / ({float(_CL_NQ)} * (SELECT COUNT(*) FROM documents)) AS cand_frac,
       CAST(SUM(p2.nh) AS BIGINT) AS n_hits,
       CAST(SUM(p2.nh) AS DOUBLE) / {float(_CL_NQ * _CL_TOPK)} AS recall_mean,
       MIN(CAST(p2.nh AS DOUBLE) / {float(_CL_TOPK)}) AS recall_min
FROM perq p2 JOIN candn c2 USING (np)
GROUP BY p2.np, c2.sum_cand
ORDER BY nprobe
"""


SPECS["ivf_recall_clustered"] = QuerySpec(
    _ivf_recall_clustered,
    _ivf_recall_clustered_sql(),
    "recall@10 / candidate-fraction vs nprobe on a CLUSTERED corpus (topic = lang|source): where IVF pruning earns its keep",
)


# --- filtered_recall_curve: the widened probe, measured --------------------
# ``topk_ivf_filtered`` (plans/vectorops.py) serves attribute-filtered
# ANN with the probe widened to 2 cells and ASSERTS the rationale ("a
# ~10%-selective predicate thins a 125-row cell to ~12 candidates");
# THIS query measures it: for 5 frozen queries (vec_id 0..4 — the
# frozen-query-sample pattern ann_recall_at_k documents) and a fixed
# label=3 predicate, route ONCE at the widest arm (route_query_cells
# n_cells=4, with_rank) and slice cell_rank <= arm for arms 1/2/4;
# per arm report the candidate volume before/after the predicate,
# hits against the exact filtered top-5, and recall.  The curve is the
# knob's evidence: at sf0.01 recall@5 climbs 18/25 -> 23/25 as the
# probe widens 1 -> 4 cells while candidates stay O(arm x cell).
#
# Scale shape: routing is |Q| passes over the k-row centroid table
# (broadcast); candidates are an equi-join on the routed cells
# (O(arms x n_cells x cell x |Q|) rows); the per-(arm, qid) top-5
# windows run over <= 4-cell candidate sets (cell size bounded by the
# scaled-k rule); the exact ground-truth arm is O(n x |Q|) — frozen
# sample, never all-pairs.  All counts exact integers; recall is one
# division of exact ints both engines render identically.

_FRC_ARMS = (1, 2, 4)
_FRC_NQ = 5
_FRC_K = 5
_FRC_LABEL = 3


def _filtered_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import cosine_similarity
    from ..operators.ann import ivf_seed_centroids, route_query_cells
    from ..operators.ranking import two_phase_topk

    emb, _, k, ns, assign = full_corpus(spark, sf_dir)
    qt = emb.filter(F.col("vec_id") < _FRC_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    routed = route_query_cells(
        qt,
        ivf_seed_centroids(emb, k),
        ns,
        n_cells=max(_FRC_ARMS),
        id_col="qid",
        with_rank=True,
    )
    arms = local_rows(spark, [(a,) for a in _FRC_ARMS], "arm int")
    short = assign.join(F.broadcast(routed), "cid").join(
        F.broadcast(arms), F.col("cell_rank") <= F.col("arm")
    )
    sim = portable_round(cosine_similarity("embedding", "qv"), 4)
    filt = (
        short.join(emb, "vec_id")
        .filter(F.col("label") == _FRC_LABEL)
        .join(F.broadcast(qt), "qid")
        .select("arm", "qid", "vec_id", sim.alias("sim"))
    )
    wa = Window.partitionBy("arm", "qid").orderBy(F.desc("sim"), "vec_id")
    topk = (
        filt.withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") <= _FRC_K)
        .select("arm", "qid", "vec_id")
    )
    exact = two_phase_topk(
        emb.filter(F.col("label") == _FRC_LABEL)
        .crossJoin(F.broadcast(qt))
        .select("qid", "vec_id", sim.alias("sim")),
        "qid",
        [F.desc("sim"), F.asc("vec_id")],
        _FRC_K,
    ).select("qid", "vec_id")
    hits = hit_counts(topk, exact, ["qid", "vec_id"], by=("arm",))
    return (
        short.groupBy("arm")
        .agg(F.count(F.lit(1)).alias("n_cand"))
        .join(filt.groupBy("arm").agg(F.count(F.lit(1)).alias("n_filtered")), "arm", "left")
        .join(hits, "arm", "left")
        .select(
            F.col("arm").cast("int").alias("arm"),
            F.col("n_cand").cast("long").alias("n_cand"),
            F.coalesce(F.col("n_filtered"), F.lit(0)).cast("long").alias("n_filtered"),
            F.coalesce(F.col("nh"), F.lit(0)).cast("long").alias("hits"),
            (
                F.coalesce(F.col("nh"), F.lit(0)).cast("double")
                / F.lit(float(_FRC_NQ * _FRC_K))
            ).alias("recall"),
        )
        .orderBy("arm")
    )


def _filtered_recall_curve_sql() -> str:
    from .ivf_sql import SQL_COS, hier_assign_ctes

    cos_qs = SQL_COS.format(a="q.qv", b="s.sv")
    cos_qc = SQL_COS.format(a="q.qv", b="c2.cv")
    cos_eq = SQL_COS.format(a="e.embedding", b="q.qv")
    arms_values = ", ".join(f"({a})" for a in _FRC_ARMS)
    return f"""
WITH {hier_assign_ctes()},
q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id < {_FRC_NQ}),
qs AS (
  SELECT qid, sid FROM (
    SELECT q.qid, s.sid,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY ({cos_qs}) DESC, s.sid) AS rk
    FROM s, q
  ) WHERE rk <= 3
),
qcr AS (
  SELECT qid, cid,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY csim DESC, cid) AS cell_rank
  FROM (
    SELECT qs.qid, c2.cid, ({cos_qc}) AS csim
    FROM c2s c2 JOIN qs USING (sid) JOIN q ON q.qid = qs.qid
  )
),
arms AS (SELECT * FROM (VALUES {arms_values}) t(arm)),
short AS (
  SELECT a.arm, c.qid, h.vec_id
  FROM arms a
  JOIN qcr c ON c.cell_rank <= a.arm
  JOIN hier h ON h.cid_hier = c.cid
),
filt AS (
  SELECT s.arm, s.qid, s.vec_id,
         FLOOR(({cos_eq}) * 10000 + 0.5) / 10000 AS sim
  FROM short s
  JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN q ON q.qid = s.qid
  WHERE e.label = {_FRC_LABEL}
),
topk AS (
  SELECT arm, qid, vec_id FROM (
    SELECT arm, qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY arm, qid
                              ORDER BY sim DESC, vec_id) AS rk
    FROM filt
  ) WHERE rk <= {_FRC_K}
),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY FLOOR(({cos_eq}) * 10000 + 0.5) / 10000
                                       DESC, e.vec_id) AS rk
    FROM embeddings e, q WHERE e.label = {_FRC_LABEL}
  ) WHERE rk <= {_FRC_K}
),
hits AS (
  SELECT t.arm, COUNT(*) AS hits
  FROM topk t JOIN exact x ON t.qid = x.qid AND t.vec_id = x.vec_id
  GROUP BY t.arm
)
SELECT CAST(a.arm AS INTEGER) AS arm,
       CAST((SELECT COUNT(*) FROM short s WHERE s.arm = a.arm) AS BIGINT)
         AS n_cand,
       CAST((SELECT COUNT(*) FROM filt f WHERE f.arm = a.arm) AS BIGINT)
         AS n_filtered,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       CAST(COALESCE(h.hits, 0) AS DOUBLE) / {float(_FRC_NQ * _FRC_K)}
         AS recall
FROM arms a LEFT JOIN hits h ON h.arm = a.arm
ORDER BY arm
"""


SPECS["filtered_recall_curve"] = QuerySpec(
    _filtered_recall_curve,
    _filtered_recall_curve_sql(),
    "filtered-ANN operating curve: recall@5 and candidate volume vs probe "
    "width (1/2/4 cells) for a fixed label predicate over 5 frozen queries "
    "— the measured evidence behind topk_ivf_filtered's widened probe",
)


# --- bitext_mining_eval: the miner measured against planted truth ----------
# ``bitext_margin_pairs`` (plans/similarity.py) runs the Artetxe &
# Schwenk margin miner; THIS query measures it the way the public mines
# are validated — against a corpus with KNOWN parallel pairs.  Every
# document yields two noisy views of one dyadic "sentence" center
# (vec 2d = side-A view, vec 2d+1 = side-B view; fresh md5 perturbations
# per side), so ground truth is exactly {(2d, 2d+1)}.  The SAME
# production fence (scaled-k two-level assignment + capped split) and
# the SAME margin core then mine pairs, and the output is the
# (threshold, precision, recall) operating curve — mining quality as a
# measured number, not an assertion.  The capped split hashes the PAIR
# id (vec_id div 2), the legitimate production choice when shard keys
# exist (sentence/document ids), so the fence never separates a true
# pair by hash accident; fence-induced misses (views routed to
# different cells) remain IN the measured recall.
#
# Exactness: corpus construction is the dyadic grid (exact in doubles,
# the ivf_recall_clustered argument); margins are the miner's exact
# integer sufficient statistics; precision/recall are single divisions
# of exact counts.  Fully oracle-paired — the hier/capped CTE chains
# are the SHARED builders parameterized by corpus relation
# (plans/ivf_sql.py), so the eval replays the very fence the production
# miner uses.

# Thresholds span where the trade actually lives on this corpus: the
# dyadic grid centers are uniform in [0,1)^16, so every vector shares a
# large all-ones component and unrelated cosines sit near 0.78 —
# compressing ratio margins into [1.0, ~1.2] (margin >= 1 always: the
# mutual-best cosine bounds both neighborhood averages).  th=1.0 is the
# mutual-only baseline (at sf0.1 it admits 49 false pairs — precision
# 0.989); the higher arms buy precision 1.000 at measured recall cost
# (sf0.1: 0.841 -> 0.475 -> 0.080 at 1.04/1.08/1.12).  Recall never
# reaches 1.0 because fence-induced misses (views routed to different
# hier cells) are deliberately left IN the measurement.
_BTE_ARMS = (1.0, 1.04, 1.08, 1.12)


def _bte_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.concat_ws("|", "lang", "source").alias("topic")
    )
    # r15: expr-rendered projection (see _cl_vec_expr — the Column-
    # composed form cost seconds of py4j churn per build, twice here)
    sk_sql = "concat(topic, '#', CAST(doc_id AS STRING))"
    sides = []
    for side, tag in ((0, "a"), (1, "b")):
        sides.append(
            docs.select(
                (F.col("doc_id") * 2 + F.lit(side)).alias("vec_id"),
                _cl_vec_expr(
                    sk_sql, f"concat('{tag}', CAST(doc_id AS STRING))"
                ).alias("embedding"),
            )
        )
    # lineage cut: the 32-md5 projection must materialize once, not
    # inline into the assignment cross join (the ivf_recall_clustered
    # lesson — 5.1M md5 evals without it)
    return sides[0].unionByName(sides[1]).transform(materialize, "bitext corpus", "lazy")


def _bitext_mining_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import (
        capped_cell_split,
        hier_super_count,
        scaled_cluster_count,
    )
    from .similarity import _KNN_CAP, bt_margin_core

    n_docs = parquet_row_count(sf_dir, "documents")
    corpus = _bte_corpus(spark, sf_dir)
    k = scaled_cluster_count(2 * n_docs)
    from ..operators.ivf_index import shared_hier_assignment

    assign = shared_hier_assignment(
        spark, corpus, f"{sf_dir}/documents|bte|{2 * n_docs}", k, hier_super_count(k)
    ).withColumnRenamed("cid", "cluster")
    split = capped_cell_split(
        assign.withColumn("pair", F.expr("vec_id DIV 2")).transform(
            materialize, "bitext assignment", "lazy"
        ),
        cap=_KNN_CAP,
        hash_col="pair",
    )
    from ..functions.vector import dot_product, l2_norm

    vecs = (
        split.join(corpus, "vec_id")
        .select(
            "vec_id",
            "cluster",
            "sub",
            "embedding",
            l2_norm("embedding").alias("nrm"),
        )
        .transform(materialize, "bitext vectors", "lazy")
    )
    x = vecs.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("src"),
        F.col("cluster").alias("cl_x"),
        F.col("sub").alias("sub_x"),
        F.col("embedding").alias("vx"),
        F.col("nrm").alias("nx"),
    )
    y = vecs.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("tgt"),
        F.col("cluster").alias("cl_y"),
        F.col("sub").alias("sub_y"),
        F.col("embedding").alias("vy"),
        F.col("nrm").alias("ny"),
    )
    ci = F.floor(
        dot_product("vx", "vy") / (F.col("nx") * F.col("ny")) * 10000
        + F.lit(0.5)
    ).cast("long")
    cand = x.join(
        y,
        (F.col("cl_x") == F.col("cl_y")) & (F.col("sub_x") == F.col("sub_y")),
    ).select("src", "tgt", ci.alias("ci"))
    scored = (
        bt_margin_core(cand)
        .filter(F.col("den") > 0)
        .select(
            "src",
            "tgt",
            portable_round(
                F.col("num").cast("double") / F.col("den").cast("double"), 4
            ).alias("margin"),
        )
    )
    arms = local_rows(spark, [(t,) for t in _BTE_ARMS], "th double")
    # per-lang stratification (r11, VERDICT r10 #4): a mined pair is
    # attributed to its SOURCE document's lang (src = view 2d of doc d);
    # recall denominators are per-lang planted-pair counts.  The grid is
    # arms x langs so an arm that mines nothing in a lang still reports
    # its zero row.
    docs_lang = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("pd"), "lang"
    )
    lang_counts = docs_lang.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_lang")
    )
    mined = (
        scored.withColumn("pd", F.expr("src DIV 2"))
        .join(docs_lang, "pd")
        .join(F.broadcast(arms), F.col("margin") >= F.col("th"))
        .groupBy("th", "lang")
        .agg(
            F.count("src").alias("n_mined"),
            F.sum(
                F.when(F.col("tgt") == F.col("src") + 1, 1).otherwise(0)
            ).alias("n_correct"),
        )
    )
    grid = arms.crossJoin(F.broadcast(lang_counts))
    return (
        grid.join(F.broadcast(mined), ["th", "lang"], "left")
        .select(
            "th",
            "lang",
            F.coalesce(F.col("n_mined"), F.lit(0)).cast("long").alias("n_mined"),
            F.coalesce(F.col("n_correct"), F.lit(0))
            .cast("long")
            .alias("n_correct"),
            F.when(
                F.coalesce(F.col("n_mined"), F.lit(0)) > 0,
                F.col("n_correct").cast("double")
                / F.col("n_mined").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("prec"),
            (
                F.coalesce(F.col("n_correct"), F.lit(0)).cast("double")
                / F.col("n_lang").cast("double")
            ).alias("recall"),
        )
        .orderBy("th", "lang")
    )


def _bitext_mining_eval_sql() -> str:
    from .ivf_sql import capped_split_ctes, hier_assign_ctes
    from .similarity import _KNN_CAP, BT_SQL_MARGIN, bt_core_sql

    sk = "topic || '#' || CAST(doc_id AS VARCHAR)"
    cos_xy = _SQL_COS.format(a="x.embedding", b="y.embedding")
    arm_rows = ", ".join(f"({t})" for t in _BTE_ARMS)
    return f"""
WITH docs AS (
  SELECT doc_id, lang || '|' || source AS topic FROM documents
),
bt_corpus AS (
  SELECT 2 * doc_id AS vec_id,
         {_cl_sql_vec(sk, "'a' || CAST(doc_id AS VARCHAR)")} AS embedding
  FROM docs
  UNION ALL
  SELECT 2 * doc_id + 1 AS vec_id,
         {_cl_sql_vec(sk, "'b' || CAST(doc_id AS VARCHAR)")} AS embedding
  FROM docs
),
{hier_assign_ctes(src="bt_corpus")},
{capped_split_ctes(_KNN_CAP, src="bt_corpus", hash_expr="v.vec_id // 2")},
cand AS (
  SELECT x.vec_id AS src, y.vec_id AS tgt,
         CAST(FLOOR(({cos_xy}) * 10000 + 0.5) AS BIGINT) AS ci
  FROM sv2 x JOIN sv2 y
    ON x.cluster = y.cluster AND x.sub = y.sub
   AND x.vec_id % 2 = 0 AND y.vec_id % 2 = 1
),
{bt_core_sql()},
scored AS (
  SELECT src, tgt, {BT_SQL_MARGIN} AS margin FROM mutual WHERE den > 0
),
arms(th) AS (VALUES {arm_rows}),
lang_counts AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
mined AS (
  SELECT a.th, d.lang,
         COUNT(s.src) AS n_mined,
         COALESCE(SUM(CASE WHEN s.tgt = s.src + 1 THEN 1 ELSE 0 END), 0) AS n_correct
  FROM arms a
  JOIN scored s ON s.margin >= a.th
  JOIN documents d ON d.doc_id = s.src // 2
  GROUP BY a.th, d.lang
)
SELECT CAST(a.th AS DOUBLE) AS th, lc.lang,
       CAST(COALESCE(m.n_mined, 0) AS BIGINT) AS n_mined,
       CAST(COALESCE(m.n_correct, 0) AS BIGINT) AS n_correct,
       CASE WHEN COALESCE(m.n_mined, 0) > 0
            THEN CAST(m.n_correct AS DOUBLE) / CAST(m.n_mined AS DOUBLE)
            ELSE 0.0 END AS prec,
       CAST(COALESCE(m.n_correct, 0) AS DOUBLE)
         / CAST(lc.n_lang AS DOUBLE) AS recall
FROM arms a
CROSS JOIN lang_counts lc
LEFT JOIN mined m ON m.th = a.th AND m.lang = lc.lang
ORDER BY th, lc.lang
"""


SPECS["bitext_mining_eval"] = QuerySpec(
    _bitext_mining_eval,
    _bitext_mining_eval_sql(),
    "the bitext miner measured against planted ground truth: precision/recall vs margin threshold under the production fence",
)
