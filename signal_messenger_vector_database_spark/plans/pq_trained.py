"""Trained-PQ operating point: the measured >=0.9-recall configuration.

``pq_recall_at_k`` / ``pq_recall_trained`` (plans/vectorops.py) measure
the SEEDED 8-byte codebooks and their one-Lloyd-round lift — honest
floor numbers (shortlist-100 recall 0.3-0.8) that reject single-stage
PQ ranking on this corpus.  This module composes the levers those
floors point at into the configuration a production deployment would
actually serve, and MEASURES it:

  geometry   M=16 subspaces x D=4 dims (16-byte codes, 16x compression
             vs the 64-dim float vectors) instead of 8x8 — finer
             subspaces cost nothing at scan time and dominate the
             recall budget on isotropic data;
  codebooks  K=64 codewords/subspace, seeded from the data itself
             (codeword k of subspace j = subvector j of embedding k)
             and trained with THREE Lloyd rounds — the
             ``pq_encode_trained`` recipe generalized to R rounds;
  serving    ADC shortlist-100 (integer LUT sums) -> exact cosine
             re-rank, the ``topk_pq_rerank`` two-stage shape.

Measured on the fixtures over FIVE literal query vectors
(``pq_operating_point``): shortlist-100 recall mean/min
1.00/1.0 (sf0.001), 1.00/1.0 (sf0.01), 0.96/0.9 (sf0.1) — the >=0.9
operating point, vs 0.3-0.6 for the seeded 8-byte floor.  Since exact
re-rank restores true ranking within the shortlist, the two-stage
top-10 inherits that recall.

Scale shape (100 TB): training state is M*K = 1024 tiny vectors
(broadcast); each Lloyd round is one linear scan of the exploded
subvector table with a broadcast join + map-side-partial min_by, and
one (sub_j, code, pos) aggregate — no pair join, nothing quadratic.
The serving scan reads 16 bytes/vector against a 1024-entry literal
LUT; the shortlist is a two-phase (partition-local then global) top-k,
so no global sort of n rows ever happens.  The re-rank fetches
|shortlist| full vectors by key.

Cross-engine FP discipline (plans/registry.py rules): trained centroid
elements are quantized to the 1e-4 grid (floor-round) after EVERY
averaging round — the ``embedding_centroids`` grain — so the only seam
per value is one FLOOR over an AVG both engines compute in the same
order-free group; LUT entries are exact BIGINTs
(FLOOR(d2*1e4+0.5)); per-vector ADC distances are exact integer sums
of 16 such entries; every ranking key is (integer, vec_id).  The five
query vectors are driver-computed literals inlined into BOTH engines
(HashEmbedder is deterministic), never recomputed per-engine.

Reference parity note: the reference declares pgvector similarity
search and never implements any ANN (src/rag/sqlx.rs:22-29 installs
pgvectorscale and never uses it) — this module is north-star capability
for the 100 TB training-data pipeline, not parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import portable_round
from ..functions.vector import squared_l2, squared_l2_sql
from ..io.materialize import materialize
from ..io.sources import load_table, local_rows
from .embeddings_index import corpus_token, full_corpus, incoming_split
from .recall import hit_counts, recall_curve, zero_filled
from .registry import QuerySpec

SPECS: dict[str, QuerySpec] = {}

# The measured operating-point geometry (module docstring): 16 x 4-dim
# subspaces, 64 data-seeded codewords each, 3 Lloyd rounds, 100-deep
# ADC shortlist.  Changing any of these invalidates the measured recall
# numbers — re-run the five-query measurement before shipping a change.
_OPM, _OPD = 16, 4
_OPK = 64
_OPROUNDS = 3
_OPSHORT = 100
_OPTOPK = 10

# Five evaluation queries in the fixture corpus's embedding space; the
# first is the flagship _PQ_QUESTION (plans/vectorops.py) so the
# operating point is measured on the same query the ANN-ladder queries
# serve.  All are driver-side HashEmbedder literals (shared-literal
# rule).
_OP_QUESTIONS = [
    "Which archived conversations mention the delivery receipt?",
    "Who acknowledged the group invitation yesterday?",
    "Find messages about the expiring attachment link.",
    "Which thread discussed the profile key rotation?",
    "What did the support contact say about registration?",
]


def _op_query_vecs() -> list[list[float]]:
    from ..operators.embed import HashEmbedder

    emb = HashEmbedder(_OPM * _OPD)
    return [[float(x) for x in v] for v in emb.embed_batch(_OP_QUESTIONS)]


# --- Spark side: generalized trained-PQ build ------------------------------


def _op_sub_rows(emb: DataFrame) -> DataFrame:
    sub = F.expr(
        f"transform(sequence(0, {_OPM - 1}), "
        f"j -> slice(embedding, j * {_OPD} + 1, {_OPD}))"
    )
    return emb.select("vec_id", F.posexplode(sub).alias("sub_j", "sv"))


def _op_trained_parts(spark: SparkSession, sf_dir: str):
    """(final assignment (vec_id, sub_j, code), trained codebooks
    (sub_j, code, cw)) after ``_OPROUNDS`` Lloyd rounds.

    Codebooks are data-seeded (codeword k = subvector of embedding k,
    the ivf_seed_centroids pattern) so K scales without literal tables;
    each round's centroids are floor-rounded to the 1e-4 grid and
    localCheckpoint'ed (1024 rows) — the checkpoint both cuts the
    3-round lineage and freezes the grid values so every downstream
    consumer scores against bit-identical centroids.

    Assignment is IN PLACE (the kmeans_lloyd3 pattern): per subspace the
    64 codewords collapse to one array-of-structs row, broadcast-joined
    on sub_j, and each subvector row folds its argmin with higher-order
    functions — the subvector table is scanned, never shuffled.  The
    first cut shuffled n*M rows per round through a
    groupBy(vec_id, sub_j) min_by; at 100 TB that was FOUR full-corpus
    shuffles for a training loop whose state is 1024 tiny arrays.
    ``array_min`` on a (d2, code) struct replays min_by's tie-break
    (smallest d2, then smallest code) bit-identically, so the DuckDB
    oracle is unchanged.  Per-round shuffle traffic is now only the
    (sub_j, code, pos) centroid update — 4096 partial-aggregated keys."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # spread the single-file input across the cores BEFORE the Lloyd
    # rounds: the whole training loop is row-local scans over subs, and
    # one input partition serialized it on one core (11.5 -> 2.4 s at
    # sf0.1, bit-identical — io.sources.ensure_parallelism)
    from ..io.sources import ensure_parallelism

    subs = materialize(ensure_parallelism(_op_sub_rows(emb)), "pq subvectors", "lazy")
    # routed through the r11 build-once seam: the three trained-PQ
    # queries share IDENTICAL codebooks, trained once per session
    from ..io.sources import parquet_row_count
    from ..operators.ivf_index import shared_pq_parts

    token = corpus_token(sf_dir, parquet_row_count(sf_dir, "embeddings"))
    return shared_pq_parts(
        spark, subs, f"{token}|op{_OPM}x{_OPD}", _OPD, _OPK, _OPROUNDS
    )


def pq_assign_codes(
    subs: DataFrame, cb_df: DataFrame, d: int, keep_sv: bool = False
) -> DataFrame:
    """Encode a subvector table against FIXED codebooks — the single
    assignment pass of the trained-PQ build, public so the incremental
    path (``ivf_index.shared_pq_encode_delta``) can encode an incoming
    batch against codebooks frozen at the base corpus without
    retraining.  Per subspace the k codewords collapse to one
    array-of-structs row, broadcast-joined on sub_j; each subvector row
    folds its argmin in place (kmeans_lloyd3 pattern — the table is
    scanned, never shuffled).  ``array_min`` on a (d2, code) struct
    replays min_by's tie-break (smallest d2, then smallest code)
    bit-identically with the DuckDB twin's row_number ordering."""
    packed = cb_df.groupBy("sub_j").agg(
        F.array_sort(F.collect_list(F.struct("code", "cw"))).alias("_cbk")
    )

    # unrolled d2 (small fixed d): flat arithmetic, no intermediate
    # d-element array per (row, codeword)
    d2 = squared_l2_sql(
        [f"sv[{i}]" for i in range(d)], [f"e.cw[{i}]" for i in range(d)]
    )
    best = F.expr(
        f"array_min(transform(_cbk, e -> struct({d2} AS d2, e.code AS code)))"
    )
    out = subs.join(F.broadcast(packed), "sub_j").select(
        "vec_id", "sub_j", F.col("sv"), F.col("_cbk"), best.alias("_b")
    )
    if keep_sv:
        return out.select(
            "vec_id", "sub_j", F.col("_b.code").alias("code"), "sv"
        )
    return out.select("vec_id", "sub_j", F.col("_b.code").alias("code"))


def pq_train_inplace(
    subs: DataFrame, d: int, k: int, rounds: int
) -> tuple[DataFrame, DataFrame]:
    """The generalized trained-PQ build over ANY subvector table
    ``subs(vec_id, sub_j, sv)`` — the ``_op_trained_parts`` chain with
    geometry (d-dim subspaces, k data-seeded codewords, ``rounds`` Lloyd
    rounds) as parameters, so the residual-encoding IVF-PQ curve can
    train on residual subvectors with the SAME in-place assignment and
    1e-4-grid centroid discipline.  Returns (final assignment
    (vec_id, sub_j, code), trained codebooks (sub_j, code, cw))."""
    cb = subs.filter(F.col("vec_id") < k).select(
        "sub_j", F.col("vec_id").cast("int").alias("code"), F.col("sv").alias("cw")
    )

    def assign(cb_df: DataFrame) -> DataFrame:
        return pq_assign_codes(subs, cb_df, d, keep_sv=True)

    for _ in range(rounds):
        a = assign(cb)
        # centroid update: the d per-position means as d aggregate
        # columns in ONE groupBy (r16, guide §2.4 — d is a small static
        # geometry constant).  The old posexplode + groupBy(sub_j, code,
        # pos) + groupBy(sub_j, code) shape paid a second exchange and
        # pushed n*M*d rows into the partial aggregate; this pushes
        # n*M rows through one exchange of k*M groups.  Same values:
        # avg over the identical per-(sub_j, code, pos) groups, same
        # 1e-4 floor-round, array positions in the same 0..d-1 order
        # the old array_sort(collect_list(struct(pos, m))) produced.
        cb = (
            a.groupBy("sub_j", "code")
            .agg(
                *[
                    portable_round(
                        F.avg(F.col("sv").getItem(i)), 4
                    ).alias(f"_m{i}")
                    for i in range(d)
                ]
            )
            .select(
                "sub_j",
                "code",
                F.array(*[F.col(f"_m{i}") for i in range(d)]).alias("cw"),
            )
            .transform(materialize, "pq codebooks", "lazy")
        )
    final = materialize(assign(cb).select("vec_id", "sub_j", "code"), "pq codes", "lazy")
    return final, cb


# --- DuckDB side: the same chain, unrolled ---------------------------------


def _op_trained_cte_body() -> str:
    """subs -> cb0 -> (a_r, t_r) x rounds -> af (final assignment);
    trained codebooks land in ``t{_OPROUNDS}``.  Shared verbatim by
    every oracle in this module (shared-definition rule); the
    geometry-parameterized core is ``pq_train_cte_body`` (rendered
    byte-identically here — pinned by test_pq_trained)."""
    subs_ctes = f"""d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
subs AS (
  SELECT vec_id, j AS sub_j, e[j * {_OPD} + 1 : j * {_OPD} + {_OPD}] AS sv
  FROM d, generate_series(0, {_OPM - 1}) g(j)
),
cb0 AS (SELECT sub_j, CAST(vec_id AS INTEGER) AS code, sv AS cw
        FROM subs WHERE vec_id < {_OPK})"""
    return pq_train_cte_body(subs_ctes, _OPD, _OPROUNDS)


def pq_train_cte_body(
    subs_ctes: str, d: int, rounds: int, assign_src: str = "subs"
) -> str:
    """DuckDB twin of ``pq_train_inplace``, parameterized the same way:
    ``subs_ctes`` must define ``subs(vec_id, sub_j, sv)`` (and the
    seeded ``cb0(sub_j, code, cw)``); this appends the Lloyd-round
    assign/update CTE pairs a1/t1..a{rounds}/t{rounds} and the final
    assignment ``af``.  Trained codebooks land in ``t{rounds}``.

    ``assign_src`` (default ``subs`` — rendering byte-identical for
    every historical consumer, pinned by test_pq_trained) is the
    relation whose subvectors the FINAL ``af`` assignment encodes; the
    Lloyd rounds always train on ``subs``.  Passing a different
    assign_src is the incremental-encode shape (the twin of
    ``pq_assign_codes`` against frozen codebooks —
    ``ivf_index.shared_pq_encode_delta``)."""
    d2 = (
        "list_sum(list_transform(range(1, {n}), "
        "i -> (s.sv[i] - c.cw[i]) * (s.sv[i] - c.cw[i])))"
    ).format(n=d + 1)
    assign = """
{out} AS (
  SELECT vec_id, sub_j, sv, code FROM (
    SELECT s.vec_id, s.sub_j, s.sv, c.code, {d2} AS d2,
           row_number() OVER (PARTITION BY s.vec_id, s.sub_j ORDER BY {d2}, c.code) AS rn
    FROM {src} s JOIN {cb} c ON s.sub_j = c.sub_j
  ) WHERE rn = 1
)"""
    update = """
{out} AS (
  SELECT sub_j, code, list(m ORDER BY pos) AS cw FROM (
    SELECT sub_j, code, u.pos AS pos,
           FLOOR(AVG(u.val) * 10000 + 0.5) / 10000 AS m
    FROM (
      SELECT sub_j, code,
             unnest(list_transform(sv, (x, i) -> struct_pack(pos := i, val := x))) AS u
      FROM {a}
    )
    GROUP BY 1, 2, 3
  )
  GROUP BY sub_j, code
)"""
    parts = [subs_ctes]
    prev_cb = "cb0"
    for r in range(1, rounds + 1):
        parts.append(assign.format(out=f"a{r}", cb=prev_cb, d2=d2, src="subs"))
        parts.append(update.format(out=f"t{r}", a=f"a{r}"))
        prev_cb = f"t{r}"
    parts.append(assign.format(out="af", cb=prev_cb, d2=d2, src=assign_src))
    return ",".join(parts)


_OP_TRAINED_FINAL_CB = f"t{_OPROUNDS}"


# --- pq_operating_point: the five-query recall measurement -----------------


def _op_lut(trained: DataFrame, spark: SparkSession) -> DataFrame:
    """Integer ADC lookup table (qid, sub_j, code, ld): one exact
    BIGINT per (query, codeword) — the only FLOOR between the grid
    centroids and the final integer ranking key."""
    qs = _op_query_vecs()
    qdf = local_rows(
        spark,
        [
            (qid, j, q[j * _OPD : (j + 1) * _OPD])
            for qid, q in enumerate(qs)
            for j in range(_OPM)
        ],
        "qid int, sub_j int, qv array<double>",
    )
    return trained.join(F.broadcast(qdf), "sub_j").select(
        "qid",
        "sub_j",
        "code",
        F.floor(squared_l2("qv", "cw") * 10000 + F.lit(0.5)).cast("long").alias("ld"),
    )


from ..operators.ranking import two_phase_topk as _two_phase_topk


def _op_exact_topk(spark: SparkSession, sf_dir: str, qfull: DataFrame) -> DataFrame:
    """Exact squared-L2 ground-truth top-10 per query (two-phase top-k;
    same literals both engines).  ONE copy shared by the operating-point
    measurement and the nprobe operating curve."""
    from ..io.sources import ensure_parallelism

    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    # unrolled d2: the fold is CodegenFallback and would run interpreted
    # on every (vector, query) row; the elementwise float->double cast
    # is hoisted into a projected column (same element values, same
    # left-to-right sum)
    d = _OPM * _OPD
    d2 = squared_l2_sql(
        [f"_e[{i}]" for i in range(d)], [f"qv[{i}]" for i in range(d)]
    )
    scored = (
        emb.crossJoin(F.broadcast(qfull))
        .withColumn("_e", F.col("embedding").cast("array<double>"))
        .select(
            "qid",
            "vec_id",
            portable_round(F.expr(d2), 4).alias("d2"),
        )
    )
    return _two_phase_topk(
        scored, "qid", [F.asc("d2"), F.asc("vec_id")], _OPTOPK
    ).select("qid", "vec_id")


def _pq_operating_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    af, trained = _op_trained_parts(spark, sf_dir)
    lut = _op_lut(trained, spark)
    dists = (
        af.join(F.broadcast(lut), ["sub_j", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("ld").alias("adc"))
    )
    short = _two_phase_topk(
        dists, "qid", [F.asc("adc"), F.asc("vec_id")], _OPSHORT
    ).select("qid", "vec_id")

    qfull = local_rows(
        spark,
        [(qid, q) for qid, q in enumerate(_op_query_vecs())],
        "qid int, qv array<double>",
    )
    exact = _op_exact_topk(spark, sf_dir, qfull)

    # exact is <= 5*10 rows and hits <= 5 — explicit broadcasts: both are
    # derived aggregates whose stats Catalyst can't see, and the default
    # plan was a SortMergeJoin on a 5-row side (caught in the EXPLAIN
    # audit).
    hits = hit_counts(short, F.broadcast(exact), ["qid", "vec_id"], by=("qid",))
    return (
        zero_filled(qfull.select("qid"), hits)
        .select(
            "qid",
            F.col("nh").alias("n_short_hits"),
            (F.col("nh").cast("double") / F.lit(float(_OPTOPK))).alias(
                "shortlist_recall"
            ),
        )
        .orderBy("qid")
    )


def _op_query_values_sql() -> str:
    rows = []
    for qid, q in enumerate(_op_query_vecs()):
        rows.append(f"({qid}, [" + ", ".join(repr(x) for x in q) + "]::DOUBLE[])")
    return ", ".join(rows)


# the exact ground-truth CTE (appends after a `q(qid, qv)` CTE) — ONE
# copy shared by the operating-point and operating-curve oracles
_OP_ED2 = (
    "list_sum(list_transform(range(1, len(e.embedding) + 1), "
    "i -> (e.embedding[i] - q.qv[i]) * (e.embedding[i] - q.qv[i])))"
)
_OP_EXACT_CTE = f"""exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.qid
             ORDER BY FLOOR({_OP_ED2} * 10000 + 0.5) / 10000, e.vec_id
           ) AS rk
    FROM embeddings e, q
  ) WHERE rk <= {_OPTOPK}
)"""


def _pq_operating_point_sql() -> str:
    qd2 = (
        "list_sum(list_transform(range(1, {n}), "
        "i -> (qs.qv[i] - t.cw[i]) * (qs.qv[i] - t.cw[i])))"
    ).format(n=_OPD + 1)
    return f"""
WITH {_op_trained_cte_body()},
q(qid, qv) AS (VALUES {_op_query_values_sql()}),
qs AS (
  SELECT qid, j AS sub_j, q.qv[j * {_OPD} + 1 : j * {_OPD} + {_OPD}] AS qv
  FROM q, generate_series(0, {_OPM - 1}) g(j)
),
lut AS (
  SELECT qs.qid, t.sub_j, t.code,
         CAST(FLOOR({qd2} * 10000 + 0.5) AS BIGINT) AS ld
  FROM {_OP_TRAINED_FINAL_CB} t JOIN qs ON t.sub_j = qs.sub_j
),
dists AS (
  SELECT l.qid, af.vec_id, SUM(l.ld) AS adc
  FROM af JOIN lut l ON af.sub_j = l.sub_j AND af.code = l.code
  GROUP BY 1, 2
),
short AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rk
    FROM dists
  ) WHERE rk <= {_OPSHORT}
),
{_OP_EXACT_CTE},
hits AS (
  SELECT qid, COUNT(*) AS n_hits
  FROM short JOIN exact USING (qid, vec_id) GROUP BY qid
)
SELECT q.qid,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_short_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {float(_OPTOPK)} AS shortlist_recall
FROM q LEFT JOIN hits h ON q.qid = h.qid
ORDER BY q.qid
"""


SPECS["pq_operating_point"] = QuerySpec(
    _pq_operating_point,
    _pq_operating_point_sql(),
    "trained 16x4 PQ shortlist-100 recall over 5 queries: the measured >=0.9 operating point",
)


# --- topk_ivf_pq_trained: the composed index-serving query -----------------
# IVF coarse pruning (the shared two-level assignment) + trained-PQ ADC
# shortlist + exact re-rank, for the flagship query.  The HONEST number
# first: on this isotropic corpus, IVF pruning CAPS recall well below
# the flat-scan operating point — measured composed shortlist recall
# for the flagship query is 0.7/0.6/0.5 at sf0.001/0.01/0.1 (candidate
# fraction 0.40/0.37/0.20) vs 1.0/1.0/1.0 unfenced — because a random
# query's true neighbors are barely closer than random points and
# scatter across cells.  The query exists because the SHAPE is what a
# 100 TB deployment serves when the corpus is clustered (real text
# embeddings, not hash noise) and the scan budget rules out flat ADC;
# pq_operating_point is the default serving path for this corpus.
# ``ivf_pq_operating_curve`` (below) measures the full nprobe/recall/
# candidate-fraction trade this query's nprobe=3 sits on, so the low
# composed recall is a chosen point on a published curve, not an
# unexamined default.


_QPROBE = 3


def _topk_ivf_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import cosine_similarity
    from ..operators.ann import ivf_seed_centroids
    from .vectorops import _pq_query_vec

    emb, _, k, _, assign = full_corpus(spark, sf_dir)
    cents = ivf_seed_centroids(emb, k)

    q = F.array(*[F.lit(x) for x in _pq_query_vec()]).cast("array<double>")
    probed = (
        cents.select(
            "cid", portable_round(cosine_similarity("cv", q), 4).alias("qsim")
        )
        .orderBy(F.desc("qsim"), "cid")
        .limit(_QPROBE)
        .select("cid")
    )
    af, trained = _op_trained_parts(spark, sf_dir)
    # flagship query = qid 0 of the operating-point LUT (same literals)
    lut = _op_lut(trained, spark).filter(F.col("qid") == 0)
    cand = assign.join(F.broadcast(probed), "cid").select("vec_id")
    dists = (
        af.join(cand, "vec_id")
        .join(F.broadcast(lut), ["sub_j", "code"])
        .groupBy("vec_id")
        .agg(F.sum("ld").alias("adc"))
    )
    short = dists.orderBy("adc", "vec_id").limit(_OPSHORT).select("vec_id")
    embd = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return (
        embd.join(F.broadcast(short), "vec_id")
        .select(
            "vec_id",
            portable_round(cosine_similarity(F.col("e"), q), 4).alias("sim"),
        )
        .orderBy(F.desc("sim"), "vec_id")
        .limit(_OPTOPK)
    )


def _topk_ivf_pq_trained_sql() -> str:
    from .ivf_sql import HIER_ASSIGN_CTES, SQL_COS
    from .vectorops import _pq_query_vec

    qlit = "[" + ", ".join(repr(x) for x in _pq_query_vec()) + "]::DOUBLE[]"
    cos_cq = SQL_COS.format(a="c.cv", b="fq.qv")
    cos_eq = SQL_COS.format(a="e.embedding", b="fq.qv")
    qd2 = (
        "list_sum(list_transform(range(1, {n}), "
        "i -> (qs.qv[i] - t.cw[i]) * (qs.qv[i] - t.cw[i])))"
    ).format(n=_OPD + 1)
    return f"""
WITH {HIER_ASSIGN_CTES},
{_op_trained_cte_body()},
fq AS (SELECT {qlit} AS qv),
probed AS (
  SELECT cid FROM (
    SELECT c.cid,
           ROW_NUMBER() OVER (
             ORDER BY FLOOR(({cos_cq}) * 10000 + 0.5) / 10000 DESC, c.cid
           ) AS rk
    FROM c, fq
  ) WHERE rk <= {_QPROBE}
),
qs AS (
  SELECT j AS sub_j, fq.qv[j * {_OPD} + 1 : j * {_OPD} + {_OPD}] AS qv
  FROM fq, generate_series(0, {_OPM - 1}) g(j)
),
lut AS (
  SELECT t.sub_j, t.code,
         CAST(FLOOR({qd2} * 10000 + 0.5) AS BIGINT) AS ld
  FROM {_OP_TRAINED_FINAL_CB} t JOIN qs ON t.sub_j = qs.sub_j
),
cand AS (
  SELECT h.vec_id FROM hier h JOIN probed p ON h.cid_hier = p.cid
),
dists AS (
  SELECT af.vec_id, SUM(l.ld) AS adc
  FROM af JOIN cand ON af.vec_id = cand.vec_id
  JOIN lut l ON af.sub_j = l.sub_j AND af.code = l.code
  GROUP BY 1
),
short AS (SELECT vec_id FROM dists ORDER BY adc, vec_id LIMIT {_OPSHORT})
SELECT e.vec_id,
       FLOOR(({cos_eq}) * 10000 + 0.5) / 10000 AS sim
FROM embeddings e JOIN short ON e.vec_id = short.vec_id, fq
ORDER BY sim DESC, e.vec_id
LIMIT {_OPTOPK}
"""


SPECS["topk_ivf_pq_trained"] = QuerySpec(
    _topk_ivf_pq_trained,
    _topk_ivf_pq_trained_sql(),
    "IVF(nprobe=3) + trained 16x4 PQ shortlist + exact re-rank: the clustered-corpus serving shape",
)


# --- dim_ablation_recall: the dimension-truncation eval --------------------
# The third axis of approximate retrieval, next to IVF pruning
# (ann_recall_at_k) and code quantization (pq_recall_*): DIMENSION
# truncation — serve cosine over only the first d dims (the
# Matryoshka-representation pattern: a prefix of the embedding is
# itself an embedding) and measure recall@10 vs the full-width exact
# ranking, per evaluation query, at d = 8/16/32/64.  At 100 TB the
# payoff mirrors PQ's: a 16-dim prefix scan reads 4x fewer bytes and
# the measured recall says what that costs THIS embedding space.  On
# the fixture's HashEmbedder vectors (isotropic — no Matryoshka
# training, so this is the pessimistic floor) measured mean recall at
# sf0.1 is 0.04/0.08/0.24/1.0 at d=8/16/32/64: untrained prefixes are
# poor retrievers, exactly the evidence a pipeline needs before buying
# the truncation.
#
# Scale shape: one corpus scan per d (4 total, or one scan computing
# all four sims), two-phase top-k per (d, qid) — never a global sort;
# the eval set is 5 broadcast literal queries.  FP discipline: sliced
# cosine via the same hoisted-norm dot/norm folds both engines already
# replay; sims rounded on the 1e-4 grid before ranking.

_ABLATION_DIMS = (8, 16, 32, 64)


def _dim_ablation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import cosine_similarity
    from ..operators.ranking import two_phase_topk

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    qfull = local_rows(
        spark,
        [(qid, q) for qid, q in enumerate(_op_query_vecs())],
        "qid int, qv array<double>",
    )
    scored = emb.crossJoin(F.broadcast(qfull))

    def topk_ids(d: int):
        # the SHARED cosine (functions/vector.py) over the d-prefix —
        # the same fold/sqrt/divide sequence both engines replay
        sim = portable_round(
            cosine_similarity(
                F.slice(F.col("e"), 1, d), F.slice(F.col("qv"), 1, d)
            ),
            4,
        )
        return two_phase_topk(
            scored.select("qid", "vec_id", sim.alias("sim")),
            "qid",
            [F.desc("sim"), F.asc("vec_id")],
            _OPTOPK,
        ).select("qid", "vec_id")

    exact = materialize(topk_ids(64), "exact top-k", "lazy")
    out = None
    for d in _ABLATION_DIMS:
        # the d=64 arm IS the ground truth — recall 1.0 by construction;
        # reuse `exact` instead of re-scanning the corpus
        approx = exact if d == 64 else topk_ids(d)
        hits = hit_counts(approx, exact, ["qid", "vec_id"], by=("qid",))
        row = zero_filled(qfull.select("qid"), hits).select(
            F.lit(d).cast("int").alias("dim"),
            "qid",
            (F.col("nh").cast("double") / F.lit(float(_OPTOPK))).alias("recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("dim", "qid")


def _dim_ablation_recall_sql() -> str:
    def cos_d(d: int, e: str, q: str) -> str:
        ed, qd = f"{e}[1:{d}]", f"{q}[1:{d}]"
        dot = f"list_dot_product({ed}::DOUBLE[], {qd}::DOUBLE[])"
        ne = f"sqrt(list_dot_product({ed}::DOUBLE[], {ed}::DOUBLE[]))"
        nq = f"sqrt(list_dot_product({qd}::DOUBLE[], {qd}::DOUBLE[]))"
        return f"FLOOR(({dot} / ({ne} * {nq})) * 10000 + 0.5) / 10000"

    def topk_cte(name: str, d: int) -> str:
        return f"""{name} AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.qid
             ORDER BY {cos_d(d, "e.embedding", "q.qv")} DESC, e.vec_id
           ) AS rk
    FROM embeddings e, q
  ) WHERE rk <= {_OPTOPK}
)"""

    arms = []
    for d in _ABLATION_DIMS:
        arms.append(
            f"""SELECT CAST({d} AS INTEGER) AS dim, q.qid,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {float(_OPTOPK)} AS recall
FROM q LEFT JOIN (
  SELECT qid, COUNT(*) AS n_hits
  FROM top{d} JOIN exact USING (qid, vec_id) GROUP BY qid
) h ON q.qid = h.qid"""
        )
    ctes = ",\n".join(topk_cte(f"top{d}", d) for d in _ABLATION_DIMS)
    body = "\nUNION ALL\n".join(arms)
    return f"""
WITH q(qid, qv) AS (VALUES {_op_query_values_sql()}),
{ctes},
exact AS (SELECT qid, vec_id FROM top64)
{body}
ORDER BY dim, qid
"""


SPECS["dim_ablation_recall"] = QuerySpec(
    _dim_ablation_recall,
    _dim_ablation_recall_sql(),
    "recall@10 of prefix-dimension cosine (d=8/16/32/64) vs full width: the truncation eval",
)


# --- ivf_pq_operating_curve: recall@10 vs nprobe, the serving trade-off -----
# VERDICT r9 #4: topk_ivf_pq_trained's composed recall (0.5 at sf0.1)
# is one point on a curve nobody had measured.  This query measures the
# WHOLE curve — IVF candidates at nprobe in {1, 2, 4, 8} plus the
# un-pruned 'all' arm (nprobe = k, the flat scan that reduces to the
# pq_operating_point shape) — over the same FIVE literal evaluation
# queries, same trained 16x4 PQ shortlist-100, same exact ground truth.
# The 'all' row IS the measured >=0.9 operating point; the
# intermediate rows price each 2x candidate cut in recall, so a
# deployment picks an (nprobe, recall) point instead of inheriting a
# default.  Measured at sf0.1 (k = 16 cells):
#
#   nprobe     1      2      4      8      all(16)
#   cand_frac  0.067  0.132  0.249  0.492  1.0
#   recall     0.14   0.24   0.42   0.70   0.96 (min 0.9)
#
# On this isotropic corpus the curve is steep — recall tracks the
# candidate fraction almost linearly because a random query's true
# neighbors scatter uniformly across cells (the documented reason IVF
# pruning caps recall here), so the CHOSEN serving point for this
# corpus is the un-pruned flat-ADC arm; on a clustered corpus the same
# query measures where >=0.9 becomes affordable below nprobe = k —
# MEASURED by ``ivf_recall_clustered`` (plans/retrieval_eval.py):
# recall 0.96 at cand_frac 0.030 on the topic-clustered documents
# corpus at sf0.1, the regime where IVF pruning earns its keep.
#
# Scale shape: cell ranking is 5 broadcast queries x k cells; per arm
# the candidate set is an equi-join on the routed cell id; ADC sums are
# partial-aggregated per (arm, qid, vec_id); shortlists are two-phase
# top-k — never a global sort.  FP discipline: every ranking key is
# (exact BIGINT adc | FLOOR-rounded d2, vec_id); recall fractions are
# single exact divisions both engines replay.

_CURVE_ARMS = (1, 2, 4, 8)  # plus the 'all' flat arm (nprobe = k)


def _ivf_pq_operating_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import cosine_similarity
    from ..operators.ann import ivf_seed_centroids

    emb, n, k, _, assign = full_corpus(spark, sf_dir)
    cents = ivf_seed_centroids(emb, k)

    qs = _op_query_vecs()
    qfull = local_rows(
        spark,
        [(qid, q) for qid, q in enumerate(qs)],
        "qid int, qv array<double>",
    )
    # per-query cell ranking: k cells x |Q| queries (tiny — the window is
    # bounded by k per query, an eval-set shape, not a corpus scan)
    wq = Window.partitionBy("qid").orderBy(F.desc("qsim"), "cid")
    probed = (
        cents.crossJoin(F.broadcast(qfull))
        .select(
            "qid",
            "cid",
            portable_round(cosine_similarity("cv", F.col("qv")), 4).alias(
                "qsim"
            ),
        )
        .withColumn("rk", F.row_number().over(wq))
    )
    arms = local_rows(
        spark,
        [(str(a), a) for a in _CURVE_ARMS] + [("all", k)], "arm string, np int"
    )
    # r16 (guide §3.1): the 'all' arm (np = k — every cell probed) made
    # the candidate set O(|Q| * n), which forced the old af ⋈ cand join
    # to shuffle BOTH sides on vec_id.  Split it out: for 'all' the
    # cell routing is a no-op (every vector qualifies for every query),
    # so its ADC distances are exactly af ⋈ broadcast(lut) — the
    # pq_operating_point shape, af never shuffled — and the BOUNDED
    # arms' candidate set (<= |Q| * Σnp * cell-size, capped by the
    # scaled-k rule) broadcasts, leaving af unshuffled there too.
    # Identical rows: probed at np = k keeps all k cells (rk <= k holds
    # for every cell), so old cand_'all' was every (qid, vec_id) pair —
    # the same 16 integer ld terms per (qid, vec_id) are summed either
    # way (LONG sum, order-free).
    bounded_arms = arms.filter(F.col("arm") != "all")
    probed_arm = probed.join(
        F.broadcast(bounded_arms), F.col("rk") <= F.col("np")
    ).select("arm", "np", "qid", "cid")
    # lineage cut: cand feeds BOTH the ADC branch and the candidate-count
    # aggregate — without the checkpoint each branch re-runs the full
    # two-level assignment (the _semdedup_fenced lesson; caught by the
    # r10 adversarial review)
    cand = (
        assign.join(F.broadcast(probed_arm), "cid")
        .select("arm", "qid", "vec_id")
        .transform(materialize, "curve candidates", "lazy")
    )

    af, trained = _op_trained_parts(spark, sf_dir)
    lut = _op_lut(trained, spark)
    # full per-(qid, vec_id) ADC once — the 'all' arm needs every pair
    # anyway, and the ADC sum is arm-independent, so the bounded arms
    # just ATTACH their arm tag to the aggregated table via the
    # broadcast candidate set instead of re-scoring through a second
    # af pass.  Checkpointed: two consumers (the 'all' row set and the
    # bounded attach).
    adc_full = (
        af.join(F.broadcast(lut), ["sub_j", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("ld").alias("adc"))
        .transform(materialize, "adc distances", "lazy")
    )
    dists_bounded = adc_full.join(
        F.broadcast(cand), ["qid", "vec_id"]
    ).select("arm", "qid", "vec_id", "adc")
    dists = dists_bounded.unionByName(
        adc_full.select(F.lit("all").alias("arm"), "qid", "vec_id", "adc")
    )
    keyed = dists.withColumn("_g", F.concat_ws("#", "arm", "qid"))
    short = _two_phase_topk(
        keyed, "_g", [F.asc("adc"), F.asc("vec_id")], _OPSHORT
    ).select("arm", "qid", "vec_id")

    exact = _op_exact_topk(spark, sf_dir, qfull)
    hits = hit_counts(
        short, F.broadcast(exact), ["qid", "vec_id"], by=("arm", "qid")
    )
    # 25-row grid left-joining a <=25-row derived aggregate: both sides
    # are stats-free aggregates, so without hints Catalyst planned a
    # SortMergeJoin + CartesianProduct here (the r9 EXPLAIN-audit class)
    grid = arms.crossJoin(F.broadcast(qfull.select("qid")))
    # 'all' candidate count is exactly |Q| * n (one assignment row per
    # embedding row, every cell probed) — the split above removed the
    # O(|Q| * n) rows from cand, so the row is emitted as a literal
    candn = cand.groupBy("arm").agg(
        F.count(F.lit(1)).alias("sum_cand")
    ).unionByName(
        local_rows(spark, [("all", len(qs) * n)], "arm string, sum_cand long")
    )
    return (
        recall_curve(zero_filled(grid, hits), candn, len(qs), _OPTOPK, n)
        .withColumnRenamed("np", "nprobe_eff")
        .orderBy("nprobe_eff", "arm")
    )


def _ivf_pq_operating_curve_sql() -> str:
    from .ivf_sql import HIER_ASSIGN_CTES, SQL_COS

    cos_cq = SQL_COS.format(a="c.cv", b="q.qv")
    qd2 = (
        "list_sum(list_transform(range(1, {n}), "
        "i -> (qs.qv[i] - t.cw[i]) * (qs.qv[i] - t.cw[i])))"
    ).format(n=_OPD + 1)
    arm_rows = ", ".join(f"('{a}', {a})" for a in _CURVE_ARMS)
    n_q = len(_OP_QUESTIONS)
    return f"""
WITH {HIER_ASSIGN_CTES},
{_op_trained_cte_body()},
q(qid, qv) AS (VALUES {_op_query_values_sql()}),
qs AS (
  SELECT qid, j AS sub_j, q.qv[j * {_OPD} + 1 : j * {_OPD} + {_OPD}] AS qv
  FROM q, generate_series(0, {_OPM - 1}) g(j)
),
lut AS (
  SELECT qs.qid, t.sub_j, t.code,
         CAST(FLOOR({qd2} * 10000 + 0.5) AS BIGINT) AS ld
  FROM {_OP_TRAINED_FINAL_CB} t JOIN qs ON t.sub_j = qs.sub_j
),
probed AS (
  SELECT qid, cid, rk FROM (
    SELECT q.qid, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.qid
             ORDER BY FLOOR(({cos_cq}) * 10000 + 0.5) / 10000 DESC, c.cid
           ) AS rk
    FROM c, q
  )
),
arms0(arm, np0) AS (VALUES {arm_rows}, ('all', NULL)),
arms AS (SELECT arm, CAST(COALESCE(np0, p.k) AS INTEGER) AS np FROM arms0, p),
cand AS (
  SELECT a.arm, pr.qid, h.vec_id
  FROM arms a JOIN probed pr ON pr.rk <= a.np
  JOIN hier h ON h.cid_hier = pr.cid
),
dists AS (
  SELECT cand.arm, cand.qid, af.vec_id, SUM(l.ld) AS adc
  FROM af JOIN cand ON af.vec_id = cand.vec_id
  JOIN lut l ON af.sub_j = l.sub_j AND af.code = l.code AND l.qid = cand.qid
  GROUP BY 1, 2, 3
),
short AS (
  SELECT arm, qid, vec_id FROM (
    SELECT arm, qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY arm, qid ORDER BY adc, vec_id) AS rk
    FROM dists
  ) WHERE rk <= {_OPSHORT}
),
{_OP_EXACT_CTE},
hits AS (
  SELECT s.arm, s.qid, COUNT(*) AS nh
  FROM short s JOIN exact e USING (qid, vec_id) GROUP BY 1, 2
),
grid AS (SELECT a.arm, a.np, q.qid FROM arms a, q),
perq AS (
  SELECT g.arm, g.np, g.qid, COALESCE(h.nh, 0) AS nh
  FROM grid g LEFT JOIN hits h ON g.arm = h.arm AND g.qid = h.qid
),
candn AS (SELECT arm, COUNT(*) AS sum_cand FROM cand GROUP BY arm)
SELECT p2.arm, p2.np AS nprobe_eff,
       CAST(c2.sum_cand AS BIGINT) AS sum_cand,
       CAST(c2.sum_cand AS DOUBLE)
         / ({float(n_q)} * (SELECT COUNT(*) FROM embeddings)) AS cand_frac,
       CAST(SUM(p2.nh) AS BIGINT) AS n_hits,
       CAST(SUM(p2.nh) AS DOUBLE) / {float(n_q * _OPTOPK)} AS recall_mean,
       MIN(CAST(p2.nh AS DOUBLE) / {float(_OPTOPK)}) AS recall_min
FROM perq p2 JOIN candn c2 USING (arm)
GROUP BY p2.arm, p2.np, c2.sum_cand
ORDER BY nprobe_eff, arm
"""


SPECS["ivf_pq_operating_curve"] = QuerySpec(
    _ivf_pq_operating_curve,
    _ivf_pq_operating_curve_sql(),
    "recall@10 / candidate-fraction vs nprobe (1/2/4/8/all) for IVF + trained-PQ serving: the operating curve",
)


# --- pq_encode_delta: incremental PQ encoding (r13) -------------------------
# The PQ tier's twin of ivf_delta_assign: the newest max(50, n/10)
# vectors (the maintenance convention) are ENCODED against codebooks
# trained on the base corpus only — 1 Lloyd round at the operating
# geometry (M=16, D=4, K=64), frozen at ingest time.  The incoming
# batch costs one broadcast-join encode pass over |delta| subvectors,
# never a retrain; staleness policy belongs to the embedding_drift
# monitor, exactly as maintain owns the re-cluster trigger.  Routed
# through ivf_index.shared_pq_encode_delta (the base parts are
# shared_pq_parts' memo entry, only the delta encode is new —
# bit-identical to the inline job, pinned by test_ivf_index).  Oracle = pq_train_cte_body with assign_src=dsubs:
# train on base subs, final-assign the delta subs — drift between the
# operator and the trainer's own CTE chain is structurally impossible.

_PQED_ROUNDS = 1


def _pq_encode_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.sources import ensure_parallelism
    from ..operators.ivf_index import shared_pq_encode_delta

    split = incoming_split(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    subs_all = _op_sub_rows(emb)
    # base subs feed the Lloyd round repeatedly: spread + checkpoint
    # (the _op_trained_parts discipline); delta subs are encoded once
    base_subs = materialize(
        ensure_parallelism(split.base(subs_all)), "base subvectors", "lazy"
    )
    tag = f"op{_OPM}x{_OPD}r{_PQED_ROUNDS}"
    codes, _cb = shared_pq_encode_delta(
        spark,
        base_subs,
        split.delta(subs_all),
        f"{split.base_token}|{tag}",
        f"{split.delta_token}|{tag}",
        _OPD,
        _OPK,
        _PQED_ROUNDS,
    )
    return split.delta(codes).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("sub_j").cast("int").alias("sub_j"),
        F.col("code").cast("int").alias("code"),
    )


def _pq_encode_delta_sql() -> str:
    subs_ctes = f"""nn AS (SELECT COUNT(*) AS n,
                   GREATEST(1, COUNT(*) - GREATEST(50, COUNT(*) // 10)) AS cut
            FROM embeddings),
d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
allsubs AS (
  SELECT vec_id, j AS sub_j, e[j * {_OPD} + 1 : j * {_OPD} + {_OPD}] AS sv
  FROM d, generate_series(0, {_OPM - 1}) g(j)
),
subs AS (SELECT a.vec_id, a.sub_j, a.sv FROM allsubs a, nn
         WHERE a.vec_id < nn.cut),
dsubs AS (SELECT a.vec_id, a.sub_j, a.sv FROM allsubs a, nn
          WHERE a.vec_id >= nn.cut),
cb0 AS (SELECT sub_j, CAST(vec_id AS INTEGER) AS code, sv AS cw
        FROM subs WHERE vec_id < {_OPK})"""
    body = pq_train_cte_body(
        subs_ctes, _OPD, _PQED_ROUNDS, assign_src="dsubs"
    )
    return f"""
WITH {body}
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(sub_j AS INTEGER) AS sub_j,
       CAST(code AS INTEGER) AS code
FROM af
"""


SPECS["pq_encode_delta"] = QuerySpec(
    _pq_encode_delta,
    _pq_encode_delta_sql(),
    "incremental PQ encoding: the incoming batch encoded against "
    "codebooks trained on the base corpus and frozen "
    "(shared_pq_encode_delta; oracle = pq_train_cte_body with "
    "assign_src=dsubs)",
)
