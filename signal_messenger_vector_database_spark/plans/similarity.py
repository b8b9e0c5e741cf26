"""Dedup / similarity query surface (north-star LLM-pipeline operators).

MinHash+LSH, SimHash, and n-gram Jaccard are fully oracle-checkable because
every hash is md5 (bit-identical in Spark and DuckDB) — see
operators/dedup.py.  The embedding near-dup has an exact oracle-paired
variant (O(n^2), the correctness baseline) and an LSH-bucketed rows-only
variant (the 100 TB path).  IVF search is oracle-paired end-to-end
(assignment + cluster-pruned top-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import cosine_similarity
from ..io.materialize import materialize
from ..io.sources import load_table
from ..operators.ann import exact_cosine_pairs, ivf_assign, lsh_cosine_pairs
from ..operators.dedup import (
    NUM_MINHASHES,
    SIMHASH_BITS,
    connected_components,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_hamming_pairs,
)
from .embeddings_index import full_corpus
from .registry import QuerySpec

# ---------------------------------------------------------------------------
# shared DuckDB fragments (twins of operators/dedup.py — change both or none)

_SQL_NORM = "lower(regexp_replace(trim(COALESCE({c}, '')), '\\s+', ' ', 'g'))"
_SQL_SHINGLES = (
    "CASE WHEN len(string_split({norm}, ' ')) >= 2 THEN "
    "list_distinct(list_transform(generate_series(1, len(string_split({norm}, ' ')) - 1), "
    "i -> string_split({norm}, ' ')[i] || ' ' || string_split({norm}, ' ')[i + 1])) "
    "ELSE list_value({norm}) END"
)


def _sql_shingle_cte(table: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    norm = _SQL_NORM.format(c=text_col)
    return (
        f"SELECT {id_col}, {_SQL_SHINGLES.format(norm=norm)} AS shingles FROM {table}"
    )


def _sql_minhash_cols() -> str:
    # mirror of operators/dedup._minhash_agg_cols: four 8-hex slices per
    # md5, min taken over the SLICE per shingle (not a slice of the min)
    return ", ".join(
        f"list_sort(list_transform(shingles, "
        f"s -> substr(md5('{j // 4}|' || s), {8 * (j % 4) + 1}, 8)))[1] AS mh_{j}"
        for j in range(NUM_MINHASHES)
    )


# ---------------------------------------------------------------------------
# MinHash signatures (per-doc, always 500 rows)


def _minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures(docs, id_col="doc_id", text_col="text")


_MINHASH_SIGNATURES_SQL = f"""
WITH t AS ({_sql_shingle_cte()})
SELECT doc_id, {_sql_minhash_cols()} FROM t
"""


# ---------------------------------------------------------------------------
# MinHash LSH near-dup pairs (band join -> exact Jaccard verify)
#
# The fixture corpus has no true near-dups, so the query plants them
# deterministically on BOTH sides: every 10th doc is duplicated (doc_id +
# 1_000_000) with one appended token => Jaccard ~0.95, squarely in the
# regime the 2x4 banding targets.

_JACCARD_THRESHOLD = 0.5


def _augmented_docs(docs: DataFrame) -> DataFrame:
    # spread the single-file docs scan across the cores before the
    # shingle/fingerprint stage-1 work (io.sources.ensure_parallelism;
    # all downstream aggregates here are integer sums / min / set
    # semantics — order-free at ANY scale, not just on the fixtures)
    from ..io.sources import ensure_parallelism

    docs = ensure_parallelism(docs)
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" planteddup")).alias("text"),
    )
    return docs.select("doc_id", "text").union(planted)


_SQL_AUGMENTED_DOCS = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text || ' planteddup' AS text
FROM documents WHERE doc_id % 10 = 0
"""


def _minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_with_shingles

    docs = _augmented_docs(load_table(spark, sf_dir, "documents"))
    # sets + signatures from ONE explode/shuffle, persisted once; banding
    # and the Jaccard verify are projections of the same materialization
    combined = materialize(
        minhash_with_shingles(docs, id_col="doc_id", text_col="text"), "minhash", "cache"
    )
    sh = combined.select("doc_id", "shingles")
    sigs = combined.drop("shingles")
    cands = lsh_candidate_pairs(sigs, id_col="doc_id")
    return jaccard_verify(cands, sh, id_col="doc_id", threshold=_JACCARD_THRESHOLD)


_MINHASH_LSH_PAIRS_SQL = f"""
WITH t AS ({_sql_shingle_cte(table=f"({_SQL_AUGMENTED_DOCS})")}),
sig AS (SELECT doc_id, shingles, {_sql_minhash_cols()} FROM t),
banded AS (
  SELECT doc_id, 0 AS band, md5(mh_0 || mh_1 || mh_2 || mh_3) AS key FROM sig
  UNION ALL SELECT doc_id, 1, md5(mh_4 || mh_5 || mh_6 || mh_7) FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
             (len(sa.shingles) + len(sb.shingles)
              - len(list_intersect(sa.shingles, sb.shingles))), 4) AS jaccard
FROM cand
JOIN sig sa ON cand.id_a = sa.doc_id
JOIN sig sb ON cand.id_b = sb.doc_id
WHERE ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
            (len(sa.shingles) + len(sb.shingles)
             - len(list_intersect(sa.shingles, sb.shingles))), 4) >= {_JACCARD_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# SimHash fingerprints


def _simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, id_col="doc_id", text_col="text")


def _sql_hexn(expr: str, n_chars: int = 4, start: int = 1) -> str:
    """Hex chars [start, start+n_chars) of an md5 expression -> integer
    (1-indexed) — THE hex-to-int SQL arithmetic (single copy, the twin
    of operators/dedup.py::_hex_slice_to_int; the two-half fingerprint
    builder used to carry its own offset variant)."""
    terms = [
        f"(instr('0123456789abcdef', substr({expr}, {start + i}, 1)) - 1) * {16 ** (n_chars - 1 - i)}"
        for i in range(n_chars)
    ]
    return "(" + " + ".join(terms) + ")"


def _sql_hex4(expr: str) -> str:
    return _sql_hexn(expr, 4)


def _sql_vote(hv: str, b: int) -> str:
    """DuckDB twin of operators/dedup.py::_bit_vote — EXACT integer bit
    extraction.  The r9 floor-divide form went through IEEE double
    division and rounded away bits 0-2 once hv >= 2^53 (ADVICE r9: the
    56-bit rung was silently ~53-bit effective on BOTH engines)."""
    return f"(({hv} >> {b}) & 1) = 1"


def _simhash_fp_sql(
    parts: list[tuple[str, int, int]], out_cols: dict[str, tuple[str, str]]
) -> str:
    """Twin of operators/dedup.py::_simhash_fp_parts (ONE fingerprint
    chain for every width/representation): ``parts`` =
    (name, md5_start_char, bits) per emitted fingerprint; ``out_cols``
    maps part name -> (output alias, SQL type)."""
    norm = _SQL_NORM.format(c="text")
    hvs = ", ".join(
        f"{_sql_hexn('md5(w)', bits // 4, start)} AS hv_{name}"
        for name, start, bits in parts
    )
    sums = ", ".join(
        f"SUM(CASE WHEN {_sql_vote(f'hv_{name}', b)} THEN 1 ELSE -1 END) AS s_{name}_{b}"
        for name, _start, bits in parts
        for b in range(bits)
    )
    fps = ", ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN s_{name}_{b} > 0 THEN {2**b} ELSE 0 END)"
            for b in range(bits)
        )
        + f" AS {out_cols[name][1]}) AS {out_cols[name][0]}"
        for name, _start, bits in parts
    )
    return f"""
WITH w AS (
  SELECT doc_id, unnest(list_distinct(string_split({norm}, ' '))) AS w FROM documents
),
h AS (SELECT doc_id, {hvs} FROM w),
s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, {fps} FROM s
"""


def _simhash_sql(bits: int = SIMHASH_BITS) -> str:
    """Twin of operators/dedup.py::simhash at any fingerprint width
    (INTEGER output at the classic 16-bit geometry, BIGINT when wider —
    matching the Spark side's int/long switch)."""
    out_type = "INTEGER" if bits <= 31 else "BIGINT"
    return _simhash_fp_sql([("fp", 1, bits)], {"fp": ("simhash", out_type)})


# ---------------------------------------------------------------------------
# n-gram Jaccard all-pairs via posting-list join

_NGRAM_THRESHOLD = 0.05
# Stop-shingle cutoff (VERDICT r1 task 3): df>40 binds at fixture scale
# (sf0.01 head is df 41-46 over 916 shingles), so the cutoff path is what
# the oracle actually verifies, not dead code.
_NGRAM_MAX_DF = 40


def _ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", threshold=_NGRAM_THRESHOLD,
        max_df=_NGRAM_MAX_DF,
    )


_NGRAM_JACCARD_SQL = f"""
WITH t AS ({_sql_shingle_cte()}),
posting0 AS (SELECT doc_id, unnest(shingles) AS s FROM t),
freq AS (SELECT s, COUNT(*) AS df FROM posting0 GROUP BY s),
posting AS (SELECT p.doc_id, p.s FROM posting0 p JOIN freq USING (s)
            WHERE freq.df <= {_NGRAM_MAX_DF}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM posting GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(common AS DOUBLE) / (na.n + nb.n - common), 4) AS jaccard
FROM common
JOIN sizes na ON id_a = na.doc_id
JOIN sizes nb ON id_b = nb.doc_id
WHERE ROUND(CAST(common AS DOUBLE) / (na.n + nb.n - common), 4) >= {_NGRAM_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Embedding near-dup: exact (oracle baseline) + LSH (scale path, rows-only)

_NEARDUP_THRESHOLD = 0.35

# Canonical definition lives in ivf_sql (ONE per engine side); aliased
# here for this module's historical consumers.
from .ivf_sql import SQL_COS as _SQL_COS


def _embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return exact_cosine_pairs(emb, threshold=_NEARDUP_THRESHOLD)


_cos_ab = _SQL_COS.format(a="a.embedding", b="b.embedding")
_EMBEDDING_NEARDUP_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND({_cos_ab}, 4) AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND({_cos_ab}, 4) >= {_NEARDUP_THRESHOLD}
"""


def _embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import lsh_geometry
    from ..schemas import FIXTURE_EMBEDDING_DIM

    from ..io.sources import parquet_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    # dim from the fixture constant, not a first() probe, and n from
    # parquet FOOTER metadata, not a count() action: the plan must build
    # without running a job (r2 VERDICT task 8; the count() here was the
    # last documented exception, closed per ADVICE r7).  The LSH geometry
    # scales with the corpus: fixed planes made bucket size linear in n
    # and the verify join quadratic (scaling_probe, 515 s at 16x).
    # PARITY SCOPE: the SQL twin pins (4, 4) as literals, which
    # lsh_geometry reproduces at every fixture scale (<= 2048 vectors) —
    # the same contract as semdedup's k = max(8, n/125): the oracle
    # pairing is valid exactly where the derived knob equals the pinned
    # literal, and the geometry unit test pins both fixture scales.
    # Above that, the scaled geometry is the production path and the
    # oracle twin does not apply.  target_recall=0.45 is the EXPLICIT
    # oracle-pinned operating point (it reproduces (4, 4) at fixture
    # scales); the function's production default is 0.8 (r8, measured by
    # tools/lsh_recall_sweep.py — see SCALING.md).
    n_planes, n_tables = lsh_geometry(
        parquet_row_count(sf_dir, "embeddings"),
        threshold=_NEARDUP_THRESHOLD,
        target_recall=0.45,
    )
    return lsh_cosine_pairs(
        emb,
        threshold=_NEARDUP_THRESHOLD,
        dim=FIXTURE_EMBEDDING_DIM,
        n_planes=n_planes,
        n_tables=n_tables,
    )


def _embedding_neardup_lsh_sql(dim: int | None = None, n_planes: int = 4, n_tables: int = 4) -> str:
    """DuckDB twin of ``lsh_cosine_pairs``: the hyperplanes are
    DETERMINISTIC (shake_256 of "hyperplane-{table}-{plane}",
    operators/ann.py::hyperplane_bucket), so the oracle bakes the exact
    same float literals and replays bucket assignment + candidate join +
    cosine verify.  Plane dots are O(0.1) while cross-engine summation
    noise is ~1e-16, so the sign bits — and therefore the candidate set —
    agree exactly."""
    from ..operators.embed import HashEmbedder
    from ..schemas import FIXTURE_EMBEDDING_DIM

    if dim is None:
        dim = FIXTURE_EMBEDDING_DIM

    tables = []
    for t in range(n_tables):
        planes = HashEmbedder(dim).embed_batch(
            [f"hyperplane-{t}-{j}" for j in range(n_planes)]
        )
        bits = [f"'t{t}:'"]
        for j in range(n_planes):
            lits = "[" + ", ".join(repr(float(x)) for x in planes[j]) + "]::DOUBLE[]"
            bits.append(
                f"(CASE WHEN list_dot_product(e, {lits}) >= 0 THEN '1' ELSE '0' END)"
            )
        tables.append(" || ".join(bits))
    buckets = ",\n    ".join(tables)
    cos = _SQL_COS.format(a="da.e", b="db.e")
    return f"""
WITH d AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
bk AS (
  SELECT vec_id, unnest([
    {buckets}
  ]) AS bucket FROM d
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND({cos}, 4) AS sim
FROM cand JOIN d da ON cand.id_a = da.vec_id JOIN d db ON cand.id_b = db.vec_id
WHERE ROUND({cos}, 4) >= {_NEARDUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# IVF-style cluster-pruned search (oracle-paired end-to-end)


def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    assign = ivf_assign(emb, centroids)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    qcid = assign.filter(F.col("vec_id") == 0).select(F.col("cid").alias("qcid"))
    return (
        emb.join(assign, "vec_id")
        .join(F.broadcast(qcid), F.col("cid") == F.col("qcid"))
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cosine_similarity("embedding", "qv"), 4).alias("sim"))
        .orderBy(F.desc("sim"), F.col("vec_id"))
        .limit(5)
    )


_cos_ec = _SQL_COS.format(a="e.embedding", b="c.cv")
_cos_eq = _SQL_COS.format(a="e.embedding", b="q.qv")
_ANN_IVF_SQL = f"""
WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
sims AS (
  SELECT e.vec_id, c.cid, {_cos_ec} AS csim FROM embeddings e, c
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rk
    FROM sims
  ) WHERE rk = 1
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qc AS (SELECT cid FROM assign WHERE vec_id = 0)
SELECT e.vec_id, ROUND({_cos_eq}, 4) AS sim
FROM embeddings e
JOIN assign s ON e.vec_id = s.vec_id
JOIN qc ON s.cid = qc.cid, q
ORDER BY sim DESC, e.vec_id
LIMIT 5
"""


def _neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> clusters: the dedup completion step.  Keeping one doc per
    PAIR over-deletes ((a,b),(b,c) would kill two of three); the survivor
    set is one doc per connected component."""
    pairs = _minhash_lsh_pairs(spark, sf_dir)
    labels = connected_components(pairs)
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster")
    )


# Transitive closure via recursive CTE — tractable at oracle scale; the
# Spark side uses iterative label propagation instead (bounded rounds,
# lineage-truncated), which is the 100 TB-safe formulation.
_NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE
edges AS (
  SELECT id_a AS src, id_b AS dst FROM ({_MINHASH_LSH_PAIRS_SQL}) p
  UNION
  SELECT id_b, id_a FROM ({_MINHASH_LSH_PAIRS_SQL}) p
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster
FROM reach GROUP BY src
"""


SPECS: dict[str, QuerySpec] = {
    "neardup_clusters": QuerySpec(
        _neardup_clusters,
        _NEARDUP_CLUSTERS_SQL,
        "connected components over near-dup pairs (min-label propagation)",
    ),
    "minhash_signatures": QuerySpec(_minhash_signatures, _MINHASH_SIGNATURES_SQL, "md5-portable MinHash signatures (8 hashes)"),
    "minhash_lsh_pairs": QuerySpec(_minhash_lsh_pairs, _MINHASH_LSH_PAIRS_SQL, "LSH band join -> exact Jaccard verify"),
    "simhash": QuerySpec(_simhash, _simhash_sql(), "16-bit SimHash fingerprints"),
    "ngram_jaccard_pairs": QuerySpec(_ngram_jaccard, _NGRAM_JACCARD_SQL, "bigram Jaccard all-pairs via posting-list equi-join"),
    # Fenced O(n^2) correctness baseline (VERDICT r1 task 7): the "_exact_
    # baseline" suffix marks it NEVER-the-production-path; the advertised
    # scale operator is embedding_neardup_lsh.  Excluded from bench HEADLINE.
    "embedding_neardup_exact_baseline": QuerySpec(_embedding_neardup, _EMBEDDING_NEARDUP_SQL, "exact cosine near-dup pairs — O(n^2) oracle baseline, fenced from production/bench; use embedding_neardup_lsh at scale"),
    "embedding_neardup_lsh": QuerySpec(_embedding_neardup_lsh, _embedding_neardup_lsh_sql(), "hyperplane-LSH near-dup (scale path; oracle replays the seeded hyperplanes)"),
    "ann_ivf": QuerySpec(_ann_ivf, _ANN_IVF_SQL, "IVF cluster-pruned cosine search, oracle-paired"),
}


# --- MinHash Jaccard ESTIMATE vs exact (estimator-quality query) ---------
# The fraction of matching signature components estimates Jaccard with
# stderr ~ 1/sqrt(k); surfacing estimate and truth side by side makes the
# estimator's error an oracle-checked quantity (both engines compute the
# identical md5 signatures, so the "estimate" itself is deterministic).
# Runs on the planted-dup corpus pairs produced by the LSH band join.


def _minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_with_shingles

    docs = _augmented_docs(load_table(spark, sf_dir, "documents"))
    combined = materialize(
        minhash_with_shingles(docs, id_col="doc_id", text_col="text"), "minhash", "cache"
    )
    sigs = combined.drop("shingles")
    cands = lsh_candidate_pairs(sigs, id_col="doc_id")
    a = combined.select(
        F.col("doc_id").alias("id_a"),
        F.col("shingles").alias("sh_a"),
        *[F.col(f"mh_{j}").alias(f"a_{j}") for j in range(NUM_MINHASHES)],
    )
    b = combined.select(
        F.col("doc_id").alias("id_b"),
        F.col("shingles").alias("sh_b"),
        *[F.col(f"mh_{j}").alias(f"b_{j}") for j in range(NUM_MINHASHES)],
    )
    matches = sum(
        (F.col(f"a_{j}") == F.col(f"b_{j}")).cast("int") for j in range(NUM_MINHASHES)
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b") - F.size(F.array_intersect("sh_a", "sh_b"))).cast("double")
    from ..functions.text import portable_round

    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            portable_round(matches / float(NUM_MINHASHES), 4).alias("jaccard_est"),
            portable_round(inter / union, 4).alias("jaccard_exact"),
        )
    )


def _minhash_jaccard_estimate_sql() -> str:
    match_terms = " + ".join(
        f"(CASE WHEN sa.mh_{j} = sb.mh_{j} THEN 1 ELSE 0 END)"
        for j in range(NUM_MINHASHES)
    )
    return f"""
WITH t AS ({_sql_shingle_cte(table=f"({_SQL_AUGMENTED_DOCS})")}),
sig AS (SELECT doc_id, shingles, {_sql_minhash_cols()} FROM t),
banded AS (
  SELECT doc_id, 0 AS band, md5(mh_0 || mh_1 || mh_2 || mh_3) AS key FROM sig
  UNION ALL SELECT doc_id, 1, md5(mh_4 || mh_5 || mh_6 || mh_7) FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       FLOOR(({match_terms}) * 1.0 / {NUM_MINHASHES} * 10000 + 0.5) / 10000 AS jaccard_est,
       FLOOR(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
             (len(sa.shingles) + len(sb.shingles)
              - len(list_intersect(sa.shingles, sb.shingles))) * 10000 + 0.5) / 10000 AS jaccard_exact
FROM cand
JOIN sig sa ON cand.id_a = sa.doc_id
JOIN sig sb ON cand.id_b = sb.doc_id
"""


SPECS["minhash_jaccard_estimate"] = QuerySpec(
    _minhash_jaccard_estimate,
    _minhash_jaccard_estimate_sql(),
    "MinHash signature-match Jaccard estimate vs exact, per candidate pair",
)


def _fuzzy_dedup_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs via banded blocking — the classic
    record-linkage pattern (block, then verify) done with equi-joins only.

    Candidate generation NEVER compares all pairs: records block on
    (last name token, length band).  Since edit distance <= 3 implies
    length difference <= 3, the left side explodes into its own and both
    adjacent width-4 length bands while the right side keeps its own band
    — every qualifying pair meets in exactly one (token, band) bucket, so
    no post-join dedup is needed.  The verify stage then computes exact
    levenshtein only on candidates.  Hot blocks are refined, not dropped
    (hierarchical blocking): any (token, band) bucket whose population
    exceeds ``max_block`` extends its key with the name's first character
    — the same df-governed escalation idea as the stop-shingle cutoff
    (operators/dedup.py), except recall degrades gracefully instead of
    vanishing.  Hotness is a property of the bucket (computed once from
    the un-exploded table and broadcast), so both join sides agree on the
    refined key.  Documented recall trades: edits that cross the blocking
    token, and — inside hot buckets only — edits that change the first
    character.

    Fixture note: the synthetic part-name vocabulary is DEGENERATE (a few
    dozen adjective+noun combos), so at sf0.1 every bucket is hot and the
    refined buckets hold only names differing in their first letter —
    the result is legitimately empty there, while sf0.01 exercises both
    the plain and refined paths (the oracle verifies the mix).  A real
    corpus has a heavy-tailed, not closed, key vocabulary: buckets are
    overwhelmingly cold and the cap only clips the boilerplate head —
    same reasoning as the stop-shingle constant.
    """
    # binds at sf0.01 (hot buckets exist there) so the oracle verifies the
    # refined path, not just the plain one — same rationale as the stop-
    # shingle cutoff constant.
    max_block = 120
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    noun = F.element_at(F.split("p_name", " "), -1)
    band = F.floor(F.length("p_name") / 4)
    base = part.select("p_partkey", "p_name", noun.alias("blk"), band.alias("band"))
    hot = F.broadcast(
        base.groupBy("blk", "band")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") > max_block)
        .select("blk", "band", F.lit(1).alias("is_hot"))
    )

    def keyed(df, name_col):
        refined = F.when(
            F.col("is_hot").isNotNull(), F.substring(F.col(name_col), 1, 1)
        ).otherwise(F.lit(""))
        return df.join(hot, ["blk", "band"], "left").withColumn(
            "blk", F.concat(F.col("blk"), F.lit("|"), refined)
        ).drop("is_hot")

    right = keyed(
        base.select(
            F.col("p_partkey").alias("p2"),
            F.col("p_name").alias("name2"),
            "blk",
            "band",
        ),
        "name2",
    )
    left = keyed(
        base.select(
            F.col("p_partkey").alias("p1"),
            F.col("p_name").alias("name1"),
            "blk",
            F.explode(F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)).alias(
                "band"
            ),
        ),
        "name1",
    )
    return (
        left.join(right, ["blk", "band"])
        .filter(F.col("p1") < F.col("p2"))
        .filter(F.abs(F.length("name1") - F.length("name2")) <= 3)
        .withColumn("edit_dist", F.levenshtein("name1", "name2"))
        .filter(F.col("edit_dist") <= 3)
        .filter(F.col("name1") != F.col("name2"))  # exact dups handled elsewhere
        .select("p1", "p2", "name1", "name2", "edit_dist")
    )


_FUZZY_DEDUP_EDIT_SQL = """
WITH base AS (
  SELECT p_partkey, p_name,
         split_part(p_name, ' ', -1) AS blk,
         CAST(FLOOR(len(p_name) / 4) AS BIGINT) AS band
  FROM part
),
hot AS (
  SELECT blk, band FROM base GROUP BY blk, band HAVING COUNT(*) > 120
),
rhs AS (
  SELECT b.p_partkey AS p2, b.p_name AS name2,
         b.blk || '|' || CASE WHEN h.blk IS NOT NULL THEN substr(b.p_name, 1, 1) ELSE '' END AS blk,
         b.band
  FROM base b LEFT JOIN hot h ON b.blk = h.blk AND b.band = h.band
),
expl AS (
  SELECT p_partkey AS p1, p_name AS name1, blk AS blk0,
         unnest([band - 1, band, band + 1]) AS band
  FROM base
),
lhs AS (
  SELECT e.p1, e.name1,
         e.blk0 || '|' || CASE WHEN h.blk IS NOT NULL THEN substr(e.name1, 1, 1) ELSE '' END AS blk,
         e.band
  FROM expl e LEFT JOIN hot h ON e.blk0 = h.blk AND e.band = h.band
)
SELECT p1, p2, name1, name2, edit_dist
FROM (
  SELECT l.p1, r.p2, l.name1, r.name2,
         CAST(levenshtein(l.name1, r.name2) AS INTEGER) AS edit_dist
  FROM lhs l JOIN rhs r ON l.blk = r.blk AND l.band = r.band
  WHERE l.p1 < r.p2
    AND ABS(len(l.name1) - len(r.name2)) <= 3
)
WHERE edit_dist <= 3 AND name1 <> name2
"""


SPECS["fuzzy_dedup_edit"] = QuerySpec(
    _fuzzy_dedup_edit,
    _FUZZY_DEDUP_EDIT_SQL,
    "edit-distance near-dup pairs: (token, length-band) blocking + levenshtein verify",
)


# --- sorted-neighborhood blocking ----------------------------------------
# The third classic candidate-generation family next to token blocking
# (``fuzzy_dedup_edit``) and LSH: sort records by a key, compare each
# record only to its w nearest neighbors in sort order.  Distributed
# shape: the sort key's PREFIX partitions the data (a window per prefix
# block, parallel across blocks — never one global-ordered task), and
# the rank self-join BINS the rank into w-wide buckets and equi-joins on
# (block, bucket) — the interval_join_binned pattern — with the exact
# rank-delta predicate as a residual.  A block-only equi-join with the
# rank delta as residual LOOKS bounded but executes block_size^2
# comparisons before filtering: the probe measured it quadratic
# (tools/scaling_probe.py — 1.7 s / 25 s / 319 s over 1x/4x/16x, since
# the 2-char prefix blocks grow linearly with the corpus).  With the
# bucket in the join key, per-block work is O(block_size * w).

_SN_WINDOW = 3


def _sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = _augmented_docs(load_table(spark, sf_dir, "documents"))
    key = F.lower(F.trim(F.coalesce(F.col("text"), F.lit(""))))
    d = docs.select(
        "doc_id",
        F.substring(key, 1, 2).alias("blk"),
        F.substring(key, 1, 40).alias("k40"),
    )
    rn = F.row_number().over(Window.partitionBy("blk").orderBy("k40", "doc_id"))
    ranked = (
        d.withColumn("rn", rn)
        .withColumn("bk", F.floor((F.col("rn") - 1) / _SN_WINDOW))
        .transform(materialize, "sorted neighborhood", "cache")
    )
    # y.rn in (x.rn, x.rn + w] can only live in x's bucket or the next
    # one, so x probes both and the join key carries the bucket
    x = ranked.select(
        F.col("doc_id").alias("x_doc_id"),
        F.col("blk").alias("x_blk"),
        F.col("k40").alias("x_k40"),
        F.col("rn").alias("x_rn"),
        F.explode(F.array(F.col("bk"), F.col("bk") + 1)).alias("x_jk"),
    )
    y = ranked.select(
        F.col("doc_id").alias("y_doc_id"),
        F.col("blk").alias("y_blk"),
        F.col("k40").alias("y_k40"),
        F.col("rn").alias("y_rn"),
        F.col("bk").alias("y_jk"),
    )
    cand = x.join(
        y,
        (F.col("x_blk") == F.col("y_blk"))
        & (F.col("x_jk") == F.col("y_jk"))
        & (F.col("y_rn") > F.col("x_rn"))
        & (F.col("y_rn") <= F.col("x_rn") + _SN_WINDOW),
    )
    return (
        cand.select(
            F.col("x_doc_id").alias("id_a"),
            F.col("y_doc_id").alias("id_b"),
            F.levenshtein(F.col("x_k40"), F.col("y_k40")).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 5)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "edit_dist",
        )
    )


_SORTED_NEIGHBORHOOD_SQL = f"""
WITH aug AS ({_SQL_AUGMENTED_DOCS}),
d AS (
  SELECT doc_id,
         substring(lower(trim(COALESCE(text, ''))), 1, 2) AS blk,
         substring(lower(trim(COALESCE(text, ''))), 1, 40) AS k40
  FROM aug
),
ranked AS (
  SELECT doc_id, blk, k40,
         ROW_NUMBER() OVER (PARTITION BY blk ORDER BY k40, doc_id) AS rn
  FROM d
),
cand AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b,
         levenshtein(x.k40, y.k40) AS edit_dist
  FROM ranked x JOIN ranked y
    ON x.blk = y.blk AND y.rn > x.rn AND y.rn <= x.rn + {_SN_WINDOW}
)
SELECT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b,
       CAST(edit_dist AS INTEGER) AS edit_dist
FROM cand WHERE edit_dist <= 5
"""

SPECS["sorted_neighborhood"] = QuerySpec(
    _sorted_neighborhood,
    _SORTED_NEIGHBORHOOD_SQL,
    f"sorted-neighborhood dedup blocking (prefix blocks, window w={_SN_WINDOW}) + levenshtein verify",
)


# --- shingle containment (asymmetric near-dup) ---------------------------
# Containment C(A->B) = |A ∩ B| / |A| catches SUBSET duplication that
# symmetric Jaccard misses: a doc wholly contained in a longer one scores
# low Jaccard but containment ~1.  Candidate generation is the same
# shingle-key equi-join as exact Jaccard (any pair with C >= t shares a
# shingle), so nothing quadratic forms; sizes join back by id.

_CONTAINMENT_T = 0.8


def _shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import portable_round
    from ..operators.dedup import shingle_rows

    docs = _augmented_docs(load_table(spark, sf_dir, "documents"))
    raw = shingle_rows(docs, "doc_id", "text")
    # stop-shingle projection, same as ngram_jaccard (_NGRAM_MAX_DF): the
    # equi-join's cost is sum(df^2) over shingles, so corpus-hot shingles
    # dominate it quadratically while carrying no dedup signal.
    # Containment is computed IN THE PROJECTED SPACE (sizes too), so the
    # planted-superset property is preserved exactly.
    df_counts = raw.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    sh = raw.join(
        F.broadcast(df_counts.filter(F.col("df") > _NGRAM_MAX_DF)),
        "shingle",
        "left_anti",
    ).transform(materialize, "pruned shingles", "cache")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x, y = sh.alias("x"), sh.alias("y")
    inter = (
        x.join(y, "shingle")
        .filter(F.col("x.doc_id") != F.col("y.doc_id"))
        .groupBy(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    return (
        inter.join(na, "id_a")
        .withColumn("containment", F.col("inter") / F.col("na"))
        .filter(F.col("containment") >= _CONTAINMENT_T)
        .select(
            "id_a",
            "id_b",
            portable_round(F.col("containment"), 4).alias("containment"),
        )
    )


_SHINGLE_CONTAINMENT_SQL = f"""
WITH aug AS ({_SQL_AUGMENTED_DOCS}),
t AS ({_sql_shingle_cte(table='aug')}),
posting0 AS (SELECT doc_id, unnest(shingles) AS s FROM t),
freq AS (SELECT s, COUNT(*) AS df FROM posting0 GROUP BY s),
posting AS (SELECT p.doc_id, p.s FROM posting0 p JOIN freq USING (s)
            WHERE freq.df <= {_NGRAM_MAX_DF}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM posting GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       floor((CAST(inter AS DOUBLE) / na.n) * 10000.0 + 0.5) / 10000.0 AS containment
FROM inter JOIN sizes na ON id_a = na.doc_id
WHERE CAST(inter AS DOUBLE) / na.n >= {_CONTAINMENT_T}
"""

SPECS["shingle_containment"] = QuerySpec(
    _shingle_containment,
    _SHINGLE_CONTAINMENT_SQL,
    f"asymmetric containment near-dup (C(A->B) >= {_CONTAINMENT_T}) via shingle equi-join",
)


# --- quality-aware dedup representative selection ------------------------
# The dedup COMPLETION policy real pipelines want: keeping the lowest-id
# doc per near-dup cluster (neardup_clusters) throws away quality signal —
# the representative should be the BEST document of its cluster.
# Composition of three independently oracle-proven pieces: minhash-LSH
# pairs -> connected components -> per-cluster argmax over the (already
# 1e-4-rounded, hash-green) quality_score, tie-broken by lowest doc_id so
# both engines pick identically.  Singletons (docs in no pair) form their
# own cluster.  At 100 TB: the pair/component stages are the proven LSH
# shapes; the argmax is a min_by aggregate (partial map-side, one shuffle
# on cluster) — never a window over the corpus.


def _dedup_quality_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components
    from ..operators.textanalysis import quality_features

    pairs = _minhash_lsh_pairs(spark, sf_dir).select("id_a", "id_b")
    labels = connected_components(pairs)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", quality_features("text")["quality_score"].alias("quality")
    )
    d = docs.join(labels, docs.doc_id == labels.id, "left").select(
        "doc_id",
        F.coalesce("label", "doc_id").alias("cluster"),
        "quality",
    )
    best = d.groupBy("cluster").agg(
        F.min_by(
            "doc_id", F.struct((-F.col("quality")).alias("nq"), F.col("doc_id"))
        ).alias("keep_id")
    )
    return d.join(best, "cluster").select(
        "doc_id",
        F.col("cluster").cast("long").alias("cluster"),
        "quality",
        (F.col("doc_id") == F.col("keep_id")).alias("keep"),
    )


def _dedup_quality_keep_sql() -> str:
    from .textanalysis import _quality_sql

    return f"""
WITH qall AS ({_quality_sql()}),
cl AS ({_NEARDUP_CLUSTERS_SQL}),
d AS (
  SELECT q.doc_id, CAST(COALESCE(cl.cluster, q.doc_id) AS BIGINT) AS cluster,
         q.quality_score AS quality
  FROM qall q LEFT JOIN cl ON q.doc_id = cl.doc_id
),
best AS (
  SELECT cluster, doc_id AS keep_id FROM (
    SELECT cluster, doc_id,
           ROW_NUMBER() OVER (PARTITION BY cluster
                              ORDER BY quality DESC, doc_id) AS rn
    FROM d
  ) WHERE rn = 1
)
SELECT d.doc_id, d.cluster, d.quality, d.doc_id = b.keep_id AS keep
FROM d JOIN best b USING (cluster)
"""


SPECS["dedup_quality_keep"] = QuerySpec(
    _dedup_quality_keep,
    _dedup_quality_keep_sql(),
    "near-dup clusters keep the HIGHEST-quality representative (argmax aggregate, not lowest-id)",
)


# ---------------------------------------------------------------------------
# SimHash Hamming-ball pairs (pigeonhole banding — exact, integer-only)


# ham_max must scale with fingerprint width: the classic 64-bit SimHash
# dedup threshold is d<=3 (95% bit agreement); the width-equivalent on the
# 16-bit fixture fingerprint is d<=1 (94%).  d<=3 on 16 bits is only 81%
# agreement and marks 30% of ALL pairs in this corpus "near-dup" —
# measured: ham histogram at sf0.01 is {0: 1790, 1: 5516, 2: 11337,
# 3: 18591, ...}, a saturated threshold, not a similarity signal.
_SIMHASH_HAM_MAX = 1
_SIMHASH_N_BANDS = 4  # >= ham_max+1 => banded recall is provably complete


def _simhash_hamming_pairs_with(
    spark: SparkSession, sf_dir: str, bits: int, ham_max: int
) -> DataFrame:
    # NOT spread (r12 ensure_parallelism audit): measured 3x A/B at
    # sf0.1 — the band join dominates this family and the fingerprint
    # stage-1 is short, so the extra docs shuffle is neutral-to-
    # negative (3.5 s unspread vs 3.7-3.8 s spread).
    docs = load_table(spark, sf_dir, "documents")
    fp = simhash(docs, id_col="doc_id", text_col="text", bits=bits)
    return simhash_hamming_pairs(
        fp,
        id_col="doc_id",
        fp_col="simhash",
        ham_max=ham_max,
        n_bands=_SIMHASH_N_BANDS,
        fp_bits=bits,
    )


def _simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup completion for SimHash: all doc pairs with fingerprint
    Hamming distance <= 1, via the pigeonhole band join (see
    operators/dedup.py::simhash_hamming_pairs for the completeness proof
    and the 100 TB geometry discussion).  This entry pins the CLASSIC
    16-bit fixture geometry the r1 `simhash` query emits; its wave-9
    probe point (2.0/24/180 s at 1x/4x/16x — quadratic) is the measured
    cost of a fingerprint that does NOT grow with the corpus, and
    `simhash_hamming_pairs_w32` is the same operator at the next
    geometry rung (32-bit, 256 buckets/band) demonstrating the fix.
    Unlike every other similarity verify in this module, the verdict is
    pure integer arithmetic (bit_count of XOR) — no rounding seam
    exists at all."""
    return _simhash_hamming_pairs_with(
        spark, sf_dir, SIMHASH_BITS, _SIMHASH_HAM_MAX
    )


def _simhash_hamming_pairs_w32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The geometry-scaled twin: 32-bit fingerprint, same 4 bands (so
    2^8 = 256 bucket values per band vs 16) — the knob the operator's
    scale audit prescribes, measured against the 16-bit entry in the
    wave-9 probe.  Same d<=1 threshold: on a wider fingerprint the same
    d is a STRICTER similarity bar (96.9% vs 93.8% bit agreement), which
    is the correct direction — at production 64-bit, d<=3 is the classic
    Google-crawl setting."""
    return _simhash_hamming_pairs_with(spark, sf_dir, 32, _SIMHASH_HAM_MAX)


def _simhash_hamming_pairs_sql(
    bits: int = SIMHASH_BITS, ham_max: int | None = None
) -> str:
    """``ham_max`` is an EXPLICIT parameter (ADVICE r9: the auto
    query's threshold used to be spliced in with a content-blind
    string replace over the rendered SQL — correct only while exactly
    one '<= 1' substring existed); None means the pinned fixture
    threshold."""
    if ham_max is None:
        ham_max = _SIMHASH_HAM_MAX
    width = bits // _SIMHASH_N_BANDS
    mask = (1 << width) - 1
    band_ids = ", ".join(str(b) for b in range(_SIMHASH_N_BANDS))
    return f"""
WITH fp AS ({_simhash_sql(bits)}),
bands AS (
  SELECT doc_id, simhash, bb.band AS band,
         (simhash >> (bb.band * {width})) & {mask} AS val
  FROM fp, (SELECT unnest([{band_ids}]) AS band) bb
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS fp_a, b.simhash AS fp_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= {ham_max}
"""


SPECS["simhash_hamming_pairs"] = QuerySpec(
    _simhash_hamming_pairs,
    _simhash_hamming_pairs_sql(),
    "SimHash Hamming<=1 pairs via pigeonhole band join (exact recall, integer-only verify)",
)

SPECS["simhash_hamming_pairs_w32"] = QuerySpec(
    _simhash_hamming_pairs_w32,
    _simhash_hamming_pairs_sql(32),
    "the geometry-scaled twin: 32-bit fingerprint, 256 buckets/band — the corpus-growth knob, measured",
)


# The top rung: 64-bit two-half fingerprint (simhash_wide), 4 bands of
# 16 bits => 65,536 bucket values per band — the classic crawl-dedup
# geometry, with the classic threshold d<=3 (95.3% bit agreement at 64
# bits, the same bar d<=1 sets at 16 bits).  The production default
# width now DERIVES from corpus size (operators/dedup.py::
# simhash_geometry — the lsh_geometry pattern; this query pins its cap
# rung, n >= 2e5 -> 64).  The verify join is integer-only:
# bit_count(hi XOR hi) + bit_count(lo XOR lo).
_SIMHASH_W64_HAM_MAX = 3


def _simhash_hamming_pairs_w64(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_hamming_pairs_wide, simhash_wide

    docs = load_table(spark, sf_dir, "documents")
    fp = simhash_wide(docs, id_col="doc_id", text_col="text", bits=64)
    return simhash_hamming_pairs_wide(
        fp, id_col="doc_id", ham_max=_SIMHASH_W64_HAM_MAX, n_bands=4, fp_bits=64
    )


def _simhash_wide_sql(bits: int = 64) -> str:
    """Twin of operators/dedup.py::simhash_wide: two bits/2-wide halves
    from disjoint md5 hex slices (hi = chars 1..bits/8, lo = next) —
    the same _simhash_fp_sql chain as the single-long widths."""
    half = bits // 2
    n_chars = half // 4
    return _simhash_fp_sql(
        [("hi", 1, half), ("lo", 1 + n_chars, half)],
        {"hi": ("fp_hi", "BIGINT"), "lo": ("fp_lo", "BIGINT")},
    )


def _simhash_hamming_pairs_w64_sql() -> str:
    width = 16
    mask = (1 << width) - 1
    return f"""
WITH fp AS ({_simhash_wide_sql(64)}),
bands AS (
  SELECT doc_id, fp_hi, fp_lo, h.half || CAST(bb.band AS VARCHAR) AS band,
         ((CASE WHEN h.half = 'hi' THEN fp_hi ELSE fp_lo END) >> (bb.band * {width})) & {mask} AS val
  FROM fp, (SELECT unnest(['hi', 'lo']) AS half) h,
       (SELECT unnest([0, 1]) AS band) bb
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.fp_hi AS hi_a, a.fp_lo AS lo_a,
                  b.fp_hi AS hi_b, b.fp_lo AS lo_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= {_SIMHASH_W64_HAM_MAX}
"""


SPECS["simhash_hamming_pairs_w64"] = QuerySpec(
    _simhash_hamming_pairs_w64,
    _simhash_hamming_pairs_w64_sql(),
    "64-bit two-half SimHash, Hamming<=3 pairs: the classic crawl-dedup geometry (65,536 buckets/band)",
)


# ---------------------------------------------------------------------------
# k-NN graph, IVF-fenced (the SemDeDup/graph-dedup/hard-negative primitive)


_KNN_K = 3


# The k-NN graph inherits semdedup's blob weakness 1:1 (wave 14: a mass
# blob makes one cell ~47% of the corpus and the fenced pair join a
# >50-minute single task, and neither Lloyd training nor a geometric
# sub-quantizer splits it), so as of r10 the DEFAULT fences on
# (cluster, sub) from the same hash-balanced capped_cell_split the
# semdedup default uses.  Recall semantics where the cap binds: blob
# members are mutual near-dups, so each member's true top-k is
# (near-)interchangeable within the blob — restricting candidates to
# the member's own sub-cell still yields neighbors at essentially the
# same similarity.  For diverse oversized cells the lost cross-sub
# candidates are the documented trade; ``knn_graph_uncapped`` keeps the
# r9-era uncapped fence as the measured baseline.

_KNN_CAP = 64


def _knn_graph_fenced(
    spark: SparkSession, sf_dir: str, cap: int | None
) -> DataFrame:
    """ONE k-NN-graph builder behind both fence variants: per-vector
    top-k neighbor list (a k-NN GRAPH, not a single-query search) — the
    substrate for SemDeDup-style pruning, graph-based dedup, label
    propagation, and hard-negative mining.  Candidates are fenced
    INSIDE each cell of the shared two-level coarse quantizer
    (ivf_assign_hier — flat assignment at the scaled k ~ n/125 is
    itself n^2/125 cosines, the named next quadratic), optionally split
    by ``capped_cell_split`` so candidate cost is bounded on ANY
    distribution; top-k per source is the standard rounded-sim window
    (ties broken by neighbor id).  At 100 TB the within-cell exact
    cosine becomes the topk_pq_rerank composition (ADC shortlist, exact
    re-rank); the graph shape — fenced candidates, per-source top-k —
    is identical.  Per-vector L2 norms hoisted out of the |c|^2 loop
    (bit-identical, 3x fewer flops — the exact_cosine_pairs trick)."""
    from pyspark.sql.window import Window

    from ..functions.text import portable_round
    from ..functions.vector import dot_product, l2_norm
    from ..operators.ann import capped_cell_split

    corpus = full_corpus(spark, sf_dir)
    # the pair math runs in double; the assignment is the corpus's one
    # shared family, keyed on the raw scan
    emb = corpus.emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    assign = corpus.assign.withColumnRenamed("cid", "cluster")
    if cap is not None:
        # capped_cell_split consumes the assignment TWICE (cell-size agg
        # + tagged join) — cut the lineage so the assignment runs once
        assign = capped_cell_split(
            materialize(assign, "fenced assignment", "lazy"), cap=cap
        )
    fence_cols = ["cluster"] + (["sub"] if cap is not None else [])
    vecs = (
        assign.join(emb, "vec_id")
        .select(
            "vec_id", *fence_cols, "embedding",
            l2_norm("embedding").alias("nrm"),
        )
        .transform(materialize, "fenced vectors", "lazy")
    )
    a = vecs.select(
        F.col("vec_id").alias("src"),
        *[F.col(c).alias(f"{c}_a") for c in fence_cols],
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = vecs.select(
        F.col("vec_id").alias("nbr"),
        *[F.col(c).alias(f"{c}_b") for c in fence_cols],
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    sim = portable_round(
        dot_product("va", "vb") / (F.col("na") * F.col("nb")), 4
    )
    fence = F.col("src") != F.col("nbr")
    for c in fence_cols:
        fence = (F.col(f"{c}_a") == F.col(f"{c}_b")) & fence
    cand = a.join(b, fence).select("src", "nbr", sim.alias("sim"))
    w = Window.partitionBy("src").orderBy(F.desc("sim"), "nbr")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KNN_K)
        .select("src", F.col("rk").cast("int").alias("rk"), "nbr", "sim")
    )


def _knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph, production default (r10): capped (cluster, sub)
    fence — candidate volume bounded on any distribution (skewed x16:
    15.2 s where the uncapped fence shares semdedup's >50-minute
    mega-cell straggler).  See _knn_graph_fenced."""
    return _knn_graph_fenced(spark, sf_dir, cap=_KNN_CAP)


def _knn_graph_uncapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r9-era uncapped fence, kept as the measured baseline (exact
    within-cell candidates, blob-skew straggler risk — wave 14)."""
    return _knn_graph_fenced(spark, sf_dir, cap=None)


_knn_cos_ab = _SQL_COS.format(a="a.embedding", b="b.embedding")


def _knn_graph_fenced_sql(cap: int | None) -> str:
    # FLOOR-form rounding on BOTH sides (portable_round's documented SQL
    # twin): the Spark side uses portable_round, and pairing it with
    # ROUND() would be a cross-engine seam for negative cosines at a
    # .00005 boundary (adversarial review, r9 — latent, no fixture hit).
    from .ivf_sql import HIER_ASSIGN_CTES, capped_split_ctes

    if cap is None:
        assign = """v2 AS (
  SELECT e.vec_id, e.embedding, h.cid_hier AS cluster
  FROM embeddings e JOIN hier h USING (vec_id)
)"""
        fence = "a.cluster = b.cluster"
    else:
        assign = f"{capped_split_ctes(cap)},\nv2 AS (SELECT * FROM sv2)"
        fence = "a.cluster = b.cluster AND a.sub = b.sub"
    return f"""
WITH {HIER_ASSIGN_CTES},
{assign},
cand AS (
  SELECT a.vec_id AS src, b.vec_id AS nbr,
         FLOOR(({_knn_cos_ab}) * 10000 + 0.5) / 10000 AS sim
  FROM v2 a JOIN v2 b
    ON {fence} AND a.vec_id <> b.vec_id
)
SELECT src, CAST(rk AS INTEGER) AS rk, nbr, sim FROM (
  SELECT src, nbr, sim,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, nbr) AS rk
  FROM cand
) WHERE rk <= {_KNN_K}
"""


SPECS["knn_graph_ivf"] = QuerySpec(
    _knn_graph_ivf,
    _knn_graph_fenced_sql(cap=_KNN_CAP),
    "k-NN graph behind the capped (cluster, sub) fence — bounded candidates on any distribution (r10 default)",
)

SPECS["knn_graph_uncapped"] = QuerySpec(
    _knn_graph_uncapped,
    _knn_graph_fenced_sql(cap=None),
    "k-NN graph, uncapped-fence baseline (r9 default): exact within-cell candidates, blob-skew straggler risk",
)


# --- bitext_margin_pairs: margin-based parallel-corpus mining ---------------
# The CCMatrix / LASER mining op (Artetxe & Schwenk, "Margin-based
# Parallel Corpus Mining with Multilingual Sentence Embeddings", ACL
# 2019 — public method): given two embedding shards (two languages),
# mine sentence pairs whose cosine stands out from each side's
# neighborhood,
#
#   margin(x, y) = cos(x, y) / ((avgNN_k(x) + avgNN_k(y)) / 2),
#
# keeping MUTUAL best matches above a margin threshold.  Plain
# cosine-threshold mining drifts with each language's density; the
# ratio margin is scale-free, which is why the billion-pair public
# mines use it.  The two shards are REAL language collections (r11,
# VERDICT r10 #4): the corpus's two largest langs by document count
# (ranked IN-PLAN — a 5-row aggregate, no driver job — tie-broken
# lexicographically), x-side = largest, y-side = second; vectors
# carry their document's lang via the vec_id = doc_id equi-join.  The
# candidate neighborhoods are fenced inside the SAME capped
# (cluster, sub) quantizer cells as the knn/semdedup defaults — at
# 100 TB each shard is its own corpus and the fence is what makes the
# k-NN side linear (full CCMatrix mines against an IVF index exactly
# like this).
#
# Cross-engine FP discipline (the groupedmap.py integer-sufficient-
# statistics rule): per-pair cosines quantize ONCE to exact BIGINTs
# (ci = FLOOR(cos*1e4 + 0.5)); neighborhood averages stay integer SUMS
# plus COUNTs (order-free, exact); the margin is computed as ONE
# division of two exact small integers,
#
#   margin = 2*c*kx*ky / (sum_x*ky + sum_y*kx),
#
# so both engines divide the same numerator by the same denominator —
# no averaged-doubles seam, no sum-order seam.  Ranking keys are
# (integer ci, id).
#
# Reference parity note: north-star capability (BASELINE.json's
# training-data pipeline), not reference parity — the reference has no
# multilingual surface (src/rag/dataframes.rs embeds one message
# stream).

_BT_K = 4  # neighborhood size for the margin denominator
# Margin threshold: production mines calibrate this per corpus (the
# public LASER mines sit near 1.06 on real multilingual embeddings).
# On the lang-sharded corpus (r11) mutuality alone puts every pair
# above 1.08 (measured: min 1.183/1.170/1.086, median 1.46/1.72/1.62
# across the three scales), so 1.25 is the fixture-live operating
# point — it keeps 53/57, 52/53, 205/216 mutual pairs at
# sf0.001/0.01/0.1, i.e. BOTH filter arms do real work at every scale
# instead of the threshold being decorative.
_BT_MARGIN = 1.25


def _bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import portable_round
    from ..functions.vector import dot_product, l2_norm
    from ..operators.ann import capped_cell_split

    corpus = full_corpus(spark, sf_dir)
    # the pair math runs in double; the assignment is the corpus's one
    # shared family, keyed on the raw scan
    emb = corpus.emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    assign = corpus.assign.withColumnRenamed("cid", "cluster")
    assign = capped_cell_split(materialize(assign, "knn assignment", "lazy"), cap=_KNN_CAP)
    # the two collections: rank langs by document count IN-PLAN (a
    # broadcast 5-row aggregate over a 2-row window — plan construction
    # stays job-free), then tag each vector with its document's lang
    # via the vec_id = doc_id equi-join (scale-safe: the doc side is
    # corpus-sized, so it is a plain shuffle join, never broadcast)
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    lr = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("nl"))
        .withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("nl"), "lang"))
        )
        .filter(F.col("rk") <= 2)
        .select("lang", "rk")
    )
    sides = docs.join(F.broadcast(lr), "lang").select(
        F.col("doc_id").alias("vec_id"), "rk", "lang"
    )
    vecs = (
        assign.join(emb, "vec_id")
        .join(sides, "vec_id")
        .select(
            "vec_id",
            "cluster",
            "sub",
            "rk",
            "lang",
            "embedding",
            l2_norm("embedding").alias("nrm"),
        )
        .transform(materialize, "knn vectors", "lazy")
    )
    # lang labels deliberately NOT selected here: cand carries only the
    # sufficient statistics, and the labels re-attach after
    # bt_margin_core from the vecs projections below (ADVICE r11 — the
    # aliases formerly selected here were dead code).
    x = vecs.filter(F.col("rk") == 1).select(
        F.col("vec_id").alias("src"),
        F.col("cluster").alias("cl_x"),
        F.col("sub").alias("sub_x"),
        F.col("embedding").alias("vx"),
        F.col("nrm").alias("nx"),
    )
    y = vecs.filter(F.col("rk") == 2).select(
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
    mutual = bt_margin_core(cand)
    # lang labels re-attach AFTER the core (which carries only the
    # sufficient statistics): two equi-joins against the tiny side maps
    src_lang = vecs.filter(F.col("rk") == 1).select(
        F.col("vec_id").alias("src"), F.col("lang").alias("src_lang")
    )
    tgt_lang = vecs.filter(F.col("rk") == 2).select(
        F.col("vec_id").alias("tgt"), F.col("lang").alias("tgt_lang")
    )
    mutual = mutual.join(src_lang, "src").join(tgt_lang, "tgt")
    margin = portable_round(
        F.col("num").cast("double") / F.col("den").cast("double"), 4
    )
    return (
        mutual.filter(F.col("den") > 0)
        .select(
            "src",
            "tgt",
            "src_lang",
            "tgt_lang",
            (F.col("ci").cast("double") / F.lit(10000.0)).alias("cos_sim"),
            margin.alias("margin"),
        )
        .filter(F.col("margin") >= _BT_MARGIN)
        .orderBy("src")
    )


def bt_margin_core(cand: DataFrame) -> DataFrame:
    """(src, tgt, ci) candidate pairs -> MUTUAL best matches with the
    margin's exact-integer sufficient statistics:

      (src, tgt, ci, num = 2*ci*k_x*k_y, den = sum_x*k_y + sum_y*k_x)

    margin = num/den is left to the caller (one exact division; the
    miner thresholds it, the planted-ground-truth eval sweeps it).  ONE
    definition shared by both (the shared-definition rule); the SQL
    twin is ``bt_core_sql``."""
    from pyspark.sql.window import Window

    # the pair set feeds four branches (two neighborhood aggregates, the
    # two mutual-rank windows) — cut the lineage so the candidate join
    # runs once
    cand = materialize(cand, "knn candidates", "lazy")
    wx = Window.partitionBy("src").orderBy(F.desc("ci"), "tgt")
    wy = Window.partitionBy("tgt").orderBy(F.desc("ci"), "src")
    ranked = cand.withColumn("rk_x", F.row_number().over(wx)).withColumn(
        "rk_y", F.row_number().over(wy)
    )
    hood_x = (
        ranked.filter(F.col("rk_x") <= _BT_K)
        .groupBy("src")
        .agg(F.sum("ci").alias("sum_x"), F.count(F.lit(1)).alias("k_x"))
    )
    hood_y = (
        ranked.filter(F.col("rk_y") <= _BT_K)
        .groupBy("tgt")
        .agg(F.sum("ci").alias("sum_y"), F.count(F.lit(1)).alias("k_y"))
    )
    return (
        ranked.filter((F.col("rk_x") == 1) & (F.col("rk_y") == 1))
        .join(hood_x, "src")
        .join(hood_y, "tgt")
        .select(
            "src",
            "tgt",
            "ci",
            (2 * F.col("ci") * F.col("k_x") * F.col("k_y")).alias("num"),
            (
                F.col("sum_x") * F.col("k_y") + F.col("sum_y") * F.col("k_x")
            ).alias("den"),
        )
    )


# the margin expression both oracle twins render (over a `mutual` row)
BT_SQL_MARGIN = (
    "FLOOR((CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) * 10000 + 0.5) / 10000"
)


def bt_core_sql() -> str:
    """CTE suffix (appends after a ``cand(src, tgt, ci)`` CTE) yielding
    ``mutual`` (src, tgt, ci, num, den) — the DuckDB twin of
    ``bt_margin_core``."""
    return f"""ranked AS (
  SELECT src, tgt, ci,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY ci DESC, tgt) AS rk_x,
         ROW_NUMBER() OVER (PARTITION BY tgt ORDER BY ci DESC, src) AS rk_y
  FROM cand
),
hood_x AS (
  SELECT src, SUM(ci) AS sum_x, COUNT(*) AS k_x
  FROM ranked WHERE rk_x <= {_BT_K} GROUP BY src
),
hood_y AS (
  SELECT tgt, SUM(ci) AS sum_y, COUNT(*) AS k_y
  FROM ranked WHERE rk_y <= {_BT_K} GROUP BY tgt
),
mutual AS (
  SELECT m.src, m.tgt, m.ci,
         2 * m.ci * hx.k_x * hy.k_y AS num,
         hx.sum_x * hy.k_y + hy.sum_y * hx.k_x AS den
  FROM ranked m
  JOIN hood_x hx ON m.src = hx.src
  JOIN hood_y hy ON m.tgt = hy.tgt
  WHERE m.rk_x = 1 AND m.rk_y = 1
)"""


def _bitext_margin_pairs_sql() -> str:
    from .ivf_sql import HIER_ASSIGN_CTES, capped_split_ctes

    cos_xy = _SQL_COS.format(a="x.embedding", b="y.embedding")
    return f"""
WITH {HIER_ASSIGN_CTES},
{capped_split_ctes(_KNN_CAP)},
lr AS (
  SELECT lang, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, lang) AS rk
  FROM documents GROUP BY lang
),
sides AS (
  SELECT d.doc_id AS vec_id, lr.rk, d.lang
  FROM documents d JOIN lr USING (lang) WHERE lr.rk <= 2
),
cand AS (
  SELECT x.vec_id AS src, y.vec_id AS tgt,
         CAST(FLOOR(({cos_xy}) * 10000 + 0.5) AS BIGINT) AS ci
  FROM sv2 x JOIN sides sx ON sx.vec_id = x.vec_id AND sx.rk = 1
  JOIN sv2 y ON x.cluster = y.cluster AND x.sub = y.sub
  JOIN sides sy ON sy.vec_id = y.vec_id AND sy.rk = 2
),
{bt_core_sql()}
SELECT src, tgt, sx2.lang AS src_lang, sy2.lang AS tgt_lang,
       CAST(ci AS DOUBLE) / 10000.0 AS cos_sim,
       {BT_SQL_MARGIN} AS margin
FROM mutual
JOIN sides sx2 ON sx2.vec_id = src
JOIN sides sy2 ON sy2.vec_id = tgt
WHERE den > 0 AND {BT_SQL_MARGIN} >= {_BT_MARGIN}
ORDER BY src
"""


SPECS["bitext_margin_pairs"] = QuerySpec(
    _bitext_margin_pairs,
    _bitext_margin_pairs_sql(),
    "margin-based bitext mining (Artetxe-Schwenk ratio margin): mutual cross-shard best matches above the neighborhood-scaled threshold, fenced in the capped IVF cells",
)


# --- simhash_hamming_pairs_auto: the geometry rule, live --------------------
# The three pinned rungs (16/32/64-bit) demonstrate the width knob; THIS
# entry makes `simhash_geometry` the actual default: fingerprint width
# AND Hamming threshold derive from the corpus size in BOTH engines (the
# multiscale-gate pattern — each SQL branch replays the full query at
# one literal (width, ham_max), gated by the same formula over the
# corpus it reads).  The oracle is TOTAL over the rule's range: one
# branch per derivable width (16/24/32/40/48/56 single-long + the
# 64-bit two-half twin), so the gate can never fall through to an empty
# result off the fixture scales (r9 second review).  ham_max follows
# simhash_ham_max (width-equivalent ~95% agreement: d<=1 at 16-24 bits,
# d<=2 at 40-56, d<=3 at 64).


def _simhash_hamming_pairs_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.sources import parquet_row_count
    from ..operators.dedup import (
        simhash_geometry,
        simhash_ham_max,
        simhash_hamming_pairs_wide,
        simhash_wide,
    )

    n = parquet_row_count(sf_dir, "documents")
    bits = simhash_geometry(n)
    d = simhash_ham_max(bits)
    if bits > 60:  # the two-long representation rung (n >= ~2e5)
        docs = load_table(spark, sf_dir, "documents")
        fp = simhash_wide(docs, id_col="doc_id", text_col="text", bits=bits)
        return simhash_hamming_pairs_wide(
            fp, id_col="doc_id", ham_max=d,
            n_bands=_SIMHASH_N_BANDS, fp_bits=bits,
        )
    return _simhash_hamming_pairs_with(spark, sf_dir, bits, d)


def _simhash_auto_sql() -> str:
    from ..operators.dedup import simhash_ham_max

    # the SQL replica of simhash_geometry(n, n_bands=4, target_bucket=8):
    # width = min(16, even-rounded max(4, ceil(log2(max(2, ceil(n/8))))))
    w = (
        "GREATEST(4, CAST(CEIL(LOG2(GREATEST(2.0, "
        "CEIL((SELECT COUNT(*) FROM documents) / 8.0)))) AS INTEGER))"
    )
    bits_expr = f"4 * LEAST(16, {w} + ({w} % 2))"
    branches = [
        f"SELECT * FROM ({_simhash_hamming_pairs_sql(b, simhash_ham_max(b))}) ab{b} "
        f"WHERE ({bits_expr}) = {b}"
        for b in (16, 24, 32, 40, 48, 56)
    ]
    # the 64-bit rung: the two-half twin, same derived threshold (=3)
    branches.append(
        f"SELECT * FROM ({_simhash_hamming_pairs_w64_sql()}) ab64 "
        f"WHERE ({bits_expr}) = 64"
    )
    return " UNION ALL ".join(branches)


SPECS["simhash_hamming_pairs_auto"] = QuerySpec(
    _simhash_hamming_pairs_auto,
    _simhash_auto_sql(),
    "SimHash pairs at the corpus-DERIVED width (simhash_geometry as the live default, 24->40 bits across fixtures)",
)
