"""Ingest-pipeline + vector-retrieval query surface.

Re-expresses the reference's per-message pipeline (SURVEY §3.1:
dispatch -> suppress -> enrich -> tokenize -> chunk -> embed -> append) as
batch DataFrame queries over the ``documents``/``events``/``embeddings``
fixtures, and ships the vector retrieval the reference declared but never
implemented (E3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import fingerprint_md5, token_count
from ..functions.vector import cosine_similarity, l2_distance
from ..io.sources import load_table, local_rows
from ..operators.chunking import chunk_text
from ..operators.embed import with_embeddings
from ..operators.topk import cosine_topk
from ..operators.suppression import (
    SUPPRESSED_EXACT,
    SUPPRESSED_PREFIXES,
    filter_control_messages,
)
from .registry import QuerySpec

# DuckDB-side copies of shared scalar expressions.  Kept adjacent to their
# Spark twins (functions/text.py) — any change must touch both.
_SQL_TOKEN_COUNT = (
    "CASE WHEN {c} IS NULL OR {c} = '' THEN 0 "
    "ELSE CAST(len(regexp_extract_all({c}, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS INTEGER) END"
)
_SQL_FINGERPRINT = "md5(regexp_replace(trim(COALESCE({c}, '')), '\\s+', ' ', 'g'))"


# --- E3 flagship: brute-force cosine top-k ------------------------------
# The retrieval pgvector/pgvectorscale were installed for
# (src/rag/sqlx.rs:22-29,42) but no similarity operator ever shipped
# (SURVEY §0).  Exact scan: narrow projection + codegen'd cosine +
# TakeOrderedAndProject; the query vector rides along as a broadcast row.
def _topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        emb.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine_similarity("embedding", "qv"), 4).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.col("vec_id"))
        .limit(10)
    )


_TOPK_COSINE_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, e.label,
       ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv) /
             (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
              sqrt(list_dot_product(q.qv, q.qv))), 4) AS sim
FROM embeddings e, q
ORDER BY sim DESC, e.vec_id
LIMIT 10
"""


def _topk_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 1).select(F.col("embedding").alias("qv"))
    return (
        emb.crossJoin(F.broadcast(q))
        .select("vec_id", F.round(l2_distance("embedding", "qv"), 4).alias("dist"))
        .orderBy(F.asc("dist"), F.col("vec_id"))
        .limit(10)
    )


_TOPK_L2_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 1)
SELECT e.vec_id,
       ROUND(sqrt(list_sum(list_transform(
           list_zip(e.embedding::DOUBLE[], q.qv),
           p -> (p[1] - p[2]) * (p[1] - p[2])))), 4) AS dist
FROM embeddings e, q
ORDER BY dist ASC, e.vec_id
LIMIT 10
"""


# --- F1: suppression filter ---------------------------------------------
# The fixture texts never match the control patterns, so the Spark side
# unions in one synthetic row per pattern (doc_id >= 10_000_000) and the
# oracle does the same with VALUES — proving all 14 patterns drop.
def _suppression_values_sql() -> str:
    rows = []
    for i, s in enumerate(list(SUPPRESSED_EXACT) + [p + " tail" for p in SUPPRESSED_PREFIXES]):
        rows.append(f"({10_000_000 + i}, '{s}')")
    return ", ".join(rows)


def _suppression_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    synth = local_rows(
        spark,
        [
            (10_000_000 + i, s)
            for i, s in enumerate(
                list(SUPPRESSED_EXACT) + [p + " tail" for p in SUPPRESSED_PREFIXES]
            )
        ],
        "doc_id long, text string",
    )
    return filter_control_messages(docs.union(synth), body_col="text")


_SUPPRESSION_FILTER_SQL = f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES {_suppression_values_sql()}) t(doc_id, text)
)
SELECT doc_id, text FROM aug
WHERE COALESCE(text, '') NOT IN ({", ".join("'" + s + "'" for s in SUPPRESSED_EXACT)})
  AND NOT ({" OR ".join("COALESCE(text, '') LIKE '" + p + "%'" for p in SUPPRESSED_PREFIXES)})
"""


# --- T1: token count -----------------------------------------------------
def _tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count("text").alias("tokens"))


_TOKENIZE_SQL = f"""
SELECT doc_id, {_SQL_TOKEN_COUNT.format(c="text")} AS tokens FROM documents
"""


# --- T2/T3/T4/F4/F5: chunk explode --------------------------------------
# Thresholds scaled down (32 tokens / 24 words instead of 512/384,
# src/rag/dataframes.rs:48-49) so the fixture's 50-550-char docs actually
# take the long path; the arithmetic shape (ceil-div, slice bounds,
# empty-chunk guard) is identical.
_CHUNK_TOKENS = 32
_CHUNK_WORDS = 24


def _chunk_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = chunk_text(
        docs, text_col="text", ideal_token_size=_CHUNK_TOKENS, chunk_words=_CHUNK_WORDS
    )
    return out.select("doc_id", "tokens", "chunk_id", "chunk_text", "chunk_tokens")


_CHUNK_EXPLODE_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS words,
         {_SQL_TOKEN_COUNT.format(c="text")} AS tokens
  FROM documents
),
long_chunks AS (
  SELECT doc_id, tokens,
         CAST(unnest(generate_series(0,
              CAST(ceil(len(words) / {_CHUNK_WORDS}.0) AS INTEGER) - 1)) AS INTEGER) AS chunk_id,
         words
  FROM t WHERE tokens > {_CHUNK_TOKENS}
),
chunked AS (
  SELECT doc_id, tokens, 0 AS chunk_id, text AS chunk_text
  FROM t WHERE tokens <= {_CHUNK_TOKENS}
  UNION ALL
  SELECT doc_id, tokens, chunk_id,
         array_to_string(words[(chunk_id * {_CHUNK_WORDS} + 1):((chunk_id + 1) * {_CHUNK_WORDS})], ' ') AS chunk_text
  FROM long_chunks
)
SELECT doc_id, tokens, chunk_id, chunk_text,
       {_SQL_TOKEN_COUNT.format(c="chunk_text")} AS chunk_tokens
FROM chunked
WHERE tokens <= {_CHUNK_TOKENS} OR {_SQL_TOKEN_COUNT.format(c="chunk_text")} > 0
"""


# --- P4/P5: newline scrub + llama3 prompt template ----------------------
# Template string verbatim from src/rag/prompt_template.rs:10-26; scrub
# from src/rag/dataframes.rs:120.
_LLAMA3_SYSTEM = "You are a friendly and useful Chatbot. Be of assistance the best you can.\n"
_LLAMA3_PREFIX = (
    "\n<|begin_of_text|>\n<|start_header_id|>system<|end_header_id|>\n"
    + _LLAMA3_SYSTEM
    + "<|eot_id|>\n\n<|start_header_id|>user<|end_header_id|>\n"
)
_LLAMA3_SUFFIX = "<|eot_id|>\n\n<|start_header_id|>assistant<|end_header_id|>"


def _prompt_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(F.col("text"), "\n", " ")  # P5
    return docs.select(
        "doc_id",
        F.concat(F.lit(_LLAMA3_PREFIX), scrubbed, F.lit(_LLAMA3_SUFFIX)).alias("prompt"),
    )


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"


_PROMPT_TEMPLATE_SQL = f"""
SELECT doc_id,
       {_sql_quote(_LLAMA3_PREFIX)} || regexp_replace(text, '\\n', ' ', 'g')
       || {_sql_quote(_LLAMA3_SUFFIX)} AS prompt
FROM documents
"""


# --- end-to-end RAG retrieval (the reference's stubbed query path) ------
# get_questions (src/rag/questions.rs:1-5) returns ONE hardcoded question
# and llama3 (src/rag/prompt_template.rs:10-26) is never called — this
# query realizes that whole path: question -> deterministic embed ->
# cosine top-k over the vector table -> ordered context assembly -> P4
# prompt render.  The query vector is computed driver-side at call time
# and inlined as a literal in BOTH engines, so the entire retrieval is
# oracle-paired despite the Python embedder.
_RAG_QUESTION = "What did my contacts say about the upcoming release?"
_RAG_K = 5


def _rag_query_vec() -> list[float]:
    from ..operators.embed import HashEmbedder

    return [float(x) for x in HashEmbedder(64).embed_batch([_RAG_QUESTION])[0]]


def _rag_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    top = cosine_topk(emb, _rag_query_vec(), k=_RAG_K)
    joined = top.join(docs, top["vec_id"] == docs["doc_id"])
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                (-F.col("sim")).alias("negsim"),
                F.col("vec_id"),
                F.regexp_replace(F.col("text"), "\n", " ").alias("txt"),
            )
        )
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_ctx"),
        F.array_join(F.transform(ordered, lambda x: x["vec_id"].cast("string")), ",").alias("ctx_ids"),
        F.concat(
            F.lit(_LLAMA3_PREFIX),
            F.lit(_RAG_QUESTION),
            F.lit(" Context: "),
            F.array_join(F.transform(ordered, lambda x: x["txt"]), " | "),
            F.lit(_LLAMA3_SUFFIX),
        ).alias("prompt"),
    )


def _rag_retrieve_sql() -> str:
    qv = "[" + ", ".join(repr(x) for x in _rag_query_vec()) + "]::DOUBLE[]"
    return f"""
WITH q AS (SELECT {qv} AS qv),
top AS (
  SELECT vec_id,
         ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv) /
               (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                sqrt(list_dot_product(q.qv, q.qv))), 4) AS sim
  FROM embeddings e, q
  ORDER BY sim DESC, vec_id
  LIMIT {_RAG_K}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_ctx,
       string_agg(CAST(t.vec_id AS VARCHAR), ',' ORDER BY sim DESC, t.vec_id) AS ctx_ids,
       {_sql_quote(_LLAMA3_PREFIX)} || {_sql_quote(_RAG_QUESTION)} || ' Context: ' ||
       string_agg(regexp_replace(d.text, '\\n', ' ', 'g'), ' | ' ORDER BY sim DESC, t.vec_id) ||
       {_sql_quote(_LLAMA3_SUFFIX)} AS prompt
FROM top t JOIN documents d ON t.vec_id = d.doc_id
"""


# --- P1/P2: message-type dispatch + render cascade ----------------------
# 10-arm ContentBody match (src/signal/format_message.rs:59-177) as a
# when/otherwise cascade over the events fixture's event_type column;
# direction 'to' only for the sync-sent-like arm, else 'from'.
def _dispatch_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    body = (
        # round-then-cast, not %.2f: Java printf rounds HALF_UP while C
        # printf rounds half-even, so formatted floats are not portable.
        F.when(
            F.col("event_type") == "click",
            F.concat(F.lit("clicked at "), F.round("value", 2).cast("string")),
        )
        .when(F.col("event_type") == "view", F.lit("new story: viewed"))
        .when(F.col("event_type") == "error", F.lit("Something went wrong!"))
        .when(
            F.col("event_type") == "signup",
            F.concat(F.lit("user "), F.col("user_id").cast("string"), F.lit(" signed up")),
        )
        .otherwise(F.lit("Empty data message"))
    )
    direction = F.when(F.col("event_type") == "signup", F.lit("to")).otherwise(F.lit("from"))
    rendered = events.select(
        "event_id", direction.alias("direction"), body.alias("body")
    )
    # Compose with F1 exactly like store_in_db: render, then suppress.
    return filter_control_messages(rendered, body_col="body")


_DISPATCH_RENDER_SQL = f"""
WITH rendered AS (
  SELECT event_id,
         CASE WHEN event_type = 'signup' THEN 'to' ELSE 'from' END AS direction,
         CASE event_type
           WHEN 'click'  THEN 'clicked at ' || CAST(ROUND(value, 2) AS VARCHAR)
           WHEN 'view'   THEN 'new story: viewed'
           WHEN 'error'  THEN 'Something went wrong!'
           WHEN 'signup' THEN 'user ' || CAST(user_id AS VARCHAR) || ' signed up'
           ELSE 'Empty data message'
         END AS body
  FROM events
)
SELECT event_id, direction, body FROM rendered
WHERE body NOT IN ({", ".join("'" + s + "'" for s in SUPPRESSED_EXACT)})
  AND NOT ({" OR ".join("body LIKE '" + p + "%'" for p in SUPPRESSED_PREFIXES)})
"""


# --- Exact dedup by md5 fingerprint -------------------------------------
def _exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", fingerprint_md5("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_dups"))
    )


_EXACT_DEDUP_SQL = f"""
SELECT {_SQL_FINGERPRINT.format(c="text")} AS fp,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_id,
       CAST(COUNT(*) AS BIGINT) AS n_dups
FROM documents GROUP BY fp
"""


# --- E1: deterministic mock embed (mapInPandas, ORACLE-PAIRED as of r10) -
# The embedder is DyadicEmbedder — the md5 featurizer on the 1/2^16
# dyadic grid the streaming ingest query introduced (every feature a
# 16-bit integer / 2^16, exact in float32/double) — so the Arrow
# crossing's OUTPUT is hash-checkable against a DuckDB twin that
# replays the same md5 arithmetic in SQL.  The r1-era HashEmbedder
# variant was rows-only by construction (float32 normalize has no SQL
# twin); it remains the golden-test embedder in operators/embed.py.
def _mock_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import portable_round
    from ..operators.embed import DyadicEmbedder

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # The fixture parquet is a single row-group => one partition; spread the
    # Python-side embed stage (SURVEY §4: repartition before the embed
    # stage).  8, not defaultParallelism: each partition costs a Python
    # worker cold-start (~0.5 s/worker when 32 fork at once in this
    # container), which dwarfs the compute at fixture scale.  At cluster
    # scale workers are reused and this knob comes from the caller.
    out = with_embeddings(
        docs.repartition(8),
        text_col="text",
        out_col="embedding",
        dim=64,
        embedder_factory=lambda: DyadicEmbedder(64),
    )
    # sq_norm = sum of squares: each term is m^2/2^32 (m < 2^16), the sum
    # of 64 such terms is exact in doubles — portable_round is the only
    # (shared) rounding step.
    return out.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        portable_round(
            F.aggregate(
                F.col("embedding").cast("array<double>"),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            ),
            3,
        ).alias("sq_norm"),
    )


def _sql_dyadic_sq_norm(text_expr: str, dim: int = 64) -> str:
    """DuckDB twin of DyadicEmbedder + squared-norm: FLOOR-rounded sum
    over dims of (hex4(md5(scrub(text) || ':i')) / 2^16)^2.  ONE
    definition shared by the mock_embed and ingest_pipeline oracles.
    Squares are spelled v*v (NOT the ^ operator, which is libm pow and
    not guaranteed exact); every partial sum's numerator stays under
    2^53, so the fold is exact in either evaluation order."""
    scrub = f"replace(COALESCE({text_expr}, ''), chr(10), ' ')"
    hex4 = " + ".join(
        f"(instr('0123456789abcdef', substr(md5({scrub} || ':' || CAST(i AS VARCHAR)), {pos}, 1)) - 1) * {16 ** (4 - pos)}"
        for pos in range(1, 5)
    )
    feats = f"list_transform(range(0, {dim}), i -> ({hex4}) / 65536.0)"
    return (
        f"FLOOR(list_sum(list_transform({feats}, v -> v * v)) * 1000 + 0.5) / 1000"
    )


def _mock_embed_sql() -> str:
    return f"""
SELECT doc_id, CAST(64 AS INTEGER) AS dim,
       {_sql_dyadic_sq_norm("text")} AS sq_norm
FROM documents
"""


def _ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full §3.1 pipeline over documents dressed as a message log:
    suppress -> chunk -> tokenize -> embed -> embeddings-table rows.
    Oracle-paired as of r10: the embed stage is DyadicEmbedder (the
    dyadic-grid md5 featurizer — see _mock_embed), so the projected
    sq_norm hash-checks the Python crossing's actual output instead of
    the r1-era rows-only count."""
    from ..functions.text import portable_round
    from ..operators.embed import DyadicEmbedder
    from ..operators.ingest_pipeline import ingest_pipeline

    docs = load_table(spark, sf_dir, "documents")
    messages = docs.select(
        F.col("text").alias("body"),
        F.lit("from").alias("direction"),
        F.col("source").alias("contact"),
        F.lit(None).cast("string").alias("group_name"),
        F.lit(None).cast("array<string>").alias("attachments"),
    )
    out = ingest_pipeline(
        messages,
        embedding_dim=64,
        ideal_token_size=_CHUNK_TOKENS,
        embed_partitions=8,
        embedder_factory=lambda: DyadicEmbedder(64),
    )
    # project deterministic columns only (id/created_at are run-dependent)
    return out.select(
        "body",
        "direction",
        "contact",
        "tokens",
        F.size("embedding").alias("dim"),
        portable_round(
            F.aggregate(
                F.col("embedding").cast("array<double>"),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            ),
            3,
        ).alias("sq_norm"),
    )


def _ingest_pipeline_sql() -> str:
    """Replays suppress -> chunk -> tokenize over documents-as-messages
    (the _CHUNK_EXPLODE_SQL chunk arithmetic at the 32/24 fixture
    thresholds) + the shared dyadic sq_norm over each chunk's text."""
    exacts = ", ".join("'" + s.replace("'", "''") + "'" for s in SUPPRESSED_EXACT)
    prefixes = " OR ".join(
        "starts_with(COALESCE(text, ''), '" + p.replace("'", "''") + "')"
        for p in SUPPRESSED_PREFIXES
    )
    return f"""
WITH kept AS (
  SELECT text, source FROM documents
  WHERE NOT (COALESCE(text, '') IN ({exacts}) OR {prefixes})
),
t AS (
  SELECT text, source,
         CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS words,
         {_SQL_TOKEN_COUNT.format(c="text")} AS tokens
  FROM kept
),
long_chunks AS (
  SELECT source, tokens,
         CAST(unnest(generate_series(0,
              CAST(ceil(len(words) / {_CHUNK_WORDS}.0) AS INTEGER) - 1)) AS INTEGER) AS chunk_id,
         words
  FROM t WHERE tokens > {_CHUNK_TOKENS}
),
chunked AS (
  SELECT source, tokens, 0 AS chunk_id, text AS chunk_text
  FROM t WHERE tokens <= {_CHUNK_TOKENS}
  UNION ALL
  SELECT source, tokens, chunk_id,
         array_to_string(words[(chunk_id * {_CHUNK_WORDS} + 1):((chunk_id + 1) * {_CHUNK_WORDS})], ' ') AS chunk_text
  FROM long_chunks
)
SELECT chunk_text AS body, 'from' AS direction, source AS contact,
       {_SQL_TOKEN_COUNT.format(c="chunk_text")} AS tokens,
       CAST(64 AS INTEGER) AS dim,
       {_sql_dyadic_sq_norm("chunk_text")} AS sq_norm
FROM chunked
WHERE tokens <= {_CHUNK_TOKENS} OR {_SQL_TOKEN_COUNT.format(c="chunk_text")} > 0
"""


SPECS: dict[str, QuerySpec] = {
    "topk_cosine": QuerySpec(_topk_cosine, _TOPK_COSINE_SQL, "E3 exact cosine top-k (flagship)"),
    "ingest_pipeline": QuerySpec(_ingest_pipeline, _ingest_pipeline_sql(), "full §3.1 ingest pipeline (suppress->chunk->tokenize->embed), dyadic-embedder oracle-paired"),
    "topk_l2": QuerySpec(_topk_l2, _TOPK_L2_SQL, "E3 exact L2 top-k"),
    "suppression_filter": QuerySpec(_suppression_filter, _SUPPRESSION_FILTER_SQL, "F1 control-message suppression (14 patterns)"),
    "tokenize": QuerySpec(_tokenize, _TOKENIZE_SQL, "T1 token count (JVM regex tokenizer)"),
    "chunk_explode": QuerySpec(_chunk_explode, _CHUNK_EXPLODE_SQL, "T2/T3/T4/F4/F5 word chunking, 1->N explode"),
    "prompt_template": QuerySpec(_prompt_template, _PROMPT_TEMPLATE_SQL, "P4 llama3 template + P5 newline scrub"),
    "rag_retrieve": QuerySpec(
        _rag_retrieve,
        _rag_retrieve_sql(),
        "end-to-end RAG retrieval: question -> embed -> top-k -> prompt",
    ),
    "dispatch_render": QuerySpec(_dispatch_render, _DISPATCH_RENDER_SQL, "P1/P2 type dispatch + render + F1 compose"),
    "exact_dedup": QuerySpec(_exact_dedup, _EXACT_DEDUP_SQL, "exact dedup via md5 fingerprint"),
    "mock_embed": QuerySpec(_mock_embed, _mock_embed_sql(), "E1 deterministic mapInPandas embedder (dyadic grid, oracle-paired)"),
}
