"""Training-data preparation surface: deterministic splits, sequence
packing, repetition scoring (Gopher-style quality rule), TF-IDF, and the
bug-compatible chunking variant (SURVEY T5 strict mode).

All oracle-paired — these are the batch ops an LLM data pipeline runs at
corpus scale, expressed as single-pass expressions/aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import fingerprint_md5, portable_round, token_count
from ..io.materialize import materialize
from ..io.sources import load_table, local_rows
from ..operators.chunking import chunk_text
from ..operators.dedup import shingle_rows
from .registry import QuerySpec

# --- deterministic train/val/test split ---------------------------------
# Hash-based, not rand(): reproducible across runs, engines, and cluster
# sizes — the property a 100 TB split must have.  md5 is the portable hash.


def _split_assign(col):
    bucket = F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10).cast("int") % 10
    return (
        F.when(bucket < 8, "train").when(bucket < 9, "val").otherwise("test")
    )


def _train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", _split_assign(F.col("doc_id")).alias("split"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_id"))
    )


_SQL_HEX4_MD5 = (
    "((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096 + "
    "(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256 + "
    "(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16 + "
    "(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1))"
)

_TRAIN_TEST_SPLIT_SQL = f"""
SELECT CASE WHEN {_SQL_HEX4_MD5} % 10 < 8 THEN 'train'
            WHEN {_SQL_HEX4_MD5} % 10 < 9 THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(doc_id) AS BIGINT) AS min_id
FROM documents GROUP BY 1
"""


# --- sequence packing (context-window filling) --------------------------
_PACK_BUDGET = 2048


# Scale shape (VERDICT r4 task 2): a corpus-wide running token sum via
# ``Window.orderBy("doc_id")`` with no partitionBy collapses to ONE task.
# Instead use the dense_ids bucket+offset prefix sum
# (plans/advanced.py _dense_ids): cumsum WITHIN range buckets in
# parallel, prefix-sum only the tiny per-bucket totals table, then add
# the per-bucket offset back.  Only |buckets| rows ever cross a global
# window.  Bucket WIDTH scales with the corpus (VERDICT r5): a fixed
# width would grow the offsets table linearly with doc count (10M rows
# at 1B docs through the single-task window + broadcast); capping the
# bucket COUNT at ~10k keeps that table bounded at any corpus size.
# Bucket boundaries don't affect results — pack_id depends only on the
# global running sum, which is bucket-invariant.
def _token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # metadata-cheap over parquet
    width = max(100, -(-n_docs // 10_000))
    toks = docs.select(
        "doc_id",
        token_count("text").alias("tokens"),
        (F.col("doc_id") / width).cast("long").alias("bucket"),
    )
    w_in = Window.partitionBy("bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    within = toks.withColumn("cum_in", F.sum("tokens").over(w_in))
    offsets = (
        toks.groupBy("bucket")
        .agg(F.sum("tokens").alias("btot"))
        .select(
            "bucket",
            F.coalesce(
                F.sum("btot").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("offset"),
        )
    )
    packed = within.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        "tokens",
        F.floor(
            (F.col("offset") + F.col("cum_in") - F.col("tokens"))
            / F.lit(_PACK_BUDGET)
        )
        .cast("int")
        .alias("pack_id"),
    )
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens").cast("long").alias("pack_tokens"),
    )


_SQL_TOKENS = (
    "CASE WHEN text IS NULL OR text = '' THEN 0 "
    "ELSE len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) END"
)

_TOKEN_PACKING_SQL = f"""
WITH t AS (
  SELECT doc_id, {_SQL_TOKENS} AS tokens,
         SUM({_SQL_TOKENS}) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents
)
SELECT CAST(floor((cum - tokens) / {_PACK_BUDGET}.0) AS INTEGER) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tokens) AS BIGINT) AS pack_tokens
FROM t GROUP BY 1
"""


# --- repetition score (Gopher-style most-common-ngram fraction) ---------
def _repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # shingle_rows is distinct-per-doc; for repetition we need raw counts,
    # so explode the non-distinct bigram stream.
    from ..operators.dedup import normalized_text

    words = F.split(normalized_text(F.col("text")), " ")
    bigrams = F.zip_with(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(1))),
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(1))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    exploded = docs.select(
        "doc_id",
        F.explode(
            F.when(F.size(words) >= 2, bigrams).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("bg"),
    )
    counts = exploded.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.max("c").alias("max_c"), F.sum("c").cast("long").alias("total")
    )
    return per_doc.select(
        "doc_id",
        portable_round(F.col("max_c") / F.col("total"), 4).alias("rep_ratio"),
    )


_REPETITION_SCORE_SQL = """
WITH norm AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(COALESCE(text, '')), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
bg AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i + 1])) AS bg
  FROM norm WHERE len(w) >= 2
),
counts AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg)
SELECT doc_id,
       floor((CAST(MAX(c) AS DOUBLE) / SUM(c)) * 10000.0 + 0.5) / 10000.0 AS rep_ratio
FROM counts GROUP BY doc_id
"""


# --- TF-IDF top terms ----------------------------------------------------
def _tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # footer metadata, not a count() action: plans build without jobs
    from ..io.sources import parquet_row_count

    n_docs = parquet_row_count(sf_dir, "documents")
    posting = shingle_rows(docs, "doc_id", "text")  # distinct bigrams per doc
    df_counts = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0))
    return (
        df_counts.select("shingle", F.col("df"), portable_round(idf, 4).alias("idf"))
        .orderBy(F.desc("df"), "shingle")
        .limit(25)
    )


def _tfidf_sql(n_docs_expr: str = "(SELECT COUNT(*) FROM documents)") -> str:
    norm = "lower(regexp_replace(trim(COALESCE(text, '')), '\\s+', ' ', 'g'))"
    shingles = (
        f"CASE WHEN len(string_split({norm}, ' ')) >= 2 THEN "
        f"list_distinct(list_transform(generate_series(1, len(string_split({norm}, ' ')) - 1), "
        f"i -> string_split({norm}, ' ')[i] || ' ' || string_split({norm}, ' ')[i + 1])) "
        f"ELSE list_value({norm}) END"
    )
    return f"""
WITH posting AS (
  SELECT doc_id, unnest({shingles}) AS shingle FROM documents
),
dfs AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM posting GROUP BY shingle)
SELECT shingle, df,
       floor(ln(({n_docs_expr} + 1.0) / (df + 1.0)) * 10000.0 + 0.5) / 10000.0 AS idf
FROM dfs ORDER BY df DESC, shingle LIMIT 25
"""


# --- strict-reference chunking (T5 bug-compatible) ----------------------
_STRICT_TOKENS = 32


def _chunk_strict_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = chunk_text(
        docs, text_col="text", ideal_token_size=_STRICT_TOKENS, chunk_words=24,
        strict_reference_mode=True,
    )
    return out.select("doc_id", "chunk_id", "chunk_text", "chunk_tokens")


_CHUNK_STRICT_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         CASE WHEN trim(COALESCE(text, '')) = '' THEN CAST([] AS VARCHAR[])
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS words,
         {_SQL_TOKENS} AS tokens
  FROM documents
),
chunked AS (
  SELECT doc_id, tokens, 0 AS chunk_id, text FROM t WHERE tokens <= {_STRICT_TOKENS}
  UNION ALL
  SELECT doc_id, tokens,
         CAST(unnest(generate_series(0, CAST(ceil(len(words) / 24.0) AS INTEGER) - 1)) AS INTEGER),
         text
  FROM t WHERE tokens > {_STRICT_TOKENS}
)
-- T5 bug-compatible: every chunk row carries the FULL body and the
-- full-text token count (src/rag/dataframes.rs:81,101); the F5 guard
-- keys on the chunk's own text, which for short texts is the body itself.
SELECT doc_id, chunk_id, text AS chunk_text, CAST(tokens AS INTEGER) AS chunk_tokens
FROM chunked
"""


# --- PII redaction -------------------------------------------------------
# The fixture has no PII, so the query plants synthetic emails/phones
# deterministically on both sides, then redacts — proving the patterns
# catch and the pass-through leaves clean text untouched.
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+?[0-9]{3}-[0-9]{3}-[0-9]{4}"


def _pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +555-123-4567"),
        ),
    ).otherwise(F.col("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(planted, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        redacted.alias("clean_text"),
        (redacted != F.col("text")).alias("was_redacted_or_planted"),
    )


_PII_REDACT_SQL = f"""
WITH planted AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or +555-123-4567'
              ELSE text END AS ptext
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(ptext, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS clean_text,
       regexp_replace(regexp_replace(ptext, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') <> text AS was_redacted_or_planted
FROM planted
"""


# --- dedup keep-first: materialize the deduped corpus -------------------
def _dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import fingerprint_md5

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        docs.withColumn("fp", fingerprint_md5("text"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "fp", "lang")
    )


_DEDUP_KEEP_FIRST_SQL = """
SELECT doc_id, fp, lang FROM (
  SELECT doc_id, lang,
         md5(regexp_replace(trim(COALESCE(text, '')), '\\s+', ' ', 'g')) AS fp,
         ROW_NUMBER() OVER (
           PARTITION BY md5(regexp_replace(trim(COALESCE(text, '')), '\\s+', ' ', 'g'))
           ORDER BY doc_id) AS rk
  FROM documents
) WHERE rk = 1
"""


# --- stratified sampling (dataset rebalancing) --------------------------
# Same md5-bucket determinism as the split: per-stratum keep-rates via a
# hash bucket in [0,100), so the sample is reproducible on any engine and
# cluster size (rand()/sampleBy would not oracle-match).  Downsamples the
# over-represented stratum ('en' 25%) and keeps half of the rest.
_STRATUM_PCT = {"en": 25}
_DEFAULT_PCT = 50


def _stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    pct = F.lit(_DEFAULT_PCT)
    for lang, p in _STRATUM_PCT.items():
        pct = F.when(F.col("lang") == lang, F.lit(p)).otherwise(pct)
    sampled = docs.filter(bucket < pct)
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


_STRATIFIED_SAMPLE_SQL = f"""
SELECT lang, COUNT(*) AS n_sampled,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM documents
WHERE {_SQL_HEX4_MD5} % 100 <
      CASE WHEN lang = 'en' THEN {_STRATUM_PCT["en"]} ELSE {_DEFAULT_PCT} END
GROUP BY lang
"""


SPECS: dict[str, QuerySpec] = {
    "stratified_sample": QuerySpec(
        _stratified_sample,
        _STRATIFIED_SAMPLE_SQL,
        "deterministic md5-bucket stratified sampling per language",
    ),
    "pii_redact": QuerySpec(_pii_redact, _PII_REDACT_SQL, "email/phone redaction with planted PII"),
    "dedup_keep_first": QuerySpec(_dedup_keep_first, _DEDUP_KEEP_FIRST_SQL, "materialize deduped corpus (keep lowest id per fingerprint)"),
    "train_test_split": QuerySpec(_train_test_split, _TRAIN_TEST_SPLIT_SQL, "deterministic md5-bucket train/val/test split"),
    "token_packing": QuerySpec(_token_packing, _TOKEN_PACKING_SQL, "sequential context-window packing by running token total"),
    "repetition_score": QuerySpec(_repetition_score, _REPETITION_SCORE_SQL, "Gopher-style max-bigram repetition fraction"),
    "tfidf_top_terms": QuerySpec(_tfidf_top_terms, _tfidf_sql(), "document-frequency + IDF over bigram vocabulary"),
    "chunk_strict_reference": QuerySpec(_chunk_strict_reference, _CHUNK_STRICT_SQL, "T5 bug-compatible chunking (full-body duplication)"),
}


# --- benchmark decontamination (n-gram collision) ------------------------
# The GPT-3-style contamination check: a training document is contaminated
# if it shares any word n-gram with a held-out/test document.  Both sides
# shingle once; the collision test is a DISTINCT equi-join on the gram —
# never a text-to-text comparison.  At 100 TB the gram join inherits the
# hot-shingle skew story of ngram_jaccard_pairs; long grams (n=5 here,
# 13 in GPT-3) make hot grams rare, and the same max-df cutoff applies if
# a template corpus produces them.

_DECON_N = 5


def _word_ngrams(col: str, n: int):
    norm = F.regexp_replace(F.trim(F.coalesce(F.col(col), F.lit(""))), r"\s+", " ")
    words = F.split(F.lower(norm), " ")
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.array_join(F.slice(words, i + 1, n), " "),
        ),
    ).otherwise(F.array(F.array_join(words, " ")))


def _decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the single-file scan before the 5-gram explode: the
    # stage-1 n-gram hashing dominates this query and serialized on
    # one core (measured 3.7 -> 1.4 s at sf0.1; counts/distincts are
    # order-free at any scale — io.sources.ensure_parallelism)
    from ..io.sources import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tagged = docs.select(
        "doc_id",
        _split_assign(F.col("doc_id")).alias("split"),
        F.explode(_word_ngrams("text", _DECON_N)).alias("g"),
    )
    train = tagged.filter(F.col("split") == "train").select("doc_id", "g").distinct()
    test = tagged.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_id"), "g"
    ).distinct()
    return (
        train.join(test, "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("test_id").alias("n_test_collisions"))
        .orderBy("doc_id")
    )


_SQL_NORM_TEXT = "lower(regexp_replace(trim(COALESCE(text, '')), '\\s+', ' ', 'g'))"

_DECONTAMINATE_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN {_SQL_HEX4_MD5} % 10 < 8 THEN 'train'
              WHEN {_SQL_HEX4_MD5} % 10 < 9 THEN 'val'
              ELSE 'test' END AS split,
         string_split({_SQL_NORM_TEXT}, ' ') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, split,
         unnest(CASE WHEN len(w) >= {_DECON_N}
                THEN list_transform(generate_series(1, len(w) - {_DECON_N} + 1),
                     i -> array_to_string(list_slice(w, i, i + {_DECON_N} - 1), ' '))
                ELSE list_value(array_to_string(w, ' ')) END) AS g
  FROM d
),
train AS (SELECT DISTINCT doc_id, g FROM grams WHERE split = 'train'),
test AS (SELECT DISTINCT doc_id AS test_id, g FROM grams WHERE split = 'test')
SELECT t.doc_id, CAST(COUNT(DISTINCT test_id) AS BIGINT) AS n_test_collisions
FROM train t JOIN test USING (g)
GROUP BY 1 ORDER BY 1
"""

SPECS["decontaminate"] = QuerySpec(
    _decontaminate,
    _DECONTAMINATE_SQL,
    f"train-vs-test {_DECON_N}-gram contamination check (distinct gram equi-join)",
)


# --- weighted domain mixture sampling ------------------------------------
# Training mixes are specified as per-domain sampling rates (e.g. wiki 2x
# upweight, crawl 0.3x).  Deterministic md5-bucket thresholding — the same
# mechanism as the split/stratified-sample — so the mix is reproducible
# across runs and engines; rates > 1.0 would be epoch-repeats (not
# expressible as a filter; documented, not implemented).

_MIXTURE_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.75}
_MIXTURE_DEFAULT = 0.1


def _domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rate = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(r))
            for s, r in _MIXTURE_RATES.items()
        ],
        F.lit(_MIXTURE_DEFAULT),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
    )
    kept = docs.select("doc_id", "source", (bucket < rate * 65536).alias("keep"))
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("int")).alias("n_kept"),
        portable_round(
            F.sum(F.col("keep").cast("int")) / F.count(F.lit(1)), 4
        ).alias("achieved_rate"),
    )


def _mixture_rate_sql() -> str:
    whens = " ".join(
        f"WHEN source = '{s}' THEN {r}" for s, r in _MIXTURE_RATES.items()
    )
    return f"CASE {whens} ELSE {_MIXTURE_DEFAULT} END"


_DOMAIN_MIXTURE_SQL = f"""
WITH kept AS (
  SELECT doc_id, source,
         {_SQL_HEX4_MD5} < ({_mixture_rate_sql()}) * 65536 AS keep
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       FLOOR(SUM(CASE WHEN keep THEN 1 ELSE 0 END) * 1.0 / COUNT(*) * 10000 + 0.5) / 10000 AS achieved_rate
FROM kept GROUP BY source
"""

SPECS["domain_mixture"] = QuerySpec(
    _domain_mixture,
    _DOMAIN_MIXTURE_SQL,
    "deterministic per-domain mixture sampling (md5-bucket thresholds)",
)


# --- deterministic per-group sample cap ----------------------------------
# "At most K docs per domain" — the reservoir-sample shape done
# deterministically: rank within group by md5(doc_id) (a uniform but
# reproducible order) and keep rank <= K.  The window runs per group (the
# shuffle key), not globally, so it scales with the largest group, and
# the SAME rows are kept on every run/engine/cluster size.

_GROUP_CAP = 8


def _per_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _GROUP_CAP)
        .select("doc_id", "source", "rk")
    )


_PER_GROUP_SAMPLE_SQL = f"""
SELECT doc_id, source, rk FROM (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rk
  FROM documents
) WHERE rk <= {_GROUP_CAP}
"""

SPECS["per_group_sample"] = QuerySpec(
    _per_group_sample,
    _PER_GROUP_SAMPLE_SQL,
    f"deterministic per-domain cap (md5-rank reservoir, K={_GROUP_CAP})",
)


# --- length-bucketed batching stats --------------------------------------
# Sequence batching wastes compute padding every sequence to the batch
# max; bucketing by floor(log2(len)) bounds within-bucket length spread
# to 2x.  Reports per-bucket doc count, token mass, and the padding waste
# of padding each doc to its BUCKET max — the number that justifies
# bucketed batching in a training pipeline.


def _length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = token_count("text")
    bucket = F.floor(F.log2(F.greatest(toks, F.lit(1)))).cast("int")
    per_doc = docs.select(toks.alias("n_tokens"), bucket.alias("bucket"))
    return (
        per_doc.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("token_mass"),
            F.max("n_tokens").alias("bucket_max"),
            (F.max("n_tokens") * F.count(F.lit(1)) - F.sum("n_tokens")).alias(
                "padding_waste"
            ),
        )
        .orderBy("bucket")
    )


def _length_buckets_sql() -> str:
    from .pipeline import _SQL_TOKEN_COUNT

    toks = _SQL_TOKEN_COUNT.format(c="text")
    return f"""
WITH per_doc AS (
  SELECT {toks} AS n_tokens,
         CAST(floor(log2(greatest({toks}, 1))) AS INTEGER) AS bucket
  FROM documents
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS token_mass,
       MAX(n_tokens) AS bucket_max,
       CAST(MAX(n_tokens) * COUNT(*) - SUM(n_tokens) AS BIGINT) AS padding_waste
FROM per_doc GROUP BY bucket ORDER BY bucket
"""


SPECS["length_buckets"] = QuerySpec(
    _length_buckets,
    _length_buckets_sql(),
    "log2 length-bucketed batching stats with padding-waste accounting",
)


# --- feature hashing (hashing-trick vectorizer) --------------------------
# Fixed-width feature vectors without a vocabulary table: word -> md5 mod
# D, per-doc counts scattered into a dense array.  The standard trick for
# streaming/distributed featurization (no global fit step, no vocab
# broadcast); collisions are the accepted trade.  One explode + one
# (doc, slot) groupBy; the dense array assembles from sorted slot structs.

_FH_DIM = 64


def _feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(
            F.split(
                F.lower(
                    F.regexp_replace(
                        F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " "
                    )
                ),
                " ",
            )
        ).alias("w"),
    )
    slot = (
        F.conv(F.substring(F.md5(F.col("w")), 1, 4), 16, 10).cast("int") % _FH_DIM
    )
    counts = words.groupBy("doc_id", slot.alias("slot")).agg(
        F.count(F.lit(1)).cast("int").alias("c")
    )
    # dense vector: scatter (slot, c) pairs into a zero-filled array
    pairs = counts.groupBy("doc_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("slot", "c")))
        ).alias("m"),
        F.sum("c").alias("n_words"),
    )
    # comma-joined string, not array<int>: driver canonicalizer cannot
    # sort array cells (r2 ADVICE item 1)
    dense = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(_FH_DIM - 1)),
            lambda i: F.coalesce(F.element_at("m", i.cast("int")), F.lit(0)).cast("string"),
        ),
        ",",
    )
    return pairs.select("doc_id", F.col("n_words").cast("long").alias("n_words"), dense.alias("features"))


_FEATURE_HASHING_SQL = f"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split(lower(regexp_replace(trim(COALESCE(text, '')), '\\s+', ' ', 'g')), ' ')) AS w
  FROM documents
),
slots AS (
  SELECT doc_id,
         {_SQL_HEX4_MD5.replace("CAST(doc_id AS VARCHAR)", "w")} % {_FH_DIM} AS slot,
         COUNT(*) AS c
  FROM words GROUP BY doc_id, slot
),
m AS (
  SELECT doc_id, SUM(c) AS n_words,
         map_from_entries(list(struct_pack(k := slot, v := c))) AS mp
  FROM slots GROUP BY doc_id
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       array_to_string(list_transform(generate_series(0, {_FH_DIM - 1}),
         i -> CAST(COALESCE(map_extract(mp, i)[1], 0) AS INTEGER)), ',') AS features
FROM m
"""

SPECS["feature_hashing"] = QuerySpec(
    _feature_hashing,
    _FEATURE_HASHING_SQL,
    f"hashing-trick featurizer: word -> md5 slot mod {_FH_DIM}, dense count vector",
)


def _incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: which of today's documents are genuinely
    NEW versus already present (by content fingerprint) in the historical
    corpus?  At 100 TB you never re-deduplicate the whole lake per
    delivery — the day-2 batch left-joins the (bucketed/Bloom-prefiltered)
    fingerprint history and only novel content flows on.  The "history"
    here is an md5-bucket half of the fixture so the oracle can replay the
    same split; the join is fingerprint-equi, never text-to-text."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 2
    )
    fp = fingerprint_md5("text")
    tagged = docs.select(
        "doc_id", "source", bucket.alias("day"), fp.alias("fp")
    )
    history = tagged.filter(F.col("day") == 0).select("fp").distinct()
    batch = tagged.filter(F.col("day") == 1)
    return (
        batch.join(history.withColumn("seen", F.lit(1)), "fp", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0)).alias("n_new"),
            F.sum(F.when(F.col("seen").isNotNull(), 1).otherwise(0)).alias(
                "n_already_seen"
            ),
        )
    )


_INCREMENTAL_NEW_DOCS_SQL = f"""
WITH tagged AS (
  SELECT doc_id, source, {_SQL_HEX4_MD5} % 2 AS day,
         md5(regexp_replace(trim(COALESCE(text, '')), '\\s+', ' ', 'g')) AS fp
  FROM documents
),
history AS (SELECT DISTINCT fp FROM tagged WHERE day = 0)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_batch,
       CAST(SUM(CASE WHEN h.fp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       CAST(SUM(CASE WHEN h.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_already_seen
FROM (SELECT * FROM tagged WHERE day = 1) b
LEFT JOIN history h USING (fp)
GROUP BY source
"""


SPECS["incremental_new_docs"] = QuerySpec(
    _incremental_new_docs,
    _INCREMENTAL_NEW_DOCS_SQL,
    "incremental ingest: fingerprint anti-membership vs the historical corpus",
)


# --- overlapping sliding-window chunking ---------------------------------
# The RAG-style complement of the reference's disjoint fixed-size chunker
# (src/rag/dataframes.rs chunking, operators/chunking.py): windows of
# _OVL_SIZE words starting every _OVL_STRIDE words, so consecutive chunks
# share (size - stride) words of context.  Pure JVM: split once, explode
# a start-position sequence, slice — one narrow pass, no Python, no
# shuffle at all (chunk rows stay with their document's partition).

_OVL_SIZE = 32
_OVL_STRIDE = 24


def _chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(
        F.regexp_replace(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " "),
        " ",
    )
    d = docs.select("doc_id", words.alias("ws")).filter(
        (F.size("ws") > 0) & (F.element_at("ws", 1) != "")
    )
    d = d.select(
        "doc_id",
        "ws",
        F.explode(
            F.sequence(F.lit(0), F.size("ws") - 1, F.lit(_OVL_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice("ws", F.col("start") + 1, _OVL_SIZE)
    return d.select(
        "doc_id",
        (F.col("start") / _OVL_STRIDE).cast("int").alias("chunk_id"),
        F.size(chunk).alias("n_words"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


_CHUNK_OVERLAP_SQL = f"""
WITH d AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(COALESCE(text, '')), '\\s+', ' ', 'g'), ' ') AS ws
  FROM documents
),
s AS (
  SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 1, {_OVL_STRIDE})) AS start
  FROM d
  WHERE len(ws) > 0 AND ws[1] <> ''
)
SELECT doc_id,
       CAST(start // {_OVL_STRIDE} AS INTEGER) AS chunk_id,
       CAST(len(ws[start + 1 : start + {_OVL_SIZE}]) AS INTEGER) AS n_words,
       array_to_string(ws[start + 1 : start + {_OVL_SIZE}], ' ') AS chunk_text
FROM s
"""

SPECS["chunk_overlap"] = QuerySpec(
    _chunk_overlap,
    _CHUNK_OVERLAP_SQL,
    f"sliding-window chunking: {_OVL_SIZE}-word windows every {_OVL_STRIDE} words (overlap {_OVL_SIZE - _OVL_STRIDE})",
)


# --- segment-level (line) dedup ------------------------------------------
# C4/RefinedWeb-style LINE dedup at sub-document granularity: the corpus
# deduplicates repeated SEGMENTS (boilerplate, headers, licence blocks)
# even when whole documents are unique.  Fixture text has no newlines, so
# the "line" is a disjoint 10-word segment.  Shape: one explode to
# (doc, seg-fingerprint) rows, distinct-doc frequency per fingerprint,
# semi-join the hot-fingerprint set back, per-doc aggregate.  The hot
# set (segments seen in >= 2 docs) is usually small but is UNBOUNDED on
# a high-duplication corpus, so no broadcast hint: AQE picks broadcast
# when the runtime size allows and falls back to a shuffled semi-join
# (both sides already hash-partitioned on fp) when it doesn't.

_SEG_WORDS = 10


def _line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import normalized_text

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(normalized_text(F.col("text")), " ")
    d = docs.select("doc_id", words.alias("ws")).filter(
        F.size("ws") >= _SEG_WORDS
    )
    segs = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.size("ws") - _SEG_WORDS, F.lit(_SEG_WORDS))
        ).alias("start"),
        "ws",
    ).select(
        "doc_id",
        F.md5(F.array_join(F.slice("ws", F.col("start") + 1, _SEG_WORDS), " ")).alias(
            "fp"
        ),
    )
    df_per_fp = segs.groupBy("fp").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    tagged = segs.join(
        df_per_fp.filter(F.col("ndocs") >= 2).select("fp"),
        "fp",
        "left_semi",
    )
    per_doc = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segs"))
    dup_doc = tagged.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup"))
    return (
        per_doc.join(dup_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_segs",
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup_segs"),
            portable_round(
                F.coalesce(F.col("n_dup"), F.lit(0)) / F.col("n_segs"), 4
            ).alias("dup_frac"),
        )
    )


_LINE_DEDUP_SQL = f"""
WITH d AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(COALESCE(text, '')), '\\s+', ' ', 'g')), ' ') AS ws
  FROM documents
),
segs AS (
  SELECT doc_id,
         md5(array_to_string(ws[start + 1 : start + {_SEG_WORDS}], ' ')) AS fp
  FROM (
    SELECT doc_id, ws,
           unnest(generate_series(0, len(ws) - {_SEG_WORDS}, {_SEG_WORDS})) AS start
    FROM d WHERE len(ws) >= {_SEG_WORDS}
  )
),
fps AS (SELECT fp FROM segs GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2),
per_doc AS (SELECT doc_id, COUNT(*) AS n_segs FROM segs GROUP BY doc_id),
dup_doc AS (
  SELECT doc_id, COUNT(*) AS n_dup
  FROM segs WHERE fp IN (SELECT fp FROM fps)
  GROUP BY doc_id
)
SELECT p.doc_id, CAST(p.n_segs AS BIGINT) AS n_segs,
       CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_segs,
       floor(CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / p.n_segs * 10000.0 + 0.5) / 10000.0 AS dup_frac
FROM per_doc p LEFT JOIN dup_doc d ON p.doc_id = d.doc_id
"""

SPECS["line_dedup"] = QuerySpec(
    _line_dedup,
    _LINE_DEDUP_SQL,
    f"segment-level dedup: {_SEG_WORDS}-word segment fingerprints, cross-doc duplicated fraction",
)


# --- Gopher-style composite quality FILTER --------------------------------
# The keep/drop decision of the Gopher rule set (Rae et al. 2021, table A1),
# with thresholds tuned so every rule has live pass AND fail arms on the
# synthetic fixture (single-line space-separated text: the symbol/bullet/
# ellipsis rules would be vacuously true here and are covered by
# quality_score's ratio features instead).  This complements
# repetition_score (the max-bigram rule) and quality_score (the scalar
# signal): it is the boolean *filter* a 100 TB pretraining pipeline
# actually applies — one scan, all rules as JVM expressions, no shuffle
# except the top-word aggregation.

_GOPHER_STOPWORDS = ("the", "a", "and", "of", "to", "in")
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 20, 80
_GOPHER_MEAN_LEN_LO, _GOPHER_MEAN_LEN_HI = 3.0, 4.6
_GOPHER_MIN_STOP_HITS = 2
_GOPHER_TOP_WORD_FRAC = 0.12


def _gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gopher_frame(load_table(spark, sf_dir, "documents"))


def _gopher_frame(docs: DataFrame) -> DataFrame:
    """The Gopher keep/drop rules over ANY (doc_id, text) frame — ONE
    definition shared by the standalone catalog query and the composed
    ``curation_pipeline`` stage (the r8 shared-definition rule)."""
    # r15 (guide §2.4 — remove shuffles outright): every rule's feature
    # folds IN PLACE over the per-doc word array — n_words is the array
    # size, character mass and stopword hits are array folds/filters,
    # and the top-word count is a run-length fold over the SORTED array
    # (max run == max per-word count).  The previous explode + two
    # doc-keyed aggregations shuffled the corpus twice for the same
    # integers; this shape has ZERO exchanges and measured 2x faster at
    # sf0.1 (verified bit-identical on the full fixture corpus — all
    # features are exact integer folds).
    words_sql = (
        "split(lower(regexp_replace(trim(coalesce(text, '')), "
        "'\\\\s+', ' ')), ' ')"
    )
    stop = ", ".join(f"'{w}'" for w in _GOPHER_STOPWORDS)
    max_run = (
        "aggregate(array_sort(_w), struct(CAST(NULL AS STRING) AS prev, "
        "CAST(0 AS BIGINT) AS run, CAST(0 AS BIGINT) AS maxr), "
        "(a, x) -> struct(x AS prev, "
        "IF(x <=> a.prev, a.run + 1, CAST(1 AS BIGINT)) AS run, "
        "greatest(a.maxr, IF(x <=> a.prev, a.run + 1, CAST(1 AS BIGINT))) "
        "AS maxr), a -> a.maxr)"
    )
    per_doc = (
        docs.select("doc_id", F.expr(words_sql).alias("_w"))
        .select(
            "doc_id",
            F.expr("CAST(size(_w) AS INT)").alias("n_words"),
            F.expr(
                "CAST(aggregate(_w, CAST(0 AS BIGINT), "
                "(a, x) -> a + length(x)) AS DOUBLE)"
            ).alias("_chars"),
            F.expr(f"CAST(size(filter(_w, x -> x IN ({stop}))) AS INT)").alias(
                "stop_hits"
            ),
            F.expr(max_run).alias("_max_c"),
        )
        .withColumn(
            "mean_word_len", portable_round(F.col("_chars") / F.col("n_words"), 4)
        )
        .withColumn(
            "top_word_frac",
            portable_round(F.col("_max_c") / F.col("n_words"), 4),
        )
    )
    keep = (
        F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(_GOPHER_MEAN_LEN_LO, _GOPHER_MEAN_LEN_HI)
        & (F.col("stop_hits") >= _GOPHER_MIN_STOP_HITS)
        & (F.col("top_word_frac") <= _GOPHER_TOP_WORD_FRAC)
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "stop_hits",
        "top_word_frac",
        keep.alias("keep"),
    )


def _gopher_quality_filter_sql(src: str = "documents") -> str:
    # ``src`` parameterizes the corpus relation (default renders
    # byte-identical for the standalone query); curation_pipeline embeds
    # this whole statement as a nested-WITH derived table over its
    # augmented corpus CTE.
    stop = ", ".join(f"'{w}'" for w in _GOPHER_STOPWORDS)
    return f"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(coalesce(text, '')), '\\s+', ' ', 'g')), ' ') AS words
  FROM {src}
),
base AS (
  SELECT doc_id, words,
         len(words) AS n_words,
         FLOOR(list_sum(list_transform(words, x -> CAST(length(x) AS DOUBLE)))
               / len(words) * 10000.0 + 0.5) / 10000.0 AS mean_word_len,
         CAST(len(list_filter(words, x -> x IN ({stop}))) AS INTEGER) AS stop_hits
  FROM w
),
top_word AS (
  SELECT doc_id, MAX(c) AS max_c FROM (
    SELECT doc_id, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(words) AS word FROM w)
    GROUP BY doc_id, word
  ) GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_words AS INTEGER) AS n_words,
       b.mean_word_len,
       b.stop_hits,
       FLOOR(t.max_c / CAST(b.n_words AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS top_word_frac,
       (b.n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
        AND b.mean_word_len BETWEEN {_GOPHER_MEAN_LEN_LO} AND {_GOPHER_MEAN_LEN_HI}
        AND b.stop_hits >= {_GOPHER_MIN_STOP_HITS}
        AND FLOOR(t.max_c / CAST(b.n_words AS DOUBLE) * 10000.0 + 0.5) / 10000.0
            <= {_GOPHER_TOP_WORD_FRAC}) AS keep
FROM base b JOIN top_word t USING (doc_id)
"""


SPECS["gopher_quality_filter"] = QuerySpec(
    _gopher_quality_filter,
    _gopher_quality_filter_sql(),
    "Gopher-rule composite keep/drop filter (word count, mean length, stopwords, top-word fraction)",
)


# --- Gopher duplicate-ngram character fraction ---------------------------
# The remaining Gopher repetition rule family (Rae et al. 2021 table A1,
# "duplicate n-grams"): the fraction of CHARACTERS inside word trigrams
# that occur more than once in the document — complements
# repetition_score (max-bigram occurrence fraction), which a document can
# pass while still being stitched from a few repeated phrases.  Same
# relational shape: explode the non-distinct trigram stream, two-key
# count, one per-doc conditional ratio; docs with < 3 words have no
# trigrams and (like repetition_score) drop out of the result.


def _dup_ngram_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import normalized_text

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(normalized_text(F.col("text")), " ")
    n3 = F.greatest(F.size(words) - 2, F.lit(1))
    trigrams = F.zip_with(
        F.slice(words, 1, n3),
        F.zip_with(
            F.slice(words, 2, n3),
            F.slice(words, 3, n3),
            lambda b, c: F.concat_ws(" ", b, c),
        ),
        lambda a, bc: F.concat_ws(" ", a, bc),
    )
    exploded = docs.select(
        "doc_id",
        F.explode(
            F.when(F.size(words) >= 3, trigrams).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("g"),
    )
    counts = exploded.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).alias("c"), F.length(F.first("g")).alias("glen")
    )
    return counts.groupBy("doc_id").agg(
        portable_round(
            F.sum(F.when(F.col("c") > 1, F.col("c") * F.col("glen")).otherwise(0))
            / F.sum(F.col("c") * F.col("glen")),
            4,
        ).alias("dup3_char_frac")
    )


_DUP_NGRAM_CHARS_SQL = """
WITH norm AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(COALESCE(text, '')), '\\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
tg AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
                        i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS g
  FROM norm WHERE len(w) >= 3
),
counts AS (SELECT doc_id, g, COUNT(*) AS c, length(g) AS glen FROM tg GROUP BY doc_id, g)
SELECT doc_id,
       floor(SUM(CASE WHEN c > 1 THEN c * glen ELSE 0 END)
             / CAST(SUM(c * glen) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS dup3_char_frac
FROM counts GROUP BY doc_id
"""


SPECS["dup_ngram_chars"] = QuerySpec(
    _dup_ngram_chars,
    _DUP_NGRAM_CHARS_SQL,
    "Gopher duplicate-trigram character fraction (repetition rule family)",
)


# --- fastText-style linear quality classifier ----------------------------
# Model-based quality scoring, the CCNet/RedPajama shape: a linear
# classifier over hashed bag-of-words features, score = sigmoid(mean
# feature weight + bias).  Inference at 100 TB is ONE broadcast literal
# weight vector + the same explode/agg pass every other text op uses —
# no Python, no model server; swapping trained weights for these seeded
# literals changes nothing structural.  The hash slot reuses
# feature_hashing's portable md5 arithmetic so both engines bucket
# identically.


def _qc_weights(dim: int = 64, seed: int = 7171) -> list[float]:
    import random

    rng = random.Random(seed)
    return [round(rng.uniform(-1.0, 1.0), 3) for _ in range(dim)]


_QC_BIAS = 0.05


def _quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.dedup import normalized_text

    words = docs.select(
        "doc_id", F.explode(F.split(normalized_text(F.col("text")), " ")).alias("w")
    )
    slot = (
        F.conv(F.substring(F.md5(F.col("w")), 1, 4), 16, 10).cast("int") % _FH_DIM
    )
    wlit = "array(" + ", ".join(f"CAST({x} AS DOUBLE)" for x in _qc_weights()) + ")"
    weighted = words.select(
        "doc_id",
        F.element_at(F.expr(wlit), slot + 1).alias("wgt"),
    )
    agg = weighted.groupBy("doc_id").agg(
        F.avg("wgt").alias("mean_w"), F.count(F.lit(1)).alias("n_words")
    )
    logit = F.col("mean_w") + F.lit(_QC_BIAS)
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return agg.select(
        "doc_id",
        portable_round(score, 4).alias("score"),
        (portable_round(score, 4) >= 0.5).alias("keep"),
    )


def _quality_classifier_sql() -> str:
    w = "[" + ", ".join(str(x) for x in _qc_weights()) + "]::DOUBLE[]"
    slot = (
        "((instr('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 4096 + "
        "(instr('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 256 + "
        "(instr('0123456789abcdef', substr(md5(w), 3, 1)) - 1) * 16 + "
        "(instr('0123456789abcdef', substr(md5(w), 4, 1)) - 1)) % " + str(_FH_DIM)
    )
    return f"""
WITH words AS (
  SELECT doc_id,
         unnest(string_split(lower(regexp_replace(trim(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) AS w
  FROM documents
),
weighted AS (
  SELECT doc_id, ({w})[{slot} + 1] AS wgt FROM words
),
agg AS (
  SELECT doc_id, AVG(wgt) AS mean_w FROM weighted GROUP BY doc_id
)
SELECT doc_id,
       floor((1.0 / (1.0 + exp(-(mean_w + {_QC_BIAS})))) * 10000.0 + 0.5) / 10000.0 AS score,
       (floor((1.0 / (1.0 + exp(-(mean_w + {_QC_BIAS})))) * 10000.0 + 0.5) / 10000.0 >= 0.5) AS keep
FROM agg
"""


SPECS["quality_classifier"] = QuerySpec(
    _quality_classifier,
    _quality_classifier_sql(),
    "fastText-style linear quality classifier over hashed bag-of-words (broadcast literal weights)",
)


# --- DSIR: hashed n-gram importance weights ------------------------------
# Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): score every raw document by how much more likely its
# hashed n-gram features are under a TARGET corpus than under the raw
# corpus — log w(doc) = Σ_b c_b(doc)·(ln p̂_t(b) − ln p̂_r(b)) with add-1
# smoothing over B hash buckets.  The 100 TB shape: features are unigrams
# plus bigrams hashed md5-mod-B (no vocabulary table, no fit step), both
# bucket-count distributions come from ONE persisted (doc, lang, bucket)
# aggregate — persisted, not left to Catalyst exchange reuse, because the
# target branch's lang filter gets pushed BELOW the aggregation, making
# the three subtrees physically distinct and silently re-running the
# explode+md5 pass per consumer (measured: 5 parquet scans, 0 reused
# exchanges) — and the B-row log-ratio table broadcasts.  The
# fixture's target ('en' docs) has a near-raw distribution, so weights
# cluster near 0 — the discrimination is corpus-dependent; the operator,
# and its oracle parity, are not.

_DSIR_BUCKETS = 128
_DSIR_TARGET_LANG = "en"


def _dsir_ngram_features(ws):
    """Unigrams ++ bigrams ("w1 w2") of a word array, as one array."""
    nexts = F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0)))
    bigrams = F.filter(
        F.zip_with(ws, nexts, lambda a, b: F.concat(a, F.lit(" "), b)),
        lambda x: x.isNotNull(),
    )
    return F.concat(ws, bigrams)


def _dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.sources import ensure_parallelism
    from ..operators.dedup import normalized_text

    # spread the single-file scan BEFORE the per-feature md5 pass — the
    # dominant compute ran in ONE task of local[32] (r16, guide §2.5;
    # a 1.3 s single-task map stage in the event log at sf0.1)
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    feats = _dsir_ngram_features(F.split(normalized_text(F.col("text")), " "))
    bucket = (
        F.conv(F.substring(F.md5(F.col("f")), 1, 4), 16, 10).cast("int")
        % _DSIR_BUCKETS
    )
    bc = (
        docs.select("doc_id", "lang", F.explode(feats).alias("f"))
        .groupBy("doc_id", "lang", bucket.alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(materialize, "dsir bucket counts", "cache")
    )
    # r16 (guide §2.3/§2.4): raw + target bucket counts from ONE
    # conditional aggregation over bc, corpus totals as window sums over
    # the <= _DSIR_BUCKETS-row result — the old shape ran FOUR aggregate
    # passes over bc (raw, tgt, and two scalar totals each shipped via
    # its own broadcast job) plus a bucket join.  cr/ct/_nr/_nt are
    # exact LONG sums (order-free), so every lr double is bit-identical
    # to the old raw⋈tgt⋈totals form and the oracle is unchanged.
    w_all = Window.partitionBy()
    per_b = (
        bc.groupBy("b")
        .agg(
            F.sum("c").alias("cr"),
            F.sum(
                F.when(F.col("lang") == _DSIR_TARGET_LANG, F.col("c"))
            ).alias("ct"),
        )
        .select(
            "b",
            "cr",
            "ct",
            F.sum("cr").over(w_all).cast("double").alias("_nr"),
            F.sum("ct").over(w_all).cast("double").alias("_nt"),
        )
    )
    # smoothed log-ratio per bucket; missing target buckets count 0
    ratio = per_b.select(
        "b",
        (
            F.log(
                (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                / (F.col("_nt") + F.lit(float(_DSIR_BUCKETS)))
            )
            - F.log(
                (F.col("cr") + F.lit(1.0))
                / (F.col("_nr") + F.lit(float(_DSIR_BUCKETS)))
            )
        ).alias("lr"),
    )
    return (
        bc.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            portable_round(F.sum(F.col("c") * F.col("lr")), 4).alias("logw"),
        )
    )


def _dsir_weights_sql() -> str:
    # one shared hex4-md5 decode (reuse, not a second hand-maintained
    # copy: a drift between the two would silently desynchronize DSIR's
    # bucketing from every other hashed operator)
    b_of_f = (
        _SQL_HEX4_MD5.replace("md5(CAST(doc_id AS VARCHAR))", "md5(f)")
        + f" % {_DSIR_BUCKETS}"
    )
    return f"""
WITH d AS (
  SELECT doc_id, lang,
         string_split(lower(regexp_replace(trim(COALESCE(text, '')), '\\s+', ' ', 'g')), ' ') AS ws
  FROM documents
),
feats AS (
  SELECT doc_id, lang, unnest(list_concat(
           ws,
           list_filter(list_transform(generate_series(1, len(ws) - 1),
                                      i -> ws[i] || ' ' || ws[i + 1]),
                       x -> x IS NOT NULL))) AS f
  FROM d
),
bc AS (
  SELECT doc_id, lang, {b_of_f} AS b, COUNT(*) AS c
  FROM feats GROUP BY doc_id, lang, b
),
raw AS (SELECT b, SUM(c) AS cr FROM bc GROUP BY b),
tgt AS (SELECT b, SUM(c) AS ct FROM bc WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY b),
nr AS (SELECT CAST(SUM(cr) AS DOUBLE) AS _nr FROM raw),
nt AS (SELECT CAST(SUM(ct) AS DOUBLE) AS _nt FROM tgt),
ratio AS (
  SELECT raw.b,
         ln((COALESCE(tgt.ct, 0) + 1.0) / (nt._nt + {float(_DSIR_BUCKETS)}))
         - ln((raw.cr + 1.0) / (nr._nr + {float(_DSIR_BUCKETS)})) AS lr
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN nr CROSS JOIN nt
)
SELECT bc.doc_id, CAST(SUM(bc.c) AS BIGINT) AS n_feats,
       floor(SUM(bc.c * ratio.lr) * 10000.0 + 0.5) / 10000.0 AS logw
FROM bc JOIN ratio ON bc.b = ratio.b
GROUP BY bc.doc_id
"""


SPECS["dsir_weights"] = QuerySpec(
    _dsir_weights,
    _dsir_weights_sql(),
    f"DSIR importance weights: hashed uni+bigram log-ratio scoring, {_DSIR_BUCKETS} buckets",
)


# --- CCNet-style perplexity buckets --------------------------------------
# CCNet (Wenzek et al. 2020) splits a crawl into head/middle/tail thirds
# by language-model perplexity and trains on the head.  Stand-in LM: the
# corpus's own unigram distribution — per-doc cross-entropy
# −Σ ln(c_w/N)/n_words (the tiny word-count table broadcasts; one explode,
# one join, one doc aggregate).  The tertile split reuses the tie-aware
# two-pass global ranking operator — bucketing is a pure function of the
# ROUNDED score value, so no global single-task window and no dependence
# on physical partitioning; NTILE(3) semantics match the SQL oracle
# because both rank the identical 1e-4-grain score with doc_id tiebreak.

_CCNET_LABELS = {1: "head", 2: "middle", 3: "tail"}


def _ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import normalized_text
    from ..operators.ranking import global_rank_family

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias("w"),
    )
    cnt = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n = cnt.agg(F.sum("c").cast("double").alias("_n"))
    # persisted: the ranking subtree and the final join both consume it,
    # and without the pin each branch would recompute the float log-sum
    # with its own partial-aggregation order — a doc on a 1e-4 rounding
    # boundary could then rank under one xent and emit the other,
    # breaking the (xent, bucket) pair's internal consistency (same
    # multi-consumer hazard the DSIR aggregate above hit)
    perdoc = (
        words.join(F.broadcast(cnt), "w")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            portable_round(
                -F.sum(F.log(F.col("c") / F.col("_n"))) / F.count(F.lit(1)), 4
            ).alias("xent")
        )
        .transform(materialize, "ccnet per-doc xent", "cache")
    )
    ranked = global_rank_family(
        perdoc,
        "xent",
        "doc_id",
        bucket=F.floor(F.col("xent") * 16).cast("int"),
        ntiles=3,
    )
    label = F.when(F.col("quartile") == 1, _CCNET_LABELS[1]).when(
        F.col("quartile") == 2, _CCNET_LABELS[2]
    ).otherwise(_CCNET_LABELS[3])
    return (
        perdoc.join(ranked.select("doc_id", "quartile"), "doc_id")
        .select("doc_id", "xent", label.alias("bucket"))
    )


_CCNET_BUCKETS_SQL = """
WITH w AS (
  SELECT doc_id,
         unnest(string_split(lower(regexp_replace(trim(COALESCE(text, '')), '\\s+', ' ', 'g')), ' ')) AS w
  FROM documents
),
cnt AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM w),
perdoc AS (
  SELECT doc_id,
         floor((-SUM(ln(cnt.c / tot.n)) / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS xent
  FROM w JOIN cnt USING (w) CROSS JOIN tot
  GROUP BY doc_id
),
nt AS (
  SELECT doc_id, xent, NTILE(3) OVER (ORDER BY xent, doc_id) AS t FROM perdoc
)
SELECT doc_id, xent,
       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM nt
"""


SPECS["ccnet_buckets"] = QuerySpec(
    _ccnet_buckets,
    _CCNET_BUCKETS_SQL,
    "CCNet head/middle/tail perplexity tertiles via scale-safe two-pass ranking",
)


# --- deterministic output sharding (training-order shuffle + manifest) ---
# The last stage of every pretraining data pipeline: shuffle the corpus
# into a reproducible pseudo-random order and shard it into N output
# files.  Order is md5(doc_id) — a pure function of the data, invariant
# to cluster size and run order (the weighted_sample/train_test_split
# hashing rule); the shard is the hash's low bits, so the physical write
# is `repartition(shard).sortWithinPartitions(sort_key)` with NO global
# sort.  The checkable artifact is the per-shard MANIFEST (counts, token
# mass, first/last sort key rendered as hex) — the write itself is a
# side effect, exercised in tests via the same plan.

_SHARDS = 8


def _shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    skey = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(skey, 1, 4), 16, 10).cast("int") % _SHARDS
    )
    return (
        docs.select(
            "doc_id",
            token_count("text").alias("tokens"),
            skey.alias("skey"),
            shard.alias("shard"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").cast("long").alias("shard_tokens"),
            F.min("skey").alias("first_key"),
            F.max("skey").alias("last_key"),
        )
    )


_SHARD_MANIFEST_SQL = f"""
WITH d AS (
  SELECT doc_id, {_SQL_TOKENS} AS tokens,
         md5(CAST(doc_id AS VARCHAR)) AS skey,
         {_SQL_HEX4_MD5} % {_SHARDS} AS shard
  FROM documents
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tokens) AS BIGINT) AS shard_tokens,
       MIN(skey) AS first_key, MAX(skey) AS last_key
FROM d GROUP BY shard
"""

SPECS["shard_manifest"] = QuerySpec(
    _shard_manifest,
    _SHARD_MANIFEST_SQL,
    f"deterministic training-order shuffle manifest: md5 order, {_SHARDS} shards",
)


# --- cross-document duplicate substring spans ----------------------------
# The Lee et al. 2022 recipe ("Deduplicating Training Data Makes Language
# Models Better", arXiv:2107.06499) removes EXACT substrings repeated
# across documents — the dedup mode that catches boilerplate, licenses,
# and templated text that document-level MinHash misses.  The suffix-array
# machinery of the paper is a single-node construct; the relational
# equivalent is CONTENT-DEFINED windows (the Rabin-anchor trick from
# dedup storage systems): a position p is an anchor iff the hash of the
# 8-gram starting at p lands in a 1-in-8 target set, and each anchor
# hashes the W-char window starting there.  Because anchor placement
# depends only on local CONTENT, a block shared by two documents yields
# identical windows regardless of where the block sits in each doc — a
# fixed-stride grid only matches duplicates aligned mod S (a planted-
# block test caught exactly that failure in the first cut of this plan).
# 100 TB shape: the window table is ~n_chars/8 rows of (doc_id, 16-byte
# md5) — the substring itself never crosses the wire — and everything
# downstream is groupBy/join on the window hash, whose cardinality grows
# with the corpus (the SCALING.md audit rule).  NO pair join anywhere:
# span dedup is linear where document near-dup needs candidate pairs.

_DUPSPAN_W = 64  # window chars — long enough that collisions mean real text reuse
_DUPSPAN_G = 8  # anchor-gram chars; first md5 hex in {'0','8'} = 1/8 density


def _span_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents as (doc_id, t) with the F6 null coalesce — the shared
    base of the three span operators.  Spread across the cores (r16,
    guide §2.5 input skew): the single-file fixture scan ran the
    per-position md5 Generate of ``_span_windows`` — the dominant
    compute — in ONE task (event log: a 2.9 s single-task stage at
    sf0.1, and two consumers raced to populate the persisted window
    table, paying it twice).  All downstream aggregates are integer
    counts / distinct-hash semantics — order-free at any scale."""
    from ..io.sources import ensure_parallelism

    return ensure_parallelism(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("t")
        )
    )


def _span_windows(docs: DataFrame, with_pos: bool = False) -> DataFrame:
    """Content-defined window table (doc_id[, p], h) — ONE definition for
    all three span operators (dup_substring_spans, incremental_span_
    novelty, dup_span_removal), so the anchor rule / W / G can never
    silently drift between them (code-review r8 finding).

    length >= W BEFORE sequence(): Spark's sequence(0, negative) yields a
    DESCENDING sequence, not an empty one.  The anchor test is a pure
    string comparison on the md5 hex head — byte-identical across
    engines, no numeric conversion to disagree on.

    Callers that consume the result more than once must cache it:
    the per-position md5 Generate is the dominant compute and Catalyst
    re-runs it per consumer otherwise (.explain showed two Generate
    nodes; 3.91 s -> 2.91 s at 16x from pinning).  Materializing
    (doc_id, 32-hex) rows is ~linear in corpus bytes and spill-safe —
    strictly cheaper than 2x the md5 pass at 100 TB."""
    W, G = _DUPSPAN_W, _DUPSPAN_G
    anchors = (
        f"filter(sequence(0, length(t) - {W}),"
        f" p -> substring(md5(substring(t, p + 1, {G})), 1, 1) IN ('0', '8'))"
    )
    base = docs.filter(F.length("t") >= W)
    if with_pos:
        return base.select(
            "doc_id", "t", F.explode(F.expr(anchors)).alias("p")
        ).select(
            "doc_id", "p", F.expr(f"md5(substring(t, p + 1, {W}))").alias("h")
        )
    return base.selectExpr(
        "doc_id",
        f"explode(transform({anchors}, p -> md5(substring(t, p + 1, {W})))) AS h",
    )


def _span_wins_cte() -> str:
    """DuckDB twin of :func:`_span_windows` (with positions; consumers
    that only need hashes ignore ``p``).  Expects a ``base(doc_id, t)``
    CTE in scope.  DuckDB's generate_series cannot take a lateral column
    bound, so the oracle cross-joins a constant 0..2047 series and
    filters — that covers documents up to 2047 + W chars, ~3.6x the
    fixture max (577); the Spark side uses the exact per-row sequence
    bound."""
    W, G = _DUPSPAN_W, _DUPSPAN_G
    return f"""wins AS (
  SELECT doc_id, p, md5(substring(t, p + 1, {W})) AS h
  FROM base CROSS JOIN generate_series(0, 2047) g(p)
  WHERE p <= length(t) - {W}
    AND substring(md5(substring(t, p + 1, {G})), 1, 1) IN ('0', '8')
)"""


def _dup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _span_docs(spark, sf_dir)
    # persisted: feeds BOTH the dup-set aggregate and the per-doc flag
    # join (see _span_windows' docstring)
    wins = materialize(_span_windows(docs), "span windows", "cache")
    # >= 2 distinct docs ⟺ min(doc_id) != max(doc_id) (doc_id is never
    # null): same filter, but min/max partial-aggregate map-side where
    # count_distinct pays a per-(h, doc_id) distinct expansion (r16,
    # guide §2.3 — aggregate before you shuffle)
    dup = (
        wins.groupBy("h")
        .agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("h", F.lit(1).alias("_dup"))
    )
    agg = (
        wins.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("n_dup"),
        )
    )
    return docs.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
        F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
        F.when(F.col("n_windows").isNull(), F.lit(None).cast("double"))
        .otherwise(
            portable_round(F.col("n_dup") / F.col("n_windows").cast("double"), 4)
        )
        .alias("dup_frac"),
    )


def _dup_substring_spans_sql() -> str:
    return f"""
WITH base AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
{_span_wins_cte()},
dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
agg AS (
  SELECT wins.doc_id, COUNT(*) AS n_windows,
         SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
  FROM wins LEFT JOIN dup ON wins.h = dup.h
  GROUP BY wins.doc_id
)
SELECT b.doc_id,
       CAST(COALESCE(a.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(a.n_dup, 0) AS BIGINT) AS n_dup,
       CASE WHEN a.n_windows IS NULL THEN NULL
            ELSE floor(a.n_dup / CAST(a.n_windows AS DOUBLE) * 10000.0 + 0.5) / 10000.0
       END AS dup_frac
FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
"""


SPECS["dup_substring_spans"] = QuerySpec(
    _dup_substring_spans,
    _dup_substring_spans_sql(),
    "cross-document duplicate substring spans (Lee et al. rolling-window dedup, no pair join)",
)


# --- distributed BPE tokenizer training -----------------------------------
# The train-side twin of T1: the reference ENCODES with a pretrained
# cl100k table; a 100 TB training-data pipeline also TRAINS tokenizers on
# its corpus.  operators/bpe_train.py re-expresses classic BPE training
# Spark-first (one Arrow pass collapses the corpus to a vocabulary-sized
# (piece, freq) table; each merge round is a partial-aggregated pair count
# whose argmax — ONE row — returns to the driver, the kmeans-codebook
# pattern; the merge applies as a JVM fold).  Oracle: the sequential
# pure-Python trace precomputed per fixture (tools/gen_bpe_trace_oracle.py,
# corpus-keyed snapshot — the tokenize_cl100k pattern), valid because the
# trace is order-independent in the input: the piece Counter erases
# document order, which is exactly the property that makes BPE training
# distributable.

_BPE_TRAIN_MERGES = 16


def _bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe_train import bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_merges(spark, docs, n_merges=_BPE_TRAIN_MERGES)


def _bpe_train_sql() -> str:
    import os

    from ..functions.bpe import _DATA_DIR

    values = []
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = os.path.join(_DATA_DIR, f"bpe_trace_{sf}.tsv")
        with open(path) as f:
            header = f.readline().strip()
            if not header.startswith("# corpus_key="):
                raise ValueError(
                    f"{path}: missing '# corpus_key=' header — regenerate "
                    "with tools/gen_bpe_trace_oracle.py"
                )
            key = int(header.split("=", 1)[1])
            for line in f:
                if line.strip():
                    rank, token, count = line.split()
                    values.append(f"({key}, {rank}, '{token}', {count})")
    joined = ", ".join(values)
    return (
        "SELECT CAST(rank AS INTEGER) AS rank, token, "
        "CAST(pair_count AS BIGINT) AS pair_count "
        f"FROM (VALUES {joined}) AS t(corpus_key, rank, token, pair_count) "
        "WHERE corpus_key = (SELECT SUM(n_chars) FROM documents)"
    )


SPECS["bpe_train"] = QuerySpec(
    _bpe_train,
    _bpe_train_sql(),
    "distributed BPE tokenizer training: 16 merge rounds vs the sequential-reference trace",
)


# --- token-budget water-filling (UniMax-style mixture planning) ----------
# Given a global token budget, allocate per-domain token quotas so that
# no domain exceeds its available tokens and the remaining budget spreads
# UNIFORMLY over unsaturated domains — the water-filling allocation that
# UniMax-style sampling (Chung et al. 2023) uses to avoid over-weighting
# tiny domains.  The iterative "redistribute from saturated domains"
# loop has a CLOSED relational form: sort domains by token count
# ascending; domain i (of D) saturates iff giving every remaining domain
# its own count would still fit the budget — tokens_i*(D-i+1) +
# cum_before_i <= B, an exact INTEGER test — and the water level is
# theta = (B - sum(saturated tokens)) / count(unsaturated).  The windows
# run over D rows (the domain vocabulary — the corpus is already
# collapsed by the aggregate), so the single-partition window is the
# kmeans-codebook scale pattern, not a corpus-sized window.

# 0.95 exercises BOTH allocation arms at every fixture scale (the
# smallest domains saturate — 8/7/2 of 20 at sf0.001/0.01/0.1 — while
# the rest sit at the water level); 0.5 left every near-uniform fixture
# domain unsaturated, a dead arm by the repo's own test rule.
_WATERFILL_BUDGET_FRAC = 0.95


def _token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    dom = (
        docs.select("source", token_count("text").alias("tk"))
        .groupBy("source")
        .agg(F.sum("tk").cast("long").alias("tokens"))
    )
    wall = W.orderBy("tokens", "source").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    wrun = W.orderBy("tokens", "source").rowsBetween(W.unboundedPreceding, 0)
    d = dom.select(
        "source",
        "tokens",
        F.row_number().over(W.orderBy("tokens", "source")).alias("i"),
        (F.sum("tokens").over(wrun) - F.col("tokens")).alias("cum_before"),
        F.sum("tokens").over(wall).alias("total"),
        F.count(F.lit(1)).over(wall).alias("d_count"),
    ).withColumn("budget", F.floor(F.col("total") * F.lit(_WATERFILL_BUDGET_FRAC)))
    d = d.withColumn(
        "saturated",
        F.col("tokens") * (F.col("d_count") - F.col("i") + 1) + F.col("cum_before")
        <= F.col("budget"),
    )
    d = d.select(
        "*",
        F.sum(F.when(F.col("saturated"), F.col("tokens")).otherwise(F.lit(0)))
        .over(wall)
        .alias("sat_sum"),
        F.sum(F.when(F.col("saturated"), 0).otherwise(1)).over(wall).alias("n_unsat"),
    )
    theta = (F.col("budget") - F.col("sat_sum")) / F.col("n_unsat").cast("double")
    alloc = F.when(F.col("saturated"), F.col("tokens").cast("double")).otherwise(theta)
    return d.select(
        "source",
        "tokens",
        "budget",
        "saturated",
        portable_round(alloc, 4).alias("alloc_tokens"),
        portable_round(
            alloc / F.nullif(F.col("tokens"), F.lit(0)).cast("double"), 4
        ).alias("sample_rate"),
    )


_WATERFILL_SQL = f"""
WITH dom AS (
  SELECT source,
         CAST(SUM(CASE WHEN trim(COALESCE(text, '')) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)
              AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
r AS (
  SELECT source, tokens,
         ROW_NUMBER() OVER (ORDER BY tokens, source) AS i,
         SUM(tokens) OVER (ORDER BY tokens, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens AS cum_before,
         SUM(tokens) OVER () AS total,
         COUNT(*) OVER () AS d_count
  FROM dom
),
s AS (
  SELECT *, CAST(floor(total * {_WATERFILL_BUDGET_FRAC}) AS BIGINT) AS budget,
         tokens * (d_count - i + 1) + cum_before
             <= CAST(floor(total * {_WATERFILL_BUDGET_FRAC}) AS BIGINT) AS saturated
  FROM r
),
agg AS (
  SELECT *,
         SUM(CASE WHEN saturated THEN tokens ELSE 0 END) OVER () AS sat_sum,
         SUM(CASE WHEN saturated THEN 0 ELSE 1 END) OVER () AS n_unsat
  FROM s
)
SELECT source, tokens, budget, saturated,
       floor((CASE WHEN saturated THEN CAST(tokens AS DOUBLE)
                   ELSE (budget - sat_sum) / CAST(n_unsat AS DOUBLE) END)
             * 10000.0 + 0.5) / 10000.0 AS alloc_tokens,
       floor((CASE WHEN saturated THEN CAST(tokens AS DOUBLE)
                   ELSE (budget - sat_sum) / CAST(n_unsat AS DOUBLE) END)
             / CAST(NULLIF(tokens, 0) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS sample_rate
FROM agg
"""

SPECS["token_budget_waterfill"] = QuerySpec(
    _token_budget_waterfill,
    _WATERFILL_SQL,
    "UniMax-style token-budget water-filling: closed-form saturation + uniform water level over domains",
)


# --- incremental span novelty: the ingest-time dedup decision -------------
# The question an incremental 100 TB ingest actually asks is not "which
# documents in the lake duplicate each other" (dup_substring_spans) but
# "how much of THIS incoming batch is already in the lake?"  Same
# content-defined window machinery; the batch's window hashes left-join
# the HISTORY's distinct window-hash set (an equi-join on a key whose
# cardinality grows with the lake — at scale the history side is a
# bucketed/Bloom-fronted table, cf. incremental_new_docs), and each batch
# doc reports how many of its windows are already known.  Split is the
# deterministic doc_id % 5 == 0 batch used by incremental_new_docs, so
# the two incremental operators describe the same delivery.


def _incremental_span_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _span_docs(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    history = docs.filter(F.col("doc_id") % 5 != 0)
    # single-consumer window tables — no persist needed on either side
    bwins = _span_windows(batch)
    known = (
        _span_windows(history)
        .select("h")
        .distinct()
        .withColumn("_known", F.lit(1))
    )
    agg = (
        bwins.join(known, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("_known"), F.lit(0))).alias("n_known"),
        )
    )
    return batch.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
        F.coalesce("n_known", F.lit(0)).cast("long").alias("n_known"),
        F.when(F.col("n_windows").isNull(), F.lit(None).cast("double"))
        .otherwise(
            portable_round(
                (F.col("n_windows") - F.col("n_known"))
                / F.col("n_windows").cast("double"),
                4,
            )
        )
        .alias("novelty_frac"),
    )


def _incremental_span_novelty_sql() -> str:
    return f"""
WITH base AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
{_span_wins_cte()},
known AS (SELECT DISTINCT h FROM wins WHERE doc_id % 5 != 0),
agg AS (
  SELECT w.doc_id, COUNT(*) AS n_windows,
         SUM(CASE WHEN known.h IS NOT NULL THEN 1 ELSE 0 END) AS n_known
  FROM wins w LEFT JOIN known ON w.h = known.h
  WHERE w.doc_id % 5 = 0
  GROUP BY w.doc_id
)
SELECT b.doc_id,
       CAST(COALESCE(a.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(COALESCE(a.n_known, 0) AS BIGINT) AS n_known,
       CASE WHEN a.n_windows IS NULL THEN NULL
            ELSE floor((a.n_windows - a.n_known) / CAST(a.n_windows AS DOUBLE)
                       * 10000.0 + 0.5) / 10000.0
       END AS novelty_frac
FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
WHERE b.doc_id % 5 = 0
"""


SPECS["incremental_span_novelty"] = QuerySpec(
    _incremental_span_novelty,
    _incremental_span_novelty_sql(),
    "ingest-time span novelty: batch window hashes vs the lake's known-hash set (no pair join)",
)


# --- duplicate-span REMOVAL: materialize the deduplicated corpus ----------
# dup_substring_spans MEASURES cross-document duplication; this operator
# performs the Lee et al. transformation itself: every duplicated span is
# cut out of every document except the span's OWNER (the minimum doc_id
# containing the window hash — deterministic, order-free), and the
# cleaned text is spliced back together.  The whole thing is relational:
#
# * removable window positions are an equi-join (window hash -> owner);
# * overlapping windows merge into maximal spans with the classic
#   ISLANDS pattern — because every window has the SAME width W, "next
#   position starts a new span" is simply p - lag(p) > W, so no
#   fold-with-array-surgery is needed, just a lag + running sum;
# * splicing is per-span kept-piece extraction (substring between the
#   previous span's end and this span's start — another lag) + an
#   ordered string_agg, with the tail after the last span appended.
#
# No floating point anywhere — positions and strings only — so the
# oracle compare is exact by construction.  At 100 TB every step is a
# groupBy/join on doc_id or the corpus-growing window hash.


def _dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W_

    W = _DUPSPAN_W
    docs = _span_docs(spark, sf_dir)
    # persisted: feeds BOTH the owners aggregate and the removable join —
    # unpinned, the per-position md5 Generate runs once per consumer
    # (code-review r8 finding; see _span_windows' docstring)
    wins = materialize(_span_windows(docs, with_pos=True), "span windows", "cache")
    owners = (
        wins.groupBy("h")
        .agg(
            F.min("doc_id").alias("owner"),
            F.count_distinct("doc_id").alias("nd"),
        )
        .filter(F.col("nd") >= 2)
        .select("h", "owner")
    )
    rem = (
        wins.join(owners, "h")
        .filter(F.col("doc_id") != F.col("owner"))
        .select("doc_id", "p")
        .distinct()
    )
    wp = W_.partitionBy("doc_id").orderBy("p")
    isl = rem.select(
        "doc_id",
        "p",
        F.when(F.col("p") - F.lag("p").over(wp) > W, 1).otherwise(0).alias("newi"),
    ).select(
        "doc_id",
        "p",
        F.sum("newi").over(wp.rowsBetween(W_.unboundedPreceding, 0)).alias("island"),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("p").alias("s"), (F.max("p") + W).alias("e")
    )
    ws = W_.partitionBy("doc_id").orderBy("s")
    pieces = spans.select(
        "doc_id",
        "s",
        "e",
        F.coalesce(F.lag("e").over(ws), F.lit(0)).alias("prev_e"),
    ).join(docs, "doc_id")
    agg = pieces.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).alias("removed_chars"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("s"),
                            F.expr("substring(t, prev_e + 1, s - prev_e)").alias(
                                "piece"
                            ),
                        )
                    )
                ),
                lambda x: x["piece"],
            ),
            "",
        ).alias("head"),
        F.max("e").alias("last_e"),
    )
    return (
        docs.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("removed_chars", F.lit(0)).cast("long").alias("removed_chars"),
            F.when(F.col("n_spans").isNull(), F.col("t"))
            .otherwise(
                F.concat(
                    F.col("head"),
                    F.expr("substring(t, last_e + 1, length(t) - last_e)"),
                )
            )
            .alias("cleaned"),
        )
    )


def _dup_span_removal_sql() -> str:
    W = _DUPSPAN_W
    return f"""
WITH base AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
{_span_wins_cte()},
owners AS (
  SELECT h, MIN(doc_id) AS owner FROM wins
  GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
rem AS (
  SELECT DISTINCT w.doc_id, w.p
  FROM wins w JOIN owners o ON w.h = o.h AND w.doc_id != o.owner
),
isl AS (
  SELECT doc_id, p,
         CASE WHEN p - LAG(p) OVER (PARTITION BY doc_id ORDER BY p) > {W}
              THEN 1 ELSE 0 END AS newi
  FROM rem
),
isl2 AS (
  SELECT doc_id, p,
         SUM(newi) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, MIN(p) AS s, MAX(p) + {W} AS e
  FROM isl2 GROUP BY doc_id, island
),
pieces AS (
  SELECT sp.doc_id, sp.s, sp.e,
         COALESCE(LAG(sp.e) OVER (PARTITION BY sp.doc_id ORDER BY sp.s), 0) AS prev_e,
         b.t
  FROM spans sp JOIN base b ON sp.doc_id = b.doc_id
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s) AS removed_chars,
         string_agg(substring(t, prev_e + 1, s - prev_e), '' ORDER BY s) AS head,
         MAX(e) AS last_e, MAX(t) AS t
  FROM pieces GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(a.removed_chars, 0) AS BIGINT) AS removed_chars,
       CASE WHEN a.n_spans IS NULL THEN b.t
            ELSE a.head || substring(b.t, a.last_e + 1, length(b.t) - a.last_e)
       END AS cleaned
FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
"""


SPECS["dup_span_removal"] = QuerySpec(
    _dup_span_removal,
    _dup_span_removal_sql(),
    "Lee et al. span removal: cut every duplicated span outside its owner doc, splice the cleaned text (pure relational islands + string_agg)",
)


# ---------------------------------------------------------------------------
# Temperature-scaled mixture weights (alpha = 1/2)


def _mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling weights over domains, w_i ∝ size_i^alpha with
    alpha = 1/2 — the standard multilingual/multi-domain rebalancing
    (mT5-style; the saturating variant is token_budget_waterfill).  Domain
    size is SUM(n_chars), the token proxy, so the weights are non-trivial
    on this corpus (doc counts are uniform by construction).

    alpha = 1/2 is chosen deliberately for the parity rules: size^0.5 =
    sqrt(BIGINT) is CORRECTLY-ROUNDED IEEE — both engines produce the
    bit-identical double, with no pow/exp/ln seam.  The normalizer Z =
    sum of 20 sqrt doubles IS order-sensitive at the ulp level, so both
    engines compute it as the running sum of an ORDER BY source window
    and take MAX (weights are positive, the running sum is monotone) —
    the token_budget_waterfill trick: engine independence at the
    implementation level, one pinned addition order at the arithmetic
    level.  The boost column (weight / natural share) is what a sampler
    multiplies per-domain sampling rates by; boost > 1 up-samples small
    domains.  The D-row window is driver-scale state (D = #domains),
    never corpus-scale."""
    docs = load_table(spark, sf_dir, "documents")
    sizes = docs.groupBy("source").agg(
        F.sum("n_chars").alias("n_chars_tot"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    w = sizes.withColumn("w_raw", F.sqrt(F.col("n_chars_tot")))
    win = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = w.withColumn("cum_w", F.sum("w_raw").over(win))
    z = cum.agg(
        F.max("cum_w").alias("z"),
        F.sum("n_chars_tot").alias("tot"),  # integer: order-free exact
    )
    share = F.col("n_chars_tot").cast("double") / F.col("tot").cast("double")
    weight = F.col("w_raw") / F.col("z")
    return (
        w.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_chars_tot",
            portable_round(weight, 4).alias("weight"),
            portable_round(weight / share, 4).alias("boost"),
        )
    )


_MIXTURE_TEMPERATURE_SQL = """
WITH sizes AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_chars_tot,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
w AS (SELECT *, sqrt(n_chars_tot) AS w_raw FROM sizes),
cum AS (
  SELECT *, SUM(w_raw) OVER (ORDER BY source
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w
  FROM w
),
z AS (SELECT MAX(cum_w) AS z, CAST(SUM(n_chars_tot) AS BIGINT) AS tot FROM cum)
SELECT source, n_docs, n_chars_tot,
       FLOOR(w_raw / z.z * 10000 + 0.5) / 10000 AS weight,
       FLOOR((w_raw / z.z) / (CAST(n_chars_tot AS DOUBLE) / CAST(z.tot AS DOUBLE))
             * 10000 + 0.5) / 10000 AS boost
FROM w, z
"""

SPECS["mixture_temperature"] = QuerySpec(
    _mixture_temperature,
    _MIXTURE_TEMPERATURE_SQL,
    "alpha=1/2 temperature mixture weights over domain token mass (pinned-order normalizer)",
)


def _epoch_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the temperature mixture into per-document REPEAT
    factors — the step a sampler actually executes.  Domain i's boost
    (weight_i / natural share, from mixture_temperature) is split into
    floor(boost) guaranteed epochs plus a fractional epoch realized by
    the deterministic md5 bucket coin every sampling op in this module
    uses (domain_mixture, train_test_split): doc repeats
    floor(boost) + [bucket < frac * 65536] times.  Per-domain realized
    mass then tracks boost * n_docs to within binomial noise while the
    whole plan stays reproducible bit-for-bit — shuffle-free sampling: a
    20-row broadcast join + per-row arithmetic, no corpus shuffle at
    all.  Unused repeats at 0 are retained (n_repeats = 0 rows document
    the down-sampled domains explicitly)."""
    docs = load_table(spark, sf_dir, "documents")
    mix = _mixture_temperature(spark, sf_dir).select("source", "boost")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
    )
    frac = F.col("boost") - F.floor(F.col("boost"))
    return (
        docs.select("doc_id", "source", bucket.alias("bucket"))
        .join(F.broadcast(mix), "source")
        .select(
            "doc_id",
            "source",
            (
                F.floor(F.col("boost")).cast("long")
                + (F.col("bucket") < frac * 65536).cast("long")
            ).alias("n_repeats"),
        )
    )


_EPOCH_REPEAT_SQL = f"""
WITH mix AS ({_MIXTURE_TEMPERATURE_SQL}),
d AS (
  SELECT doc_id, source, {_SQL_HEX4_MD5} AS bucket FROM documents
)
SELECT d.doc_id, d.source,
       CAST(FLOOR(m.boost) AS BIGINT)
         + CASE WHEN d.bucket < (m.boost - FLOOR(m.boost)) * 65536
                THEN 1 ELSE 0 END AS n_repeats
FROM d JOIN mix m ON d.source = m.source
"""

SPECS["epoch_repeat_plan"] = QuerySpec(
    _epoch_repeat_plan,
    _EPOCH_REPEAT_SQL,
    "temperature mixture materialized as deterministic per-doc repeat factors (floor + md5-coin fraction)",
)


# --- boilerplate stripping (CCNet/RefinedWeb preprocessing) ----------------
# line_dedup MEASURES cross-document repeated segments; this is the
# TRANSFORMATION: segments whose distinct-document frequency reaches the
# boilerplate bar (headers, licence blocks, nav chrome) are cut from
# EVERY document and the remaining text spliced back in order — unlike
# dup_span_removal there is no owner: boilerplate has no rightful home.
# Same disjoint 10-word segmentation as line_dedup (fixture text has no
# newlines); the tail words after the last full segment always survive.
#
# Scale shape: one explode to (doc, start, segment) rows, a distinct-doc
# frequency per fingerprint (corpus-growing key), a semi/anti join back,
# and a per-doc ordered string_agg — every join/group keys on doc_id or
# the segment hash; no pair join, no floating point anywhere, so the
# oracle compare is exact by construction.

_BP_DF = 3  # a segment in >= 3 distinct docs is boilerplate


def _boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io.sources import ensure_parallelism
    from ..operators.dedup import strip_boilerplate

    # spread before the segment explode + md5 pass (r16, guide §2.5 —
    # the single-file scan serialized the dominant map on one core);
    # all downstream aggregates are integer counts / the per-doc
    # ORDER BY start splice — order-free under repartitioning
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return strip_boilerplate(docs, seg_words=_SEG_WORDS, min_df=_BP_DF)


_BOILERPLATE_SQL = f"""
WITH base AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(COALESCE(text, '')), '\\s+', ' ', 'g')), ' ') AS ws
  FROM documents
),
b2 AS (SELECT doc_id, ws, len(ws) AS nw FROM base),
segs AS (
  SELECT doc_id, start,
         array_to_string(ws[start + 1 : start + {_SEG_WORDS}], ' ') AS seg
  FROM (
    SELECT doc_id, ws,
           unnest(generate_series(0, nw - {_SEG_WORDS}, {_SEG_WORDS})) AS start
    FROM b2 WHERE nw >= {_SEG_WORDS}
  )
),
fps AS (
  SELECT md5(seg) AS fp FROM segs
  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= {_BP_DF}
),
n_seg AS (SELECT doc_id, COUNT(*) AS n_segs FROM segs GROUP BY doc_id),
n_rm AS (
  SELECT doc_id, COUNT(*) AS n_removed
  FROM segs WHERE md5(seg) IN (SELECT fp FROM fps)
  GROUP BY doc_id
),
head AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY start) AS head
  FROM segs WHERE md5(seg) NOT IN (SELECT fp FROM fps)
  GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(COALESCE(s.n_segs, 0) AS BIGINT) AS n_segs,
       CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed,
       CASE WHEN b.nw < {_SEG_WORDS} THEN array_to_string(b.ws, ' ')
            ELSE trim(COALESCE(h.head, '') || ' ' ||
                 COALESCE(array_to_string(b.ws[b.nw - b.nw % {_SEG_WORDS} + 1 : b.nw], ' '), ''))
       END AS cleaned
FROM b2 b
LEFT JOIN n_seg s ON b.doc_id = s.doc_id
LEFT JOIN n_rm r ON b.doc_id = r.doc_id
LEFT JOIN head h ON b.doc_id = h.doc_id
"""


SPECS["boilerplate_strip"] = QuerySpec(
    _boilerplate_strip,
    _BOILERPLATE_SQL,
    f"strip segments appearing in >= {_BP_DF} docs (boilerplate) and splice the cleaned text",
)


# --- classifier calibration (reliability bins) ----------------------------
# The classifier-QA query a model-based filtering pipeline runs before
# trusting scores as sampling weights: bucket quality_classifier scores
# into deciles and compare mean predicted score vs the observed rate of
# the (independent) Gopher rule-based keep label per bin — the data
# behind a reliability diagram, and the per-bin |gap| that an expected-
# calibration-error (ECE) sums.  Both inputs are existing oracle-green
# queries composed in one plan; at scale this is two document scans and
# two doc-keyed aggregates joined on doc_id, then a 10-row rollup.
#
# FP discipline: scores are already on the 1e-4 grid (quality_classifier
# rounds), the bin is an integer floor of that grid value, observed rate
# is an exact integer ratio, and only mean_score (a float sum across the
# bin) needs portable_round; the gap subtracts two identical doubles.


def _classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    qc = _quality_classifier(spark, sf_dir).select("doc_id", "score")
    gf = _gopher_quality_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").cast("int").alias("label")
    )
    binned = qc.join(gf, "doc_id").select(
        F.least(F.lit(9), F.floor(F.col("score") * 10).cast("int")).alias(
            "bin"
        ),
        "score",
        "label",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            portable_round(F.avg("score"), 4).alias("mean_score"),
            portable_round(
                F.sum("label") / F.count(F.lit(1)), 4
            ).alias("obs_rate"),
        )
        .select(
            "bin",
            "n",
            "mean_score",
            "obs_rate",
            F.abs(F.col("mean_score") - F.col("obs_rate")).alias("gap"),
        )
    )


def _classifier_calibration_sql() -> str:
    return f"""
WITH qc AS ({_quality_classifier_sql()}),
gf AS ({_gopher_quality_filter_sql()}),
binned AS (
  SELECT LEAST(9, CAST(FLOOR(qc.score * 10) AS INTEGER)) AS bin,
         qc.score,
         CASE WHEN gf.keep THEN 1 ELSE 0 END AS label
  FROM qc JOIN gf ON qc.doc_id = gf.doc_id
),
agg AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         FLOOR(AVG(score) * 10000.0 + 0.5) / 10000.0 AS mean_score,
         FLOOR(SUM(label) / CAST(COUNT(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS obs_rate
  FROM binned GROUP BY bin
)
SELECT bin, n, mean_score, obs_rate, ABS(mean_score - obs_rate) AS gap
FROM agg
"""


SPECS["classifier_calibration"] = QuerySpec(
    _classifier_calibration,
    _classifier_calibration_sql(),
    "reliability bins: decile-bucketed classifier score vs observed Gopher keep rate (+|gap|)",
)


# --- curriculum ordering (quality-phased training manifest) ---------------
# shard_manifest fixes the training ORDER (md5 shuffle); curriculum
# training orders by QUALITY first: phase 1 = the cleanest tertile,
# trained first, then middle, then tail (anti-curriculum flips the
# phases — same machinery).  Within a phase the order is the md5
# shuffle, so batches stay i.i.d. inside a phase.  Both rankings are
# scale-safe two-pass (the ccnet/rank_family operator): the tertile
# buckets on the quality VALUE, the global sequence buckets on the
# (phase, md5-prefix) key — no single-task global window anywhere.


def _curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import global_rank_family
    from ..operators.textanalysis import quality_features

    docs = load_table(spark, sf_dir, "documents")
    q = quality_features("text")["quality_score"]
    scored = docs.select("doc_id", q.alias("q")).withColumn(
        "negq", -F.col("q")
    )
    tert = global_rank_family(
        scored,
        "negq",
        "doc_id",
        bucket=F.floor(F.col("negq") * 16).cast("int"),
        ntiles=3,
    ).select("doc_id", F.col("quartile").cast("int").alias("phase"))
    keyed = tert.select(
        "doc_id",
        "phase",
        F.concat(
            F.col("phase").cast("string"),
            F.lit(":"),
            F.md5(F.col("doc_id").cast("string")),
        ).alias("okey"),
    )
    seq = global_rank_family(
        keyed,
        "okey",
        "doc_id",
        bucket=F.substring("okey", 1, 4),
        ntiles=3,
    ).select("doc_id", F.col("rk").alias("seq"))
    return (
        keyed.join(seq, "doc_id")
        .select(
            "doc_id",
            "phase",
            F.col("seq").cast("long").alias("seq"),
            ((F.col("seq") - 1) % _SHARDS).cast("int").alias("shard"),
        )
    )


def _curriculum_order_sql() -> str:
    from .textanalysis import _quality_sql

    return f"""
WITH qf AS ({_quality_sql()}),
nt AS (
  SELECT doc_id, NTILE(3) OVER (ORDER BY -quality_score, doc_id) AS phase
  FROM qf
),
keyed AS (
  SELECT doc_id, phase,
         CAST(phase AS VARCHAR) || ':' || md5(CAST(doc_id AS VARCHAR)) AS okey
  FROM nt
),
sq AS (
  SELECT doc_id, phase,
         ROW_NUMBER() OVER (ORDER BY okey, doc_id) AS seq
  FROM keyed
)
SELECT doc_id, CAST(phase AS INTEGER) AS phase,
       CAST(seq AS BIGINT) AS seq,
       CAST((seq - 1) % {_SHARDS} AS INTEGER) AS shard
FROM sq
"""


SPECS["curriculum_order"] = QuerySpec(
    _curriculum_order,
    _curriculum_order_sql(),
    "curriculum training manifest: quality tertile phases, md5 order within phase, two-pass global ranks",
)


# --- dataset datasheet (per-source release report) ------------------------
# The "datasheets for datasets" rollup a corpus release ships: per
# source, volume (docs/tokens), quality (mean composite score), language
# mix (mode + its share), and exact-duplicate fraction.  One documents
# scan feeds three doc-keyed projections that partial-aggregate to
# |sources| rows; the lang mode is a min_by over per-(source, lang)
# counts (never a window); the dup fraction counts docs whose exact
# fingerprint repeats WITHIN the source (fingerprint-keyed aggregate,
# corpus-growing key).


def _dataset_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textanalysis import dataset_datasheet

    return dataset_datasheet(load_table(spark, sf_dir, "documents"))


def _dataset_datasheet_sql() -> str:
    from .textanalysis import _quality_sql

    return f"""
WITH qf AS ({_quality_sql()}),
per_doc AS (
  SELECT d.doc_id, d.source, d.lang, {_SQL_TOKENS} AS tokens,
         qf.quality_score AS q,
         md5(regexp_replace(trim(COALESCE(d.text, '')), '\\s+', ' ', 'g')) AS fp
  FROM documents d JOIN qf ON d.doc_id = qf.doc_id
),
base AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(tokens) AS BIGINT) AS total_tokens,
         FLOOR(AVG(q) * 10000 + 0.5) / 10000 AS mean_quality
  FROM per_doc GROUP BY source
),
lc AS (SELECT source, lang, COUNT(*) AS lc FROM per_doc GROUP BY 1, 2),
lang_mode AS (
  SELECT source, lang AS top_lang, lc AS top_lc FROM (
    SELECT source, lang, lc,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY lc DESC, lang) AS rk
    FROM lc
  ) WHERE rk = 1
),
dup AS (
  SELECT source,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS n_dup_docs
  FROM (SELECT source, fp, COUNT(*) AS c FROM per_doc GROUP BY 1, 2)
  GROUP BY source
)
SELECT b.source, b.n_docs, b.total_tokens, b.mean_quality,
       m.top_lang,
       FLOOR(m.top_lc / CAST(b.n_docs AS DOUBLE) * 10000 + 0.5) / 10000 AS top_lang_share,
       FLOOR(d.n_dup_docs / CAST(b.n_docs AS DOUBLE) * 10000 + 0.5) / 10000 AS exact_dup_frac
FROM base b JOIN lang_mode m ON b.source = m.source
JOIN dup d ON b.source = d.source
"""


SPECS["dataset_datasheet"] = QuerySpec(
    _dataset_datasheet,
    _dataset_datasheet_sql(),
    "per-source release datasheet: volume, mean quality, language mode + share, exact-dup fraction",
)


# --- composed LLM-curation pipeline (VERDICT r13 #6) ----------------------
# Every curation stage in the catalog is proven separately; THIS is the
# shape a real training-data pipeline actually runs — one end-to-end
# funnel, each stage consuming the previous stage's survivors:
#
#   0 corpus          documents + planted near-dups (the crawl shape:
#                     every 10th doc duplicated under id+1e6 with one
#                     appended token — the minhash_lsh_pairs convention,
#                     so the dedup stages demonstrably FIRE)
#   1 gopher          Gopher keep/drop rules (_gopher_frame — the shared
#                     definition with the standalone query)
#   2 exact_dedup     md5-fingerprint keep-first (min doc_id per fp)
#   3 neardup         MinHash-LSH pairs -> connected components -> keep
#                     the component's min doc_id (planted copies die here)
#   4 decontaminate   train-split survivors minus any doc sharing a
#                     5-gram with the ORIGINAL corpus's test split (the
#                     benchmark is defined on raw documents, not on the
#                     pipeline's own survivors)
#   5 mixture         per-source md5-bucket sampling (domain_mixture's
#                     deterministic keep rule)
#   6 packed          context-window packing of the final survivors
#                     (n_docs = number of 2048-token packs; n_tokens
#                     unchanged from stage 5 — packing preserves mass)
#
# Output: the funnel itself — (stage_id, stage, n_docs, n_tokens) — the
# observability frame a production pipeline emits per run; every stage's
# document count AND token mass is hash-checked against the oracle's
# recomputation of the identical composition (nested CTE chain from the
# stages' existing shared fragments).  Scale shape: each stage is the
# already-probed linear form (hash groupBy, banded equi-join, gram
# equi-join, md5 thresholds, bucketed prefix sum); the funnel aggregates
# are one pass per stage over persisted stage frames — exactly the
# materialize-between-stages discipline a 100 TB pipeline runs with.


def _curation_chain(spark: SparkSession, sf_dir: str) -> dict:
    """The stage chain docs0..docs5 built ONCE — the shared definition
    behind ``curation_pipeline`` (the funnel) and ``curation_attrition``
    (the per-reason removal report).  Returns every stage frame plus the
    intermediates attrition attributes removals to.  The stage frames
    it pins are released by the query scope once the caller's (small)
    output is materialized (io/materialize.py)."""
    from ..io.sources import ensure_parallelism, parquet_row_count
    from ..operators.dedup import (
        connected_components,
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_with_shingles,
    )
    from .similarity import _JACCARD_THRESHOLD

    # Planted-copy ids live at doc_id + 1e6 / + 2e6 (the minhash_lsh_pairs
    # convention).  The fixture convention (TESTDATA.md) is contiguous ids
    # 0..n-1, so the metadata-only row count IS the id range; a corpus at
    # or past 1M docs would silently collide planted ids with real ones —
    # at that scale derive the offsets from max(doc_id)+1 in BOTH engines
    # instead (ADVICE r14).
    n_corpus = parquet_row_count(sf_dir, "documents")
    assert n_corpus < 1_000_000, (
        f"planted-dup offsets (+1e6/+2e6) collide with real doc_ids at "
        f"{n_corpus} docs; derive offsets from max(doc_id)+1"
    )

    base = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    )
    planted_near = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" planteddup")).alias("text"),
        "source",
    )
    # verbatim copies so the EXACT stage demonstrably fires too (the
    # near-planted copies differ by one token and survive stage 2)
    planted_exact = base.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text", "source"
    )
    # r15 optimization (guide §2.3/§5 — compute once, don't re-derive):
    # the funnel and the attrition report both sum token_count over SIX
    # stage frames, and token_count is a full-text regex pass — the old
    # shape re-tokenized the corpus per stage row (measured: the three
    # 96-task docs0/docs1 scan stages were the largest in the funnel's
    # event log).  Tokenize ONCE on the augmented corpus, carry the int
    # column through every stage, and persist docs0 itself: its lineage
    # (3 parquet scans + union + tokenize) is re-evaluated by ~5
    # consumers (g build, stage rows 0-1, docs2 build, attrition joins).
    docs0 = (
        base.unionByName(planted_near)
        .unionByName(planted_exact)
        .withColumn("tokens", token_count("text"))
        .transform(materialize, "docs0", "cache")
    )

    # 1: Gopher quality rules (shared definition).  Persisted: the keep
    # filter and (in attrition) the per-rule reason split both read it.
    g = materialize(_gopher_frame(docs0), "gopher", "cache")
    docs1 = docs0.join(g.filter(F.col("keep")).select("doc_id"), "doc_id")

    # 2: exact dedup, keep-first by fingerprint.  r15: ONE exchange (a
    # row_number window on fp, ordered by the unique doc_id) instead of
    # the old groupBy(fp)+join-back-on-doc_id+join-on-fp shape — same
    # keep-first rows (min doc_id per fp == rn 1), two fewer shuffles
    # (guide §2.4).  The fate frame's s2 flag reads docs2 MEMBERSHIP
    # (r16) — the _rn == 1 filter below is the only consumer of the
    # window itself (exact-dup victims are the non-member docs1 rows).
    w_fp = Window.partitionBy(fingerprint_md5("text")).orderBy("doc_id")
    d1r = docs1.withColumn("_rn", F.row_number().over(w_fp))
    docs2 = (
        d1r.filter(F.col("_rn") == 1)
        .select("doc_id", "text", "source", "tokens")
        # consumers: LSH sets+sigs, the decontam gram arm, and the fate
        # frame's joins
        .transform(materialize, "docs2", "cache")
    )

    # 3: near-dup clusters, keep the component's min id.  combined is
    # the ONE persisted minhash materialization; the sig/shingle
    # projections inside the pair join read it from cache, so the
    # operators' internal caches are turned OFF (they would cache
    # duplicate copies — ADVICE r14).
    combined = materialize(
        minhash_with_shingles(
            docs2.select("doc_id", "text"), id_col="doc_id", text_col="text"
        ),
        "minhash",
        "cache",
    )
    pairs = jaccard_verify(
        lsh_candidate_pairs(
            combined.drop("shingles"), id_col="doc_id", persist_sigs=False
        ),
        combined.select("doc_id", "shingles"),
        id_col="doc_id",
        threshold=_JACCARD_THRESHOLD,
        persist_sets=False,
    )

    # 4: decontaminate the train split against the ORIGINAL test split.
    # The gram arm is computed over DOCS2's train split, not docs3's
    # (r16), which decouples it from the LSH/CC arm entirely.
    # FLAG-IDENTICAL: contaminated is only ever read through the fate
    # frame's s4 = s3 & _train & no-contam (and the attrition victim
    # chain, which tests !s1..!s3 first) — the extra members of the
    # docs2-train superset are exactly the s3-dead docs, for which s4
    # is False and the victim class is already decided by an earlier
    # when-branch, so no flag, count, or reason row changes.  The
    # oracle keeps its train3-based CTE for the same reason.
    test_grams = (
        # spread the single-file scan before the gram explode (§2.5 —
        # it otherwise runs the whole test-split ngram pass on 1 task)
        ensure_parallelism(
            load_table(spark, sf_dir, "documents").filter(
                _split_assign(F.col("doc_id")) == "test"
            )
        )
        .select(F.explode(_word_ngrams("text", _DECON_N)).alias("g"))
        .distinct()
    )
    train2 = docs2.filter(_split_assign(F.col("doc_id")) == "train")
    contaminated = (
        train2.select("doc_id", F.explode(_word_ngrams("text", _DECON_N)).alias("g"))
        .join(test_grams, "g")
        .select("doc_id")
        .distinct()  # the only distinct needed: the final doc_id set
        # absorbs within-doc gram multiplicity, so the old (doc_id, g)
        # pre-join distinct was a full extra exchange for nothing (r15)
        .transform(materialize, "contaminated", "cache")
    )
    labels = connected_components(pairs)
    # 5: per-source mixture sampling (domain_mixture's keep rule)
    rate = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(r))
            for s, r in _MIXTURE_RATES.items()
        ],
        F.lit(_MIXTURE_DEFAULT),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
    )
    mix_keep = bucket < rate * 65536

    # r15 "fate frame" (guide §2.3 — decide with small rows): ONE
    # narrow per-doc frame carrying every stage's survival flag, so the
    # funnel's 7 stage aggregates and the attrition report's 6 victim
    # classes each come from a SINGLE pass over it instead of one
    # aggregate scan per stage frame.  Flags replay the stage filters
    # exactly: s1 = gopher keep; s2 adds keep-first (_rn == 1); s3 adds
    # the near-dup component rule (no label or own-component min); s4
    # adds train-split membership and non-contamination; s5 adds the
    # mixture draw.  A doc dies at exactly ONE stage, so the victim
    # classes below partition the dead set (the property
    # test_curation_attrition_accounts_every_removal pins).  The heavy
    # full-text stage frames docs4/docs5 are no longer materialized at
    # all — packing reads (doc_id, tokens) off the fate frame.
    # s2 via docs2 MEMBERSHIP instead of re-joining d1r's window (r16,
    # guide §2.4): docs2 IS the _rn == 1 filter of the same window and
    # is already persisted, so the old d1r join re-ran the fingerprint
    # window (one exchange + sort over docs1) inside the fate job for a
    # flag the cache already encodes.  Identical values: every s1-true
    # doc is in docs1 (so old _rn was non-null there — _rn == 1 ⟺
    # docs2 membership), and for s1-false docs both forms collapse to
    # false under the s1 conjunction.
    fate = (
        docs0.select("doc_id", "tokens", "source")
        .join(g, "doc_id")
        .join(
            docs2.select("doc_id").withColumn("_in2", F.lit(True)),
            "doc_id",
            "left",
        )
        .join(
            labels.select(F.col("id").alias("doc_id"), "label"),
            "doc_id",
            "left",
        )
        .join(contaminated.withColumn("_contam", F.lit(True)), "doc_id", "left")
        .withColumn("_train", _split_assign(F.col("doc_id")) == "train")
        .withColumn("_mix", mix_keep)
        .withColumn("s1", F.col("keep"))
        .withColumn("s2", F.col("s1") & F.coalesce(F.col("_in2"), F.lit(False)))
        .withColumn(
            "s3",
            F.col("s2")
            & (F.col("label").isNull() | (F.col("label") == F.col("doc_id"))),
        )
        .withColumn(
            "s4", F.col("s3") & F.col("_train") & F.col("_contam").isNull()
        )
        .withColumn("s5", F.col("s4") & F.col("_mix"))
        .transform(materialize, "fate", "cache")
    )
    return {
        "docs0": docs0,
        "g": g,
        "docs1": docs1,
        "d1r": d1r,
        "docs2": docs2,
        "labels": labels,
        "contaminated": contaminated,
        "mix_keep": mix_keep,
        "fate": fate,
        "n_corpus": n_corpus,
    }


def _curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _curation_chain(spark, sf_dir)
    fate = c["fate"]

    # 6: context-window packing (the token_packing bucketed prefix sum;
    # width from the cheap parquet row count — stage-5 survivors ⊆
    # docs0's id range).  Reads (doc_id, tokens) off the fate frame —
    # the old full-text docs5 frame is never materialized (r15).
    width = max(100, -(-(c["n_corpus"] * 3) // 10_000))
    toks = fate.filter(F.col("s5")).select(
        "doc_id",
        "tokens",  # computed once on docs0 (r15: no re-tokenize)
        (F.col("doc_id") / width).cast("long").alias("bkt"),
    )
    w_in = Window.partitionBy("bkt").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    within = toks.withColumn("cum_in", F.sum("tokens").over(w_in))
    offsets = (
        toks.groupBy("bkt")
        .agg(F.sum("tokens").alias("btot"))
        .select(
            "bkt",
            F.coalesce(
                F.sum("btot").over(
                    Window.orderBy("bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("offset"),
        )
    )
    packed = within.join(F.broadcast(offsets), "bkt").select(
        F.floor(
            (F.col("offset") + F.col("cum_in") - F.col("tokens"))
            / F.lit(_PACK_BUDGET)
        ).alias("pack_id"),
        "tokens",
    )

    pack_row = packed.agg(
        F.count_distinct("pack_id").cast("long").alias("n_docs"),
        F.coalesce(F.sum("tokens"), F.lit(0)).cast("long").alias("n_tokens"),
    ).select(
        F.lit(6).cast("int").alias("stage_id"),
        F.lit("packed").alias("stage"),
        "n_docs",
        "n_tokens",
    )
    # stage rows 0-5 from ONE conditional aggregation over the fate
    # frame (r15): the old shape ran one aggregate scan per persisted
    # stage frame — six jobs over six frames for twelve numbers.  Same
    # counts/sums by construction (each flag replays its stage filter).
    names = [
        (0, "corpus", None),
        (1, "gopher", "s1"),
        (2, "exact_dedup", "s2"),
        (3, "neardup", "s3"),
        (4, "decontaminate", "s4"),
        (5, "mixture", "s5"),
    ]
    aggs = []
    for sid, _name, flag in names:
        cond = F.lit(True) if flag is None else F.col(flag)
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"c{sid}")
        )
        aggs.append(
            F.coalesce(F.sum(F.when(cond, F.col("tokens"))), F.lit(0))
            .cast("long")
            .alias(f"t{sid}")
        )
    wide = fate.agg(*aggs)
    stack = ", ".join(
        f"{sid}, '{name}', c{sid}, t{sid}" for sid, name, _ in names
    )
    funnel = wide.selectExpr(
        f"stack(6, {stack}) AS (stage_id, stage, n_docs, n_tokens)"
    ).select(
        F.col("stage_id").cast("int").alias("stage_id"),
        "stage",
        "n_docs",
        "n_tokens",
    ).unionByName(pack_row)
    return funnel.orderBy("stage_id")


def _curation_chain_ctes_sql() -> str:
    """The docs0..docs5 CTE chain — the oracle twin of
    ``_curation_chain``, shared verbatim by the ``curation_pipeline``
    and ``curation_attrition`` oracles (one definition, no drift).
    Callers prepend ``WITH RECURSIVE`` (the connected-components reach
    CTE needs it) and append their own SELECT."""
    from .pipeline import _SQL_FINGERPRINT
    from .similarity import _sql_minhash_cols, _sql_shingle_cte

    fpx = _SQL_FINGERPRINT.format(c="text")
    gram5 = (
        f"CASE WHEN len(w) >= {_DECON_N} "
        f"THEN list_transform(generate_series(1, len(w) - {_DECON_N} + 1), "
        f"i -> array_to_string(list_slice(w, i, i + {_DECON_N} - 1), ' ')) "
        f"ELSE list_value(array_to_string(w, ' ')) END"
    )
    jac = (
        "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / "
        "(len(sa.shingles) + len(sb.shingles) "
        "- len(list_intersect(sa.shingles, sb.shingles)))"
    )
    from .similarity import _JACCARD_THRESHOLD

    return f"""docs0 AS MATERIALIZED (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' planteddup' AS text, source
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text, source
  FROM documents WHERE doc_id % 20 = 0
),
g AS MATERIALIZED ({_gopher_quality_filter_sql(src="docs0")}),
docs1 AS MATERIALIZED (
  SELECT d.doc_id, d.text, d.source
  FROM docs0 d JOIN g USING (doc_id) WHERE g.keep
),
fp AS MATERIALIZED (SELECT doc_id, {fpx} AS fp FROM docs1),
keepers AS MATERIALIZED (SELECT fp, MIN(doc_id) AS keep_id FROM fp GROUP BY fp),
docs2 AS MATERIALIZED (
  SELECT d.doc_id, d.text, d.source
  FROM docs1 d JOIN fp USING (doc_id) JOIN keepers USING (fp)
  WHERE d.doc_id = keepers.keep_id
),
t AS MATERIALIZED ({_sql_shingle_cte(table="docs2")}),
sig AS MATERIALIZED (SELECT doc_id, shingles, {_sql_minhash_cols()} FROM t),
banded AS MATERIALIZED (
  SELECT doc_id, 0 AS band, md5(mh_0 || mh_1 || mh_2 || mh_3) AS key FROM sig
  UNION ALL SELECT doc_id, 1, md5(mh_4 || mh_5 || mh_6 || mh_7) FROM sig
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
pairs AS MATERIALIZED (
  SELECT id_a, id_b
  FROM cand
  JOIN sig sa ON cand.id_a = sa.doc_id
  JOIN sig sb ON cand.id_b = sb.doc_id
  WHERE ROUND({jac}, 4) >= {_JACCARD_THRESHOLD}
),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
labels AS MATERIALIZED (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster
  FROM reach GROUP BY src
),
docs3 AS MATERIALIZED (
  SELECT d.doc_id, d.text, d.source
  FROM docs2 d LEFT JOIN labels l USING (doc_id)
  WHERE l.cluster IS NULL OR l.cluster = d.doc_id
),
train3 AS MATERIALIZED (
  SELECT * FROM docs3 WHERE {_SQL_HEX4_MD5} % 10 < 8
),
testg AS MATERIALIZED (
  SELECT DISTINCT g FROM (
    SELECT unnest({gram5}) AS g FROM (
      SELECT string_split({_SQL_NORM_TEXT}, ' ') AS w
      FROM documents WHERE {_SQL_HEX4_MD5} % 10 >= 9
    )
  )
),
traing AS MATERIALIZED (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest({gram5}) AS g FROM (
      SELECT doc_id, string_split({_SQL_NORM_TEXT}, ' ') AS w FROM train3
    )
  )
),
contaminated AS MATERIALIZED (SELECT DISTINCT t.doc_id FROM traing t JOIN testg USING (g)),
docs4 AS MATERIALIZED (
  SELECT * FROM train3
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
),
docs5 AS MATERIALIZED (
  SELECT * FROM docs4 WHERE {_SQL_HEX4_MD5} < ({_mixture_rate_sql()}) * 65536
)"""


def _curation_pipeline_sql() -> str:
    tok = _SQL_TOKENS
    return f"""
WITH RECURSIVE {_curation_chain_ctes_sql()},
packt AS MATERIALIZED (
  SELECT doc_id, {tok} AS tokens,
         SUM({tok}) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM docs5
),
packs AS MATERIALIZED (
  SELECT CAST(floor((cum - tokens) / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id,
         tokens
  FROM packt
)
SELECT 0 AS stage_id, 'corpus' AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM({tok}), 0) AS BIGINT) AS n_tokens FROM docs0
UNION ALL
SELECT 1, 'gopher', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM({tok}), 0) AS BIGINT) FROM docs1
UNION ALL
SELECT 2, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM({tok}), 0) AS BIGINT) FROM docs2
UNION ALL
SELECT 3, 'neardup', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM({tok}), 0) AS BIGINT) FROM docs3
UNION ALL
SELECT 4, 'decontaminate', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM({tok}), 0) AS BIGINT) FROM docs4
UNION ALL
SELECT 5, 'mixture', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM({tok}), 0) AS BIGINT) FROM docs5
UNION ALL
SELECT 6, 'packed', CAST(COUNT(DISTINCT pack_id) AS BIGINT),
       CAST(COALESCE(SUM(tokens), 0) AS BIGINT) FROM packs
ORDER BY stage_id
"""


SPECS["curation_pipeline"] = QuerySpec(
    _curation_pipeline,
    _curation_pipeline_sql(),
    "end-to-end LLM curation funnel: planted-dup corpus -> gopher -> "
    "exact dedup -> minhash near-dup clusters -> test-split "
    "decontamination -> mixture sampling -> context-window packing; "
    "output = per-stage (n_docs, n_tokens) funnel",
)


# --- curation removal attribution (VERDICT r14 #6) -------------------------
# The funnel says how many docs survived each stage; a production
# curation report also says WHY the dead ones died — which Gopher rule,
# exact vs near dup class, split exclusion vs benchmark contamination,
# mixture downsampling — because that's the number a data engineer
# tunes against (raise a Gopher threshold, widen a mixture rate).  The
# stage chain already computes every feature; this query re-reads the
# SAME ``_curation_chain`` frames and emits (stage_id, stage, reason,
# n_docs, n_tokens) per removal class:
#   1 gopher         the FIRST failing rule in a fixed precedence
#                    (word_count -> mean_word_len -> stop_words ->
#                    top_word_frac) — deterministic single attribution
#   2 exact_dedup    'exact_dup' (doc_id != its fingerprint's keep_id)
#   3 neardup        'near_dup' (non-minimum member of a component)
#   4 decontaminate  'not_train_split' (val/test docs leave the train
#                    corpus) and 'contaminated' (train docs sharing a
#                    5-gram with the test split)
#   5 mixture        'mixture_sampled' (md5-bucket above the source rate)
# Stage-1 rows appear only for rules that fired (GROUP BY reason);
# stages 2-5 are constant-reason aggregates and always emit one row
# (0-count when nothing died — both engines agree on both shapes).
# Cost: rides the shared chain (each stage linear, the same persisted
# frames), plus |victims|-sized aggregates — nothing beyond the funnel.


def _curation_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _curation_chain(spark, sf_dir)

    reason1 = (
        F.when(
            ~F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS),
            "word_count",
        )
        .when(
            ~F.col("mean_word_len").between(
                _GOPHER_MEAN_LEN_LO, _GOPHER_MEAN_LEN_HI
            ),
            "mean_word_len",
        )
        .when(F.col("stop_hits") < _GOPHER_MIN_STOP_HITS, "stop_words")
        .otherwise("top_word_frac")
    )
    # r15: every victim class is a predicate over the fate frame's
    # flags, so the whole report is ONE grouped aggregation over it
    # (the old shape ran six separate aggregate jobs over six stage
    # frames).  A doc dies at exactly one stage, so the classes
    # partition the dead set — same rows as the old per-stage filters:
    #   !s1                      -> gopher, per-rule reason (precedence)
    #   s1 & !s2 (_rn > 1)       -> exact_dup
    #   s2 & !s3                 -> near_dup
    #   s3 & !_train             -> not_train_split
    #   s3 & _train & contam     -> contaminated
    #   s4 & !s5                 -> mixture_sampled
    fate = c["fate"]
    victim = (
        F.when(~F.col("s1"), F.struct(F.lit(1).alias("sid"), F.lit("gopher").alias("stage"), reason1.alias("reason")))
        .when(~F.col("s2"), F.struct(F.lit(2).alias("sid"), F.lit("exact_dedup").alias("stage"), F.lit("exact_dup").alias("reason")))
        .when(~F.col("s3"), F.struct(F.lit(3).alias("sid"), F.lit("neardup").alias("stage"), F.lit("near_dup").alias("reason")))
        .when(~F.col("_train"), F.struct(F.lit(4).alias("sid"), F.lit("decontaminate").alias("stage"), F.lit("not_train_split").alias("reason")))
        .when(~F.col("s4"), F.struct(F.lit(4).alias("sid"), F.lit("decontaminate").alias("stage"), F.lit("contaminated").alias("reason")))
        .when(~F.col("s5"), F.struct(F.lit(5).alias("sid"), F.lit("mixture").alias("stage"), F.lit("mixture_sampled").alias("reason")))
    )
    grouped = (
        fate.withColumn("_v", victim)
        .filter(F.col("_v").isNotNull())
        .groupBy(
            F.col("_v.sid").cast("int").alias("stage_id"),
            F.col("_v.stage").alias("stage"),
            F.col("_v.reason").alias("reason"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        )
    )
    # the old per-class const_row aggregates emitted a 0-count row even
    # for an EMPTY class (agg with no groupBy), while the gopher stage
    # was a groupBy (absent classes stay absent) — replay that exactly:
    # left-join the five fixed classes and coalesce to 0
    const_classes = local_rows(
        spark,
        [
            (2, "exact_dedup", "exact_dup"),
            (3, "neardup", "near_dup"),
            (4, "decontaminate", "not_train_split"),
            (4, "decontaminate", "contaminated"),
            (5, "mixture", "mixture_sampled"),
        ],
        "stage_id int, stage string, reason string",
    )
    report = grouped.filter(F.col("stage_id") == 1).unionByName(
        const_classes.join(
            F.broadcast(grouped.filter(F.col("stage_id") > 1)),
            ["stage_id", "stage", "reason"],
            "left",
        ).select(
            "stage_id",
            "stage",
            "reason",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        )
    )
    return report.orderBy("stage_id", "reason")


def _curation_attrition_sql() -> str:
    tok = _SQL_TOKENS
    agg = (
        "CAST(COUNT(*) AS BIGINT) AS n_docs,\n"
        f"       CAST(COALESCE(SUM({tok}), 0) AS BIGINT) AS n_tokens"
    )
    return f"""
WITH RECURSIVE {_curation_chain_ctes_sql()}
SELECT 1 AS stage_id, 'gopher' AS stage, reason, {agg}
FROM (
  SELECT d.doc_id, d.text,
         CASE WHEN NOT (g.n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
              THEN 'word_count'
              WHEN NOT (g.mean_word_len BETWEEN {_GOPHER_MEAN_LEN_LO} AND {_GOPHER_MEAN_LEN_HI})
              THEN 'mean_word_len'
              WHEN g.stop_hits < {_GOPHER_MIN_STOP_HITS} THEN 'stop_words'
              ELSE 'top_word_frac' END AS reason
  FROM docs0 d JOIN g USING (doc_id) WHERE NOT g.keep
) GROUP BY reason
UNION ALL
SELECT 2, 'exact_dedup', 'exact_dup', {agg}
FROM (
  SELECT d.doc_id, d.text
  FROM docs1 d JOIN fp USING (doc_id) JOIN keepers USING (fp)
  WHERE d.doc_id <> keepers.keep_id
)
UNION ALL
SELECT 3, 'neardup', 'near_dup', {agg}
FROM (
  SELECT d.doc_id, d.text
  FROM docs2 d JOIN labels l USING (doc_id)
  WHERE l.cluster <> d.doc_id
)
UNION ALL
SELECT 4, 'decontaminate', 'not_train_split', {agg}
FROM (SELECT doc_id, text FROM docs3 WHERE NOT ({_SQL_HEX4_MD5} % 10 < 8))
UNION ALL
SELECT 4, 'decontaminate', 'contaminated', {agg}
FROM (SELECT t3.doc_id, t3.text FROM train3 t3 JOIN contaminated USING (doc_id))
UNION ALL
SELECT 5, 'mixture', 'mixture_sampled', {agg}
FROM (
  SELECT doc_id, text FROM docs4
  WHERE NOT ({_SQL_HEX4_MD5} < ({_mixture_rate_sql()}) * 65536)
)
ORDER BY stage_id, reason
"""


SPECS["curation_attrition"] = QuerySpec(
    _curation_attrition,
    _curation_attrition_sql(),
    "curation removal attribution: per (stage, reason) doc/token counts "
    "of what each funnel stage dropped — first-failing Gopher rule, "
    "exact vs near dup, split exclusion vs contamination, mixture "
    "downsampling — off the same shared stage chain as the funnel",
)
