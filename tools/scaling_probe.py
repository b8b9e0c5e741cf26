"""Per-query timing probe: times named catalog queries, or a wave of
them, at the fixture scale or at 1x/4x/16x replicas of it.

Each run is an op of ``perfbench/spans.py``'s ``Tracer``, in three
phases: ``build`` (the catalog call, eager jobs included), ``plan``
(``executedPlan()``) and ``action`` (a noop write).  The Spark event log
is on (a temp dir, removed at exit); once the session stops, spans'
event-log join gives one JSON line per query and scale: phase seconds,
eager jobs, jobs, stages, tasks, busy cores, shuffle and spill.  Each
query is warmed up once, untimed, on ``warmup_dir`` of its first dir.
``SMVD_IVF_MEMO=0``: every number is unamortized (bench.py amortizes).

Named queries run at ``$SPARK_GRAFT_SF_DIR`` unless ``--scales`` is
given; a wave (wave 1 when no query is named) runs at 1x/4x/16x unless
``--scales`` says otherwise.  Replicas of the base scale live under a
dir keyed by the base, with doc_id/vec_id offset per replica so keys
stay unique; each replica's text is decorrelated and its embedding
ROTATED by the replica index (norm-preserving, cosine ~0 against the
original), so near-dup/similarity DENSITY stays constant per capita.
A stack of IDENTICAL rows grows the true near-dup output quadratically
and measures the data, not the plan: the first run of this probe
"found" embedding_neardup going 8.5x on 4x data that way.  A scale-safe
plan grows ~linearly modulo fixed job overhead.

Usage: python tools/scaling_probe.py [--runs=N] [--scales=1,4,16 | --wave=W] q1 q2 ...
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.append(os.path.join(REPO, "perfbench"))  # spans

from signal_messenger_vector_database_spark.io.sources import DEFAULT_SF_DIR  # noqa: E402

# the scale the probes time and replicate: $SPARK_GRAFT_SF_DIR, else
# bench.py's default sf0.1 beside the default fixture dir
BASE = os.environ.get(
    "SPARK_GRAFT_SF_DIR", os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.1")
)
WORK = "/tmp/smvd_scaling_probe"


def replica_root(work: str) -> str:
    """``work``'s subdirectory for replicas of BASE: keyed by the base
    dir, so a cached replica of one base never serves a run on another."""
    base = os.path.abspath(BASE)
    digest = hashlib.md5(base.encode()).hexdigest()[:8]
    return os.path.join(work, f"{os.path.basename(base)}-{digest}")


# (query name, tables it reads) — documents/embeddings only, so the probe
# replicates just those.
PROBES = [
    "exact_dedup",
    "gopher_quality_filter",
    "dsir_weights",
    "ccnet_buckets",
    "minhash_lsh_pairs",
    "simhash",
    "line_dedup",
    "token_packing",
    "tokenize",
    "quality_score",
    "topk_cosine",
    "topk_ivf_pq",
    "semdedup",
    "embedding_neardup_lsh",
]

# second wave: the remaining pair-generating / index-building text ops
# (documents-only, so the same replicas serve).  Selected via
# --wave=2; kept separate because several have candidate volumes that
# depend on vocabulary richness, which fixture scrambling cannot grow.
PROBES_WAVE2 = [
    "ngram_jaccard_pairs",
    "shingle_containment",
    "sorted_neighborhood",
    "decontaminate",
    "tfidf_top_terms",
    "bm25_topk",
    "quality_classifier",
    "repetition_score",
    "neardup_clusters",
]

# fourth wave: TPC-H relational shapes.  Facts (orders, lineitem)
# replicate with a consistent o_orderkey/l_orderkey offset; dimensions
# (customer, supplier, part, nation, region) stay FIXED — the realistic
# warehouse growth pattern, and exactly the regime where broadcast joins
# must stay broadcast.
PROBES_WAVE4 = [
    "pricing_summary",
    "region_rollup",
    "topk_per_group",
    "order_stats",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q10_returned_items",
    "q19_bracket_revenue",
    "q18_large_orders",
    "q21_waiting_supplier",
    "rank_family",
    "rank_family_ties",
    "cube_agg",
    "semi_anti_join",
    "skew_salted_join",
]

# fifth wave: graph (edges from the replicated TPC-H facts), the
# Python-boundary ingest pipeline, PQ/embedding transforms, and the
# remaining train-data prep ops.
PROBES_WAVE5 = [
    "pagerank3_shuffle",
    "triangle_count",
    "bfs_khops",
    "ingest_pipeline",
    "mock_embed",
    "chunk_explode",
    "pq_encode",
    "pq_encode_trained",
    "kmeans_fit_assign",
    "embedding_covariance",
    "random_projection",
    "hybrid_rrf",
    "inverted_index",
    "feature_hashing",
    "dedup_keep_first",
    "incremental_new_docs",
    "train_test_split",
    "domain_mixture",
    "pii_redact",
    "length_buckets",
    "chunk_overlap",
]

# eighth wave: r8 additions — the content-anchored substring-span dedup
# (expected LINEAR: window table ~n_chars/8 rows, groupBy/join on a hash
# whose cardinality grows with the corpus, no pair join) and the PQ
# shortlist re-rank (expected flat-ish: ADC scan linear, re-rank fixed
# at 100 candidates).
PROBES_WAVE8 = [
    "dup_substring_spans",
    "topk_pq_rerank",
    "bpe_train",
    "dedup_quality_keep",
    "token_budget_waterfill",
    "incremental_span_novelty",
    "dup_span_removal",
]

# ninth wave: r8 second-batch additions.  simhash_hamming_pairs is the
# one to watch: its (band, val) equi-key has FIXED cardinality (16
# values/band at the fixture's 4x4 geometry), so by the audit rule its
# candidate volume grows ~n^2/16 — the measurement documents the
# fixture geometry's ceiling; the production answer is widening the
# fingerprint (64-bit -> 65k buckets/band), not a different algorithm.
# knn_graph_ivf is cluster-fenced with FIXED k=8 at fixture geometry —
# also expected super-linear here, bounded at scale by k ~ n/target
# (the semdedup scaling rule).  rollup_incremental / mixture_temperature
# are plain aggregates, expected linear/flat.
PROBES_WAVE9 = [
    "simhash_hamming_pairs",
    "simhash_hamming_pairs_w32",
    "knn_graph_ivf",
    "rollup_incremental",
    "mixture_temperature",
    "epoch_repeat_plan",
]

# tenth wave: r8 third-batch additions (retrieval eval + tokenizer fit).
# ann_recall_at_k: the exact ground-truth arm is O(n * |Q|) with |Q|
# FIXED (<= 20 anchors at any corpus size — the anchor predicate pins
# vec_id < 2000), and the approx arm is cluster-fenced under the
# k ~ n/125 rule, so both arms are expected LINEAR; the per-anchor
# top-k is two-phase so no single qid partition ever sees all n rows.
# hard_negative_mining shares the fenced candidate build (linear).
# vocab_coverage shuffles |vocab| rows (word-keyed partial aggregate),
# then one broadcast join + groupBy(doc_id): expected linear.
PROBES_WAVE10 = [
    "ann_recall_at_k",
    "hard_negative_mining",
    "vocab_coverage",
]

# eleventh wave: r8 fourth-batch curation/eval ops.  ndcg_eval: the
# ranking windows run over 10-row LIMITed sets; the BM25 posting is
# filtered to |q|=3 terms — expected flat-ish (the corpus-side work is
# the normalize+explode scan).  centroid_outlier_prune: linear scan +
# a value histogram bounded at 20001 rows/label — expected linear.
# boilerplate_strip: same segment explode as line_dedup plus an ordered
# per-doc string_agg — expected linear (no pair join; the hot set keys
# on a corpus-growing hash).
PROBES_WAVE11 = [
    "ndcg_eval",
    "centroid_outlier_prune",
    "boilerplate_strip",
    # sketch_quantiles: expected flat — the exchange carries <= 256 bins
    # per (group, map task), the mergeable-sketch shape (hll_distinct)
    "sketch_quantiles",
    # classifier_calibration: two doc-keyed aggregates + a 10-row rollup
    # — expected linear in the corpus scan
    "classifier_calibration",
    # ivf_maintenance: broadcast argmin assignment (linear n*k with the
    # scaled-k rule) + k-row integer flags — expected linear
    "ivf_maintenance",
    # ivf_hier_quality: runs BOTH assignments (flat n*k + two-level
    # n*(ns + nprobe*k/ns)) — the flat arm dominates, expected to track
    # ivf_maintenance's n*k growth; the hier arm alone is the escape
    "ivf_hier_quality",
    # ann_ivf_hier: search through the two-level index — hier assignment
    # only (no flat arm), expected to grow slower than ivf_maintenance
    "ann_ivf_hier",
]

# twelfth wave: the retrieval-stack completion + multimodal resize.
# tfidf_cosine_topk: the doc-norm pass is the inverted_index shape
# (vocabulary-keyed df join + doc-keyed aggregate) — expected linear.
# hybrid_rrf3: three LIMITed arms + a <=3k-row fusion join — linear in
# the shared corpus passes.  multimodal_resize: one Arrow crossing,
# linear.
PROBES_WAVE12 = [
    "tfidf_cosine_topk",
    "hybrid_rrf3",
    "multimodal_resize",
    # curriculum_order: two two-pass global rankings (value/prefix
    # buckets) — expected linear; dataset_datasheet: three doc-keyed
    # partial-aggregated projections to |sources| rows — expected linear
    "curriculum_order",
    "dataset_datasheet",
    # embedding_drift: two (label,pos) partial-aggregated centroid
    # shuffles + a |labels|-row cosine — expected linear
    "embedding_drift",
    # pq_recall_at_k / pq_recall_trained: ADC scans + a fixed-size exact
    # arm; the trained variant adds the one-Lloyd-round build (n x 128
    # subvector-codeword pairs, broadcast codebooks) — expected linear
    "pq_recall_at_k",
    "pq_recall_trained",
]

# thirteenth wave (r9): the two-level-assignment rewiring + the r9
# additions.  semdedup / knn_graph_ivf / ivf_maintenance /
# ann_recall_at_k / hard_negative_mining now run ivf_assign_hier
# (n*(1+nprobe)*sqrt(k)) instead of flat n*k — ivf_maintenance's r8
# wave-11 16x point (4.0x, the n*k term surfacing) is the number this
# wave must pull back toward flat.  semdedup_trained is the retained
# kmeans arm (3*n*k by design — its super-linear growth is the
# DOCUMENTED cost of trained centroids, not a regression).
# pq_operating_point / topk_ivf_pq_trained: Lloyd rounds are linear
# scans against broadcast codebooks — expected linear.
# simhash_hamming_pairs_w64: 65,536 bucket values per band, so bucket
# population is n/65k — the verify join should be FLAT at 16x (the
# geometry rule's payoff; contrast the 16-bit wave-9 quadratic).
# stream_ingest_index: per-batch work is O(batch) with a broadcast
# 8-row centroid join — expected linear in the drained volume.
PROBES_WAVE13 = [
    "semdedup",
    "semdedup_trained",
    "knn_graph_ivf",
    "ivf_maintenance",
    "ann_recall_at_k",
    "hard_negative_mining",
    "pq_operating_point",
    "topk_ivf_pq_trained",
    "simhash_hamming_pairs_w64",
    "stream_ingest_index",
]

# wave 17 (r10): the new entries under the capped-fence default.
# ivf_pq_operating_curve: the five-arm nprobe sweep — dominated by the
# trained-PQ build (probed linear in wave 13) plus the 'all' arm's full
# ADC scan; expected ~linear.  The capped defaults (semdedup,
# knn_graph_ivf) re-probe on i.i.d. replicas so the i.i.d. growth of
# the NEW default is on record next to wave 14's skew numbers; the
# uncapped baselines ride along for the delta.
PROBES_WAVE17 = [
    "ivf_pq_operating_curve",
    "semdedup",
    "knn_graph_ivf",
    "semdedup_uncapped",
    "knn_graph_uncapped",
]

# wave 18 (r10, late): the clustered-corpus serving curve + the bitext
# miner.  Replicas keep lang/source, so the topic count stays ~100
# while every topic grows k-fold — the clustered assignment is n x 32
# exact d2 (linear), candidates grow linearly per probed cell,
# shortlists/ground truth are two-phase top-k over 5 frozen queries;
# the bitext miner rides the same capped (cluster, sub) fence as the
# knn default, so its candidate volume is bounded by construction.
# Expect ~linear for both.
PROBES_WAVE18 = [
    "ivf_recall_clustered",
    "bitext_margin_pairs",
    "bitext_mining_eval",
]

# wave 20 (r11): the x64 grid extended beyond the IVF family (VERDICT
# r10 #7) — the corpus-derived simhash width rule's first x64 exercise
# (the geometry should step 24 -> 56 bits between x16 and x64), the
# content-defined-window substring dedup, and the banded MinHash join —
# plus the new composed residual serving curve.
PROBES_WAVE20 = [
    "simhash_hamming_pairs_auto",
    "dup_substring_spans",
    "minhash_lsh_pairs",
    "ivf_pq_clustered_curve",
]

# wave 20b: the two wave-20 probes the first x64 run's timeout cut
PROBES_WAVE20B = [
    "minhash_lsh_pairs",
    "ivf_pq_clustered_curve",
]

# wave 20c: simhash on the SUBSTITUTED-vocabulary replicas (see
# build_scaled_subst) — the plan's growth with the k^2 replica-family
# near-dup signal removed.  Probes in SUBST_PROBES read the s{k} dirs.
PROBES_WAVE20C = [
    "simhash_hamming_pairs_auto",
]
SUBST_PROBES = {"simhash_hamming_pairs_auto"}

# wave 28 (r14): the composed curation funnel — seven stages end to
# end (gopher -> exact dedup -> LSH near-dup + connected components ->
# decontaminate -> mixture -> packing).  Every stage was probed
# separately in earlier waves; this measures the COMPOSITION (persist
# points, the CC driver loop, the 7 funnel aggregates) as one unit.
PROBES_WAVE28 = [
    "curation_pipeline",
]

# sixth wave: stateful Structured Streaming drains (AvailableNow over
# the replicated events directory; slower — each query builds a
# checkpoint).  First run of this wave caught the glob-arm silent empty
# drain on directory-shaped tables (see SCALING.md).
PROBES_WAVE6 = [
    "stream_windowed_counts",
    "stream_dedup_counts",
    "stream_sessionize",
]

# seventh wave: everything not yet probed — the remaining TPC-H
# q-series, the distributive-stats family, OLAP/advanced shapes, and
# time-series fills.  Shapes repeat proven-flat families; the wave is
# cheap and makes the program's coverage claim near-total.
PROBES_WAVE7 = [
    "q2_min_price", "q4_priority_exists", "q6_revenue_delta",
    "q7_nation_volume", "q8_market_share", "q9_nation_profit",
    "q11_value_share", "q12_priority_classes", "q13_order_distribution",
    "q14_promo_effect", "q15_top_supplier", "q16_supplier_variety",
    "q17_small_quantity", "q20_part_promotion", "q22_dormant_customers",
    "correlated_subquery", "ols_regression", "zscore_outliers",
    "mad_outliers", "winsorized_stats", "zipf_fit", "table_stats",
    "dq_audit", "deletion_audit", "upsert_latest", "date_spine_fill",
    "locf_fill", "dense_ids", "array_set_ops", "variant_props",
    "json_props", "unpivot_metrics", "rollup_agg", "grouping_sets_agg",
    "percentile_summary", "price_histogram", "user_trend",
    "first_touch_attribution", "weighted_sample", "cumulative_distinct",
    "nullsafe_join", "interval_join", "interval_join_binned",
    "hex_project", "explode_outer_words", "lateral_topk",
]

# third wave: events-table time-series/sessionization ops.  Replicas
# shift user_id (so the user population scales and per-user windows stay
# constant-size) and event_id; timestamps are untouched, so temporal
# density grows with scale — the realistic high-traffic regime.
PROBES_WAVE3 = [
    "asof_join",
    "window_range_frame",
    "sessionize",
    "event_funnel",
    "retention_cohorts",
    "ewma_per_user",
    "scd2_intervals",
    "cusum_drift",
    "hll_distinct",
    "cms_heavy_hitters",
    "markov_transitions",
    "assoc_rules",
]


def build_scaled_subst(spark, k: int) -> str:
    """Documents-only replicas with SUBSTITUTED vocabulary: rep > 0
    replaces every word with an 8-hex md5(word|rep) token.  build_scaled's
    scrambling decorrelates SHINGLES but keeps each replica's word SET —
    so unigram-set operators (simhash) see every replica family as
    genuine mutual near-dups and the true pair count grows ~k^2:
    wave 20's first x64 simhash point measured that data growth
    (8.05M -> 126M output pairs for x16 -> x64), not the plan.
    Substitution keeps token counts/lengths but decorrelates the word
    sets, so the banded join's growth is the PLAN's."""
    from pyspark.sql import functions as F

    out = os.path.join(replica_root(WORK), f"s{k}")
    if os.path.exists(os.path.join(out, "_OK1")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    docs = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
    n_docs = docs.count()
    reps = spark.range(k).select(F.col("id").cast("int").alias("rep"))
    ws = F.split(F.col("text"), " ")
    subst = F.array_join(
        F.transform(
            ws,
            lambda w: F.substring(
                F.md5(F.concat_ws("_", w, F.col("rep").cast("string"))), 1, 8
            ),
        ),
        " ",
    )
    (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * n_docs).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text")).otherwise(subst).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "documents.parquet"))
    )
    open(os.path.join(out, "_OK1"), "w").close()
    return out


def build_scaled(spark, k: int) -> str:
    """Replicate documents + embeddings k-fold with unique ids."""
    from pyspark.sql import functions as F

    out = os.path.join(replica_root(WORK), f"x{k}")
    if os.path.exists(os.path.join(out, "_OK4")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    docs = spark.read.parquet(os.path.join(BASE, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(BASE, "embeddings.parquet"))
    n_docs = docs.count()
    n_vecs = emb.count()
    reps = spark.range(k).select(F.col("id").cast("int").alias("rep"))
    # rep > 0: deterministically SCRAMBLE the word order (sort words by a
    # rep-salted md5) and append a rep token.  An order-preserving
    # perturbation is not enough for the shingle-based dedup ops: replicas
    # would share nearly all bigrams, be genuine near-dups of each other,
    # and the true pair count itself would grow quadratically in k —
    # measuring the data, not the plan.  Scrambling keeps unigram stats
    # (token counts, quality features) while decorrelating shingles.
    ws = F.split(F.col("text"), " ")
    scrambled = F.array_join(
        F.transform(
            F.array_sort(
                F.zip_with(
                    ws,
                    F.sequence(F.lit(1), F.size(ws)),
                    lambda w, i: F.struct(
                        F.md5(
                            F.concat_ws("_", w, i.cast("string"), F.col("rep").cast("string"))
                        ).alias("k"),
                        w.alias("w"),
                    ),
                )
            ),
            lambda s: s["w"],
        ),
        " ",
    )
    (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("rep") * n_docs).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(F.concat(scrambled, F.lit(" r"), F.col("rep")))
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "documents.parquet"))
    )
    dim = len(emb.select("embedding").first()[0])
    rot = F.when(F.col("rep") == 0, F.col("embedding")).otherwise(
        F.concat(
            F.slice(F.col("embedding"), F.col("rep") + 1, dim),
            F.slice(F.col("embedding"), F.lit(1), F.col("rep")),
        )
    )
    (
        emb.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep") * n_vecs).alias("vec_id"),
            rot.alias("embedding"),
            "label",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "embeddings.parquet"))
    )
    # events: nanos-vintage parquet goes through the loader's conversion;
    # replicas shift user_id/event_id so keys stay unique and the user
    # population scales with k (per-user window state stays bounded)
    from signal_messenger_vector_database_spark.io.sources import load_table

    ev = load_table(spark, BASE, "events")
    n_ev = ev.count()
    n_users = ev.agg(F.max("user_id")).first()[0] + 1
    (
        ev.crossJoin(reps)
        .select(
            (F.col("event_id") + F.col("rep") * n_ev).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * n_users).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "events.parquet"))
    )
    # TPC-H facts: orderkey offset keeps orders<->lineitem consistent;
    # foreign keys into the (unreplicated) dimensions are untouched
    orders = spark.read.parquet(os.path.join(BASE, "orders.parquet"))
    li = spark.read.parquet(os.path.join(BASE, "lineitem.parquet"))
    okey_span = orders.agg(F.max("o_orderkey")).first()[0] + 1
    (
        orders.crossJoin(reps)
        .select(
            (F.col("o_orderkey") + F.col("rep") * okey_span).alias("o_orderkey"),
            "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
            "o_orderpriority",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "orders.parquet"))
    )
    (
        li.crossJoin(reps)
        .select(
            (F.col("l_orderkey") + F.col("rep") * okey_span).alias("l_orderkey"),
            "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
            "l_linestatus", "l_shipdate",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "lineitem.parquet"))
    )
    for dim in ("customer", "supplier", "part", "nation", "region"):
        src = os.path.join(BASE, f"{dim}.parquet")
        dst = os.path.join(out, f"{dim}.parquet")
        if not os.path.exists(dst):
            os.symlink(src, dst)
    open(os.path.join(out, "_OK4"), "w").close()
    return out


WAVES = {
    "1": PROBES, "2": PROBES_WAVE2, "3": PROBES_WAVE3, "4": PROBES_WAVE4,
    "5": PROBES_WAVE5, "6": PROBES_WAVE6, "7": PROBES_WAVE7, "8": PROBES_WAVE8,
    "9": PROBES_WAVE9, "10": PROBES_WAVE10, "11": PROBES_WAVE11,
    "12": PROBES_WAVE12, "13": PROBES_WAVE13, "17": PROBES_WAVE17,
    "18": PROBES_WAVE18, "20": PROBES_WAVE20, "20b": PROBES_WAVE20B,
    "20c": PROBES_WAVE20C, "28": PROBES_WAVE28,
}
USAGE = "usage: scaling_probe.py [--runs=N] [--scales=1,4,16 | --wave=W] q1 q2 ..."


def main() -> None:
    runs, scales, wave, names = 1, None, None, []
    for a in sys.argv[1:]:
        if a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])
        elif a.startswith("--scales="):
            scales = [int(x) for x in a.split("=", 1)[1].split(",")]
        elif a.startswith("--wave="):
            wave = a.split("=", 1)[1]
            if wave not in WAVES:
                sys.exit(f"unknown wave {wave!r}; choose one of {sorted(WAVES)}")
        elif a.startswith("--"):
            sys.exit(f"unrecognized argument {a!r}\n{USAGE}")
        else:
            names.append(a)
    if wave is not None and names:
        sys.exit(f"name queries or a wave, not both\n{USAGE}")
    if not names:
        names = WAVES[wave or "1"]
        scales = scales or [1, 4, 16]

    import __spark_entry__ as entry

    qs = entry.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"not in the catalog: {unknown}")

    # per-query COLD cost is the probe's contract; the session memo would
    # amortize seam consumers after the first and break comparability
    # with the historical SCALING.md series
    os.environ["SMVD_IVF_MEMO"] = "0"
    log_dir = tempfile.mkdtemp(prefix="smvd_probe_eventlog_")
    # the event log is a launch-time setting: it goes in before the JVM starts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false "
        "pyspark-shell"
    )
    try:
        _probe(qs, names, scales, runs, log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


def _probe(qs, names, scales, runs, log_dir) -> None:
    import spans

    from signal_messenger_vector_database_spark.io.sources import warmup_dir
    from signal_messenger_vector_database_spark.session import get_spark

    spark = get_spark("scaling-probe")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    dirs, subst = {os.path.basename(BASE): BASE}, {}
    if scales is not None:
        dirs = {f"x{k}": build_scaled(spark, k) for k in scales}
        # substituted-vocab twin dirs, built only when this run probes a
        # unigram-set operator (wave 20c)
        if any(n in SUBST_PROBES for n in names):
            subst = {f"x{k}": build_scaled_subst(spark, k) for k in scales}

    def probe_dir(name: str, at: str) -> str:
        return subst[at] if name in SUBST_PROBES and subst else dirs[at]

    # untimed warm-up: plan compilation + codegen caches
    for name in names:
        qs[name](spark, warmup_dir(probe_dir(name, next(iter(dirs))))).write.format(
            "noop"
        ).mode("overwrite").save()

    tracer = spans.Tracer()
    tracer.sc = sc
    ops: dict[tuple[str, str], list[str]] = {}
    for name in names:
        for at in dirs:
            for i in range(runs):
                spark.catalog.clearCache()
                op = f"{name}|{at}|{i}"
                with tracer.span("op", op) as total:
                    with tracer.phase("build") as build:
                        df = qs[name](spark, probe_dir(name, at))
                    with tracer.phase("plan") as plan:
                        df._jdf.queryExecution().executedPlan()
                    with tracer.phase("action") as action:
                        df.write.format("noop").mode("overwrite").save()
                ops.setdefault((name, at), []).append(op)
                secs = [r["end"] - r["start"] for r in (build, plan, action, total)]
                print(
                    f"{name:28s} {at:6s} run={i}: build={secs[0]:.2f} "
                    f"plan={secs[1]:.2f} action={secs[2]:.2f} total={secs[3]:.2f}s",
                    flush=True,
                )
    spark.stop()

    jobs = spans.job_metrics(spans.read_event_log(log_dir))
    for (name, at), op_ids in ops.items():
        rec = {"query": name, "at": at, "runs": len(op_ids)}
        rec.update(spans.layer_metrics(tracer, jobs, op_ids))
        print(json.dumps(rec))


if __name__ == "__main__":
    main()
