"""Aggregated query catalog: every implemented operator from SURVEY §2.

``__spark_entry__.py`` (the driver contract) is a thin adapter over this.

Ordering contract: the driver verifies only the FIRST 50 entries of
``queries()`` against their DuckDB oracles each round, so insertion order
is a verification budget.  ``_WINDOW`` below pins this round's priority
list (see its comment block); everything else follows in catalog order,
with oracle-less entries (which can never turn green) sorted to the tail.
"""

from __future__ import annotations

import importlib

from .registry import QuerySpec

# Every plan module contributes SPECS.  A missing module or a duplicate
# query name is a hard error: silently skipping one would silently shrink
# the catalog and its oracles (ADVICE r1).
_MODULES = (
    "pipeline",
    "relational",
    "similarity",
    "textanalysis",
    "streaming_queries",
    "multimodal",
    "advanced",
    "analytics",
    "mllib_lsh",
    "tpch",
    "traindata",
    "olap",
    "vectorops",
    "scale_queries",
    "formats",
    "retrieval",
    "retrieval_eval",
    "pq_trained",
    "ivfpq_clustered",
    "stats",
    "graph",
)

# Round-17 verification window — GENERATED by tools/window_rotate.py:
#
#   python tools/window_rotate.py \
#       --changed=stream_ingest_index,pq_operating_point,\
#                 ivf_pq_operating_curve,ivf_pq_clustered_curve,\
#                 ivf_recall_clustered,topk_ivf_pq_trained,\
#                 pq_encode_trained,pq_recall_trained,semdedup_trained,\
#                 pq_encode_delta,topk_l2,kmeans_fit_assign,kmeans_assign,\
#                 kmeans_lloyd3,pq_encode,topk_pq_adc,topk_ivf_pq,\
#                 topk_pq_rerank,pq_recall_at_k,pagerank3,\
#                 pagerank3_shuffle,triangle_count,suppression_filter,\
#                 curation_attrition,stream_ivf_compact,\
#                 dim_ablation_recall,bitext_mining_eval,bfs_khops,\
#                 bpe_train,filtered_recall_curve,dsir_weights,\
#                 dup_substring_spans,boilerplate_strip,curation_pipeline,\
#                 stream_ivf_maintain,knn_graph_ivf,knn_graph_uncapped,\
#                 bigram_logprob,collocations_pmi,neardup_clusters,\
#                 minhash_lsh_pairs,minhash_jaccard_estimate,\
#                 sorted_neighborhood,shingle_containment,\
#                 dedup_quality_keep,bitext_margin_pairs,\
#                 stream_stream_join,stream_static_join,stream_sessionize,\
#                 stream_sketch_quantiles
#
# Input state (CORRECTNESS_r01-r16 latest-round histogram over paired
# entries): r10:9 r11:50 r12:50 r13:50 r14:47 r16:50.
# Slots: first the 19 queries whose build calls code the distance-kernel
# change edited (traced per catalog query at the parent: every caller of
# the squared-L2 folds and unrolled renderings that now come from
# functions/vector.py; the overdue bench retiree topk_ivf_pq is one of
# them), then pagerank3, pagerank3_shuffle and triangle_count (builders
# edited by the materialize-and-release change, no driver row since),
# then the previous window's unverified entries in its order, cut at
# 50.  That is 62 unverified names for 50 slots: the previous window's
# last 12 wait (ROADMAP "Open items").
_WINDOW = [
    "stream_ingest_index",
    "pq_operating_point",
    "ivf_pq_operating_curve",
    "ivf_pq_clustered_curve",
    "ivf_recall_clustered",
    "topk_ivf_pq_trained",
    "pq_encode_trained",
    "pq_recall_trained",
    "semdedup_trained",
    "pq_encode_delta",
    "topk_l2",
    "kmeans_fit_assign",
    "kmeans_assign",
    "kmeans_lloyd3",
    "pq_encode",
    "topk_pq_adc",
    "topk_ivf_pq",
    "topk_pq_rerank",
    "pq_recall_at_k",
    "pagerank3",
    "pagerank3_shuffle",
    "triangle_count",
    "suppression_filter",
    "curation_attrition",
    "stream_ivf_compact",
    "dim_ablation_recall",
    "bitext_mining_eval",
    "bfs_khops",
    "bpe_train",
    "filtered_recall_curve",
    "dsir_weights",
    "dup_substring_spans",
    "boilerplate_strip",
    "curation_pipeline",
    "stream_ivf_maintain",
    "knn_graph_ivf",
    "knn_graph_uncapped",
    "bigram_logprob",
    "collocations_pmi",
    "neardup_clusters",
    "minhash_lsh_pairs",
    "minhash_jaccard_estimate",
    "sorted_neighborhood",
    "shingle_containment",
    "dedup_quality_keep",
    "bitext_margin_pairs",
    "stream_stream_join",
    "stream_static_join",
    "stream_sessionize",
    "stream_sketch_quantiles",
]


def all_specs() -> dict[str, QuerySpec]:
    merged: dict[str, QuerySpec] = {}
    for module_name in _MODULES:
        m = importlib.import_module(f".{module_name}", __package__)
        overlap = merged.keys() & m.SPECS.keys()
        if overlap:
            raise ValueError(
                f"duplicate query names in {module_name}: {sorted(overlap)}"
            )
        merged.update(m.SPECS)

    missing = [n for n in _WINDOW if n not in merged]
    if missing:
        raise ValueError(f"_WINDOW names not in catalog: {missing}")
    if len(_WINDOW) != len(set(_WINDOW)):
        raise ValueError("_WINDOW contains duplicates")

    window = {n: merged[n] for n in _WINDOW}
    rest_oracle = {
        n: s for n, s in merged.items() if n not in window and s.oracle is not None
    }
    rest_bare = {
        n: s for n, s in merged.items() if n not in window and s.oracle is None
    }
    return {**window, **rest_oracle, **rest_bare}
