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
#       --changed=semdedup,semdedup_uncapped,semdedup_capped,\
#                 knn_graph_ivf,knn_graph_uncapped,bitext_margin_pairs,\
#                 ivf_maintenance,topk_ivf_filtered,maxsim_retrieve,\
#                 topk_ivf_sq8,topk_ivf_binary,topk_ivf_cascade,\
#                 topk_ivf_batch,quant_recall_matrix,topk_ivf_pq_trained,\
#                 ivf_pq_operating_curve,pq_operating_point,\
#                 ann_recall_at_k,hard_negative_mining,ann_ivf_hier,\
#                 filtered_recall_curve,ivf_delta_assign,\
#                 ivf_chain_assign,topk_ivf_tombstone,topk_ivf_lifecycle,\
#                 pq_encode_delta,stream_ivf_maintain,stream_ivf_compact,\
#                 pq_recall_at_k,pagerank3,pagerank3_shuffle,\
#                 triangle_count,suppression_filter,curation_attrition,\
#                 dim_ablation_recall,bfs_khops,bpe_train,dsir_weights,\
#                 dup_substring_spans,boilerplate_strip,\
#                 curation_pipeline,bigram_logprob,collocations_pmi,\
#                 neardup_clusters,minhash_lsh_pairs,\
#                 minhash_jaccard_estimate,sorted_neighborhood,\
#                 shingle_containment,dedup_quality_keep,\
#                 stream_stream_join
#
# Input state (CORRECTNESS_r01-r16 latest-round histogram over paired
# entries): r10:9 r11:50 r12:50 r13:50 r14:47 r16:50.
# Slots: first the 28 queries whose build reaches a function edited when
# plans/embeddings_index.py became the one owner of the embeddings
# corpus's index setup (traced per catalog query over all 256 builds):
# the six that used to key a second, double-typed family, then the other
# full-corpus consumers, then the incoming-split consumers.  Then the 27
# names the previous window left out, in their order, cut at 50: the
# last 3 of them and the previous window's 24 other unverified names
# wait (ROADMAP "Window overflow").
_WINDOW = [
    "semdedup",
    "semdedup_uncapped",
    "semdedup_capped",
    "knn_graph_ivf",
    "knn_graph_uncapped",
    "bitext_margin_pairs",
    "ivf_maintenance",
    "topk_ivf_filtered",
    "maxsim_retrieve",
    "topk_ivf_sq8",
    "topk_ivf_binary",
    "topk_ivf_cascade",
    "topk_ivf_batch",
    "quant_recall_matrix",
    "topk_ivf_pq_trained",
    "ivf_pq_operating_curve",
    "pq_operating_point",
    "ann_recall_at_k",
    "hard_negative_mining",
    "ann_ivf_hier",
    "filtered_recall_curve",
    "ivf_delta_assign",
    "ivf_chain_assign",
    "topk_ivf_tombstone",
    "topk_ivf_lifecycle",
    "pq_encode_delta",
    "stream_ivf_maintain",
    "stream_ivf_compact",
    "pq_recall_at_k",
    "pagerank3",
    "pagerank3_shuffle",
    "triangle_count",
    "suppression_filter",
    "curation_attrition",
    "dim_ablation_recall",
    "bfs_khops",
    "bpe_train",
    "dsir_weights",
    "dup_substring_spans",
    "boilerplate_strip",
    "curation_pipeline",
    "bigram_logprob",
    "collocations_pmi",
    "neardup_clusters",
    "minhash_lsh_pairs",
    "minhash_jaccard_estimate",
    "sorted_neighborhood",
    "shingle_containment",
    "dedup_quality_keep",
    "stream_stream_join",
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
