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
#       --changed=pq_recall_at_k,pq_recall_trained,quant_recall_matrix,\
#                 ann_recall_at_k,pq_operating_point,dim_ablation_recall,\
#                 ivf_recall_clustered,ivf_pq_clustered_curve,\
#                 ivf_pq_operating_curve,filtered_recall_curve,\
#                 bitext_mining_eval,topk_ivf_pq,stream_static_join,\
#                 stream_sessionize,stream_sketch_quantiles,stream_lsh_dedup,\
#                 assoc_rules,ccnet_buckets,dup_span_removal,\
#                 centroid_outlier_prune,csv_roundtrip,jsonl_roundtrip,\
#                 orc_roundtrip,schema_evolution,stream_ingest_index,\
#                 pq_encode_trained,semdedup_trained,topk_l2,kmeans_fit_assign,\
#                 kmeans_assign,kmeans_lloyd3,pq_encode,topk_pq_adc,\
#                 topk_pq_rerank,semdedup,semdedup_uncapped,semdedup_capped,\
#                 knn_graph_ivf,knn_graph_uncapped,bitext_margin_pairs,\
#                 ivf_maintenance,topk_ivf_filtered,maxsim_retrieve,\
#                 topk_ivf_sq8,topk_ivf_binary,topk_ivf_cascade,topk_ivf_batch,\
#                 topk_ivf_pq_trained,hard_negative_mining,ann_ivf_hier
#
# Input state (CORRECTNESS_r01-r16 latest-round histogram over paired
# entries): r10:9 r11:50 r12:50 r13:50 r14:47 r16:50.
# Slots: first the 12 queries whose plan code changed when
# plans/recall.py became the one owner of recall scoring (the ten
# scoring sites, plus bitext_mining_eval and topk_ivf_pq, which lost
# unused imports).  Then the 27 names the previous window left out, in
# their order (the 5 already listed keep their first slot), then the
# previous window's other unverified names in its order, cut at 50: the
# last 27 of them wait (ROADMAP "Window overflow").
_WINDOW = [
    "pq_recall_at_k",
    "pq_recall_trained",
    "quant_recall_matrix",
    "ann_recall_at_k",
    "pq_operating_point",
    "dim_ablation_recall",
    "ivf_recall_clustered",
    "ivf_pq_clustered_curve",
    "ivf_pq_operating_curve",
    "filtered_recall_curve",
    "bitext_mining_eval",
    "topk_ivf_pq",
    "stream_static_join",
    "stream_sessionize",
    "stream_sketch_quantiles",
    "stream_lsh_dedup",
    "assoc_rules",
    "ccnet_buckets",
    "dup_span_removal",
    "centroid_outlier_prune",
    "csv_roundtrip",
    "jsonl_roundtrip",
    "orc_roundtrip",
    "schema_evolution",
    "stream_ingest_index",
    "pq_encode_trained",
    "semdedup_trained",
    "topk_l2",
    "kmeans_fit_assign",
    "kmeans_assign",
    "kmeans_lloyd3",
    "pq_encode",
    "topk_pq_adc",
    "topk_pq_rerank",
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
    "topk_ivf_pq_trained",
    "hard_negative_mining",
    "ann_ivf_hier",
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
