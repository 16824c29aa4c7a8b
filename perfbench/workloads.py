"""Workload definitions: which registered queries a pass runs, in which
order, and what it releases between them."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    #: evict result memos before each query, so every query pays first
    #: contact (``release_result_memos``); otherwise memos persist and
    #: only tracked persists are released between queries
    release_memos: bool


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "similarity_cold",
            "set-similarity and ANN builders on a real-size vocabulary, "
            "memos released so every query pays first contact",
            (
                "dedup_minhash_lsh",
                "dedup_containment",
                "dedup_minhash_verified",
                "knn_pq_ann",
                "knn_ivf_exact_ann",
            ),
            release_memos=True,
        ),
        Workload(
            "pipeline_memo",
            "calibration pipeline: CC, pair-memo and quality trios back to "
            "back, so result memos are written once and read again",
            (
                "dedup_components",
                "cluster_aware_split",
                "dedup_cluster_keep_best",
                "dedup_threshold_sweep",
                "kfold_leakage_report",
                "lsh_recall_report",
                "doc_quality_composite",
                "quality_gate_agreement",
                "quality_weighted_sample",
            ),
            release_memos=False,
        ),
    )
}

#: result-memo names of ``plans.caching`` that the workloads' builders
#: write or read (hits and misses are read through ``result_memo_stats``)
MEMO_NAMES = (
    "jaccard_pairs",
    "jaccard_doc_components",
    "minhash_verified_pairs",
    "quality_gates",
)

#: the query checked against planted clusters instead of a DuckDB oracle
LSH_QUERY = "dedup_minhash_lsh"
