"""The closed-loop catalog mix and its query -> layer table.

Each catalog query is attributed to ONE package layer - the one that
does most of its work - so the traced run can sum Spark's execution
counters per layer (NOTES.md, "Metric -> layer -> workload").

The mix is one pass over relational/reference entries (short scans,
joins and aggregates where planning and job scheduling dominate) and
LLM curation entries (shuffle-, CPU- and Arrow/Python-heavy). Left out
(NOTES.md, "Findings"): ``sessionize_events`` truncates event times to
whole seconds before its 30-minute gap test and ``knn_lsh_cosine``'s
recall floors hold on the fixture corpus only; on generated inputs both
disagree with their oracles.
"""

from __future__ import annotations

CATALOG_MIX: dict[str, str] = {
    "q10_returned_revenue": "operators",
    "window_range_30d_totals": "operators",
    "asof_purchase_before_click": "operators",
    "ticker_meta_build": "operators",
    "json_props_by_type": "functions",
    "bpe_pair_merges": "functions",
    "training_data_pipeline_v2": "dedup",
    "minhash_neardup_pairs": "dedup",
    "dedup_exact_docs": "dedup",
    "knn_brute_cosine": "similarity",
    "training_shards_manifest": "export",
}

#: Layers whose execution counters the traced run reports.
EXEC_LAYERS = ("operators", "functions", "dedup", "similarity", "export")
