"""The query mix: the frozen ``bench.py`` headline, the untimed tail, and
the program layer each query exercises."""

from __future__ import annotations

from bench import HEADLINE

#: the headline queries with the largest walls in a cold pass (2-17 s each
#: on 4 cores); timed in the traced run only, so that all runs of the
#: benchmark fit its time limit
SLOW = [
    "kg_triples",
    "minhash_dedup",
    "simhash_pairs",
    "embedding_near_dups",
    "ivf_topk_emb",
    "ivf_topk_join_emb",
    "media_features",
    "contaminated_train_docs",
]

#: the headline queries every run times: each layer of the mix has one
PASS = [q for q in HEADLINE if q not in SLOW]

#: contract queries the headline skips; timed in the traced run only
TAIL = [
    "entity_pagerank",
    "winnow_overlaps",
    "event_windows",
    "word_jaccard_pairs",
    "kg_triples_chunked",
]

#: query -> layer (the package module doing most of the query's work)
LAYER = {
    "kg_triples": "extraction",
    "kg_triples_chunked": "extraction",
    "no_lut_tracts": "extraction",
    "q1_pricing_summary": "relational",
    "top_orders": "relational",
    "orders_customer_join": "relational",
    "nation_region_rollup": "relational",
    "multilabel_micro": "evaluation",
    "binary_metrics_events": "evaluation",
    "greedy_error_totals": "evaluation",
    "exact_unique_docs": "dedup",
    "minhash_dedup": "dedup",
    "minhash_dedup_fast": "dedup",
    "simhash_pairs": "dedup",
    "winnow_overlaps": "dedup",
    "word_jaccard_pairs": "dedup",
    "token_count_docs": "textmetrics",
    "lang_detect_docs": "textmetrics",
    "quality_score_docs": "textmetrics",
    "repetition_docs": "textmetrics",
    "cosine_topk_emb": "similarity",
    "embedding_near_dups": "similarity",
    "ivf_topk_emb": "similarity",
    "ivf_topk_join_emb": "similarity",
    "table_media_features": "multimodal",
    "media_features": "multimodal",
    "pii_scrub_docs": "textprep",
    "doc_chunks": "textprep",
    "packed_sequences": "textprep",
    "contaminated_train_docs": "textprep",
    "user_sessions": "stateful",
    "event_windows": "stateful",
    "entity_pagerank": "graph",
}
