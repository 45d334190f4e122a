from .relational import (
    keep_first,
    keep_first_salted,
    first_flag,
    update_by_row_id,
    anti_join_all_columns,
    invoices_containing,
    asof_join,
)
from .marking import capped_group_mark, gap_anchor_mark, sessionize
from .dedupe import (
    exact_dedup,
    ngram_jaccard_pairs,
    minhash_signatures,
    minhash_lsh_candidates,
    simhash_fingerprints,
    simhash_near_pairs,
    embedding_near_dup_pairs,
)
from .similarity import cosine_topk, ivf_cosine_topk, lsh_cosine_topk
from .sampling import hash_bucket, stratified_sample
from .multimodal import extract_features
from .search import bm25_topk, phrase_match
from .sampling import weighted_sample_k

__all__ = [
    "keep_first",
    "keep_first_salted",
    "first_flag",
    "update_by_row_id",
    "anti_join_all_columns",
    "invoices_containing",
    "asof_join",
    "capped_group_mark",
    "gap_anchor_mark",
    "sessionize",
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "simhash_fingerprints",
    "simhash_near_pairs",
    "embedding_near_dup_pairs",
    "cosine_topk",
    "ivf_cosine_topk",
    "lsh_cosine_topk",
    "hash_bucket",
    "stratified_sample",
    "extract_features",
    "bm25_topk",
    "phrase_match",
    "weighted_sample_k",
]
