"""Operator inventory: named queries over the driver testdata tables.

Each entry maps one operator family from SURVEY.md §2 onto the
TPC-H-ish synthetic tables and pairs the Spark implementation with an
ANSI-SQL DuckDB oracle (see ``__spark_entry__.py``). Numeric outputs
follow one discipline so the order-insensitive value hash matches:

- exact where possible: sums of prices go through DECIMAL(18,6) so
  accumulation order cannot perturb low-order bits; counts stay BIGINT;
- otherwise both engines compute the identical double expression and
  round to a fixed scale (6 for ratios/cosines, 4 for averages);
- timestamps are emitted as formatted strings, never raw timestamps.

Every Spark query aliases its computed columns to the same names the
oracle uses (driver compares columns sorted by name).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.dates import edad_unidad, edad_valor, parse_js_timestamp
from ..functions.strings import split_full_name
from ..functions.text import (
    PII_PATTERNS,
    doc_fingerprint,
    lang_id,
    normalized_text,
    pii_counts,
    pii_redact,
    quality_features,
    repeated_ngram_ratio,
    token_count,
)
from ..operators.dedupe import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from ..operators.marking import capped_group_mark, gap_anchor_mark, sessionize
from ..operators.multimodal import extract_features
from ..operators.relational import first_flag, keep_first
from ..operators.sampling import stratified_sample
from ..operators.similarity import cosine_topk, ivf_cosine_topk, lsh_cosine_topk
from ..sources.readers import ROW_ID, load_fact_files
from .sendas_driver_query import SENDAS_FULL_SQL, sendas_full_pipeline
from .tpch import TPCH_ORACLES, TPCH_QUERIES


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..sources.readers import read_table

    return read_table(spark, sf_dir, name)


def _dec_sum(col, scale: int = 6):
    """Order-insensitive exact sum: cast each term to DECIMAL, sum, back
    to double. DuckDB mirror: SUM(CAST(x AS DECIMAL(18,6)))::DOUBLE."""
    return F.sum(col.cast("decimal(18,6)")).cast("double")



# The inventory is split by era/family (round-6 item 9); this module
# owns the registries and the DRIVER_WINDOW literal, the inv_* parts
# own the query definitions. Star imports re-export every query
# function so `from .inventory import <query>` keeps working.
from .inv_relational import *  # noqa: E402,F401,F403
from .inv_corpus import *  # noqa: E402,F401,F403
# underscore helpers star-import skips but tests/tools import by name
from .inv_corpus import (  # noqa: E402,F401
    _BPE_PRETOK,
    _PACK_BUDGET,
    _stream_events,
)

# ===========================================================================
# registry
# ===========================================================================

# The driver's correctness gate checks exactly the 50 queries named in
# DRIVER_WINDOW (the single literal at the END of this module — the
# registries below are rebuilt from it at import time, so membership
# HERE is provisional). One window row per distinct operator machinery,
# every streaming/ANN/embedding/multimodal path included;
# near-duplicate variants whose machinery an in-window sibling already
# pins live in EXTRA_QUERIES — same oracle discipline, verified by
# tests/test_oracle_parity.py instead of the driver.
QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "a_grouping_sets_events": a_grouping_sets_events,
    "j9_update_then_merge": j9_update_then_merge,
    "p_filter_project": p_filter_project,
    "j_broadcast_enrich": j_broadcast_enrich,
    "j_anti_all_columns": j_anti_all_columns,
    "j_semi_membership": j_semi_membership,
    "d1_keep_first": d1_keep_first,
    "a4_first_flag": a4_first_flag,
    "u_union_dedup_files": u_union_dedup_files,
    "o_topk_per_group": o_topk_per_group,
    "a1_latest_partition": a1_latest_partition,
    "s1_excel_dim": s1_excel_dim,
    "s3_filename_partition": s3_filename_partition,
    "s5_sink_compact_roundtrip": s5_sink_compact_roundtrip,
    "f1_priority_pick": f1_priority_pick,
    "r2_dual_key_mark": r2_dual_key_mark,
    "w_window_frames": w_window_frames,
    "j_asof_events": j_asof_events,
    "j_range_bucketed": j_range_bucketed,
    "scalar_dates_ages": scalar_dates_ages,
    "scalar_name_split": scalar_name_split,
    "r1_capped_mark": r1_capped_mark,
    "r7_gap_mark": r7_gap_mark,
    "r4_invoice_zeroing": r4_invoice_zeroing,
    "sendas_full_pipeline": sendas_full_pipeline,
    "text_features": text_features,
    "sample_stratified_docs": sample_stratified_docs,
    "corpus_training_manifest": corpus_training_manifest,
    "pii_redact_docs": pii_redact_docs,
    "quality_repeated_ngrams": quality_repeated_ngrams,
    "scalar_bpe_tokens": scalar_bpe_tokens,
    "chunk_documents": chunk_documents,
    "dedup_exact_docs": dedup_exact_docs,
    "dedup_ngram_jaccard_docs": dedup_ngram_jaccard_docs,
    "dedup_minhash_lsh_docs": dedup_minhash_lsh_docs,
    "dedup_simhash_docs": dedup_simhash_docs,
    "dedup_cluster_docs": dedup_cluster_docs,
    "embedding_near_dup": embedding_near_dup,
    "embedding_near_dup_bucketed": embedding_near_dup_bucketed,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "pack_training_sequences": pack_training_sequences,
    "multimodal_features": multimodal_features,
    "streaming_tumbling_counts": streaming_tumbling_counts,
    "streaming_session_windows": streaming_session_windows,
    "streaming_gap_anchor_mark": streaming_gap_anchor_mark,
    "streaming_dedup_events": streaming_dedup_events,
    "streaming_enriched_counts": streaming_enriched_counts,
}

# Variants outside the driver window: machinery-redundant with an
# in-window sibling (noted per entry), still fully oracle-checked by
# tests/test_oracle_parity.py at every SF.
EXTRA_QUERIES = {
    "a_rollup_revenue": a_rollup_revenue,          # Expand agg → a_grouping_sets_events
    "a_exact_percentiles": a_exact_percentiles,    # agg-ext family → a_grouping_sets_events
    "a_pivot_revenue": a_pivot_revenue,            # agg-ext family → a_grouping_sets_events
    "o_global_topk": o_global_topk,                # TakeOrdered → o_topk_per_group + plan test
    "corpus_prep_pipeline": corpus_prep_pipeline,  # prefix of corpus_training_manifest
    "sessionize_events": sessionize_events,        # session windows → streaming_session_windows
    "d_keep_first_salted": d_keep_first_salted,    # keep-first → d1_keep_first + plan test
    "j_bucketed_colocated": j_bucketed_colocated,  # joins → j_broadcast_enrich + plan test
    "scalar_json_extract": scalar_json_extract,    # scalar fns → scalar_dates_ages/name_split
    "j9_update_by_row_id": j9_update_by_row_id,    # half of j9_update_then_merge
    "j_merge_upsert": j_merge_upsert,              # half of j9_update_then_merge
    "w_running_sum": w_running_sum,                # half of w_window_frames
    "w_trailing_range_sum": w_trailing_range_sum,  # half of w_window_frames
    "s5_partitioned_sink_roundtrip": s5_partitioned_sink_roundtrip,  # half of s5_sink_compact_roundtrip
    "s6_compact_roundtrip": s6_compact_roundtrip,  # half of s5_sink_compact_roundtrip
    "streaming_interval_join": streaming_interval_join,  # §2.10 ext beyond the driver window
    "j_snapshot_diff": j_snapshot_diff,  # CDC-generation ext beyond the driver window
    "ann_lsh_topk": ann_lsh_topk,  # scoring kernel → ann_cosine_topk; bucket join → embedding_near_dup_bucketed
    "streaming_sliding_counts": streaming_sliding_counts,  # windowed agg → streaming_tumbling_counts
    "multimodal_pointer_features": multimodal_pointer_features,  # blob-store pointer resolution ext
    "video_frame_sample": video_frame_sample,  # uncompressed-AVI frame sampling ext
    "quality_model_filter": quality_model_filter,  # linear quality classifier, IEEE-exact logit
    "quantize_embeddings_q8": quantize_embeddings_q8,  # int8 embedding quantization
    "s8_jsonl_roundtrip": s8_jsonl_roundtrip,  # JSONL interchange roundtrip
    "sample_temperature_mixture": sample_temperature_mixture,  # share^alpha corpus re-balancing
    "vocab_top_tokens": vocab_top_tokens,  # tokenizer-seed vocab induction
    "dedup_incremental_docs": dedup_incremental_docs,  # ingest-wave dedup vs fingerprint index
    "sample_stratified_exact_k": sample_stratified_exact_k,  # exact-k eval-set carving
    "streaming_distinct_users": streaming_distinct_users,  # chained stateful dedup -> windowed count
    "q5_local_supplier_revenue": q5_local_supplier_revenue,  # six-table join tree (TPC-H Q5 shape)
    "q17_small_quantity_revenue": q17_small_quantity_revenue,  # correlated subquery -> window decorrelation
}

ORACLES = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "a_grouping_sets_events": A_GROUPING_SETS_SQL,
    "j9_update_then_merge": J9_MERGE_CHAIN_SQL,
    "p_filter_project": P_FILTER_SQL,
    "j_broadcast_enrich": J_BROADCAST_SQL,
    "j_anti_all_columns": J_ANTI_SQL,
    "j_semi_membership": J_SEMI_SQL,
    "d1_keep_first": D1_SQL,
    "a4_first_flag": A4_SQL,
    "u_union_dedup_files": U_UNION_SQL,
    "o_topk_per_group": O_TOPK_SQL,
    "a1_latest_partition": A1_SQL,
    "s1_excel_dim": S1_EXCEL_SQL,
    "s3_filename_partition": S3_SQL,
    "s5_sink_compact_roundtrip": S5_SINK_COMPACT_SQL,
    "f1_priority_pick": F1_SQL,
    "r2_dual_key_mark": R2_SQL,
    "w_window_frames": W_FRAMES_SQL,
    "j_asof_events": J_ASOF_SQL,
    "j_range_bucketed": J_RANGE_SQL,
    "scalar_dates_ages": SCALAR_DATES_SQL,
    "scalar_name_split": SCALAR_NAME_SQL,
    "r1_capped_mark": R1_SQL,
    "r7_gap_mark": R7_SQL,
    "r4_invoice_zeroing": R4_SQL,
    "sendas_full_pipeline": SENDAS_FULL_SQL,
    "text_features": TEXT_FEATURES_SQL,
    "sample_stratified_docs": SAMPLE_STRATIFIED_SQL,
    "corpus_training_manifest": CORPUS_MANIFEST_SQL,
    "pii_redact_docs": PII_REDACT_SQL,
    "quality_repeated_ngrams": REPEATED_NGRAM_SQL,
    "scalar_bpe_tokens": SCALAR_BPE_SQL,
    "chunk_documents": CHUNK_DOCS_SQL,
    "dedup_exact_docs": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard_docs": DEDUP_NGRAM_SQL,
    "dedup_minhash_lsh_docs": DEDUP_MINHASH_SQL,
    "dedup_simhash_docs": SIMHASH_SQL,
    "dedup_cluster_docs": DEDUP_CLUSTER_SQL,
    "embedding_near_dup": EMB_NEAR_DUP_SQL,
    "embedding_near_dup_bucketed": EMB_NEAR_DUP_BUCKETED_SQL,
    "ann_cosine_topk": ANN_TOPK_SQL,
    "ann_ivf_topk": ANN_IVF_SQL,
    "pack_training_sequences": PACK_SEQUENCES_SQL,
    "multimodal_features": MULTIMODAL_SQL,
    "streaming_tumbling_counts": STREAM_TUMBLING_SQL,
    "streaming_session_windows": STREAM_SESSION_SQL,
    "streaming_gap_anchor_mark": R7_SQL,
    "streaming_dedup_events": STREAM_DEDUP_SQL,
    "streaming_enriched_counts": STREAM_ENRICHED_SQL,
}

EXTRA_ORACLES = {
    "a_rollup_revenue": A_ROLLUP_SQL,
    "a_exact_percentiles": A_PCTL_SQL,
    "a_pivot_revenue": A_PIVOT_SQL,
    "o_global_topk": O_GLOBAL_TOPK_SQL,
    "corpus_prep_pipeline": CORPUS_PREP_SQL,
    "sessionize_events": SESSIONIZE_SQL,
    "d_keep_first_salted": D_SALTED_SQL,
    "j_bucketed_colocated": J_BUCKETED_SQL,
    "scalar_json_extract": SCALAR_JSON_SQL,
    "j9_update_by_row_id": J9_UPDATE_SQL,
    "j_merge_upsert": J_MERGE_SQL,
    "w_running_sum": W_RUNNING_SQL,
    "w_trailing_range_sum": W_TRAILING_RANGE_SQL,
    "s5_partitioned_sink_roundtrip": S5_SINK_SQL,
    "s6_compact_roundtrip": S6_COMPACT_SQL,
    "streaming_interval_join": STREAM_INTERVAL_JOIN_SQL,
    "j_snapshot_diff": J_SNAPSHOT_DIFF_SQL,
    "ann_lsh_topk": ANN_LSH_SQL,
    "streaming_sliding_counts": STREAM_SLIDING_SQL,
    "multimodal_pointer_features": MULTIMODAL_SQL,
    "video_frame_sample": VIDEO_FRAME_SQL,
    "quality_model_filter": QUALITY_MODEL_SQL,
    "quantize_embeddings_q8": QUANTIZE_Q8_SQL,
    "s8_jsonl_roundtrip": S8_JSONL_SQL,
    "sample_temperature_mixture": SAMPLE_MIXTURE_SQL,
    "vocab_top_tokens": VOCAB_TOPK_SQL,
    "dedup_incremental_docs": DEDUP_INCREMENTAL_SQL,
    "sample_stratified_exact_k": SAMPLE_EXACT_K_SQL,
    "streaming_distinct_users": STREAM_DISTINCT_USERS_SQL,
    "q5_local_supplier_revenue": Q5_SQL,
    "q17_small_quantity_revenue": Q17_SQL,
}

# TPC-H completion (plans/tpch.py): with q1/q3/q5/q17 above, all 22
# TPC-H shapes are implemented and oracle-paired — adapted to the
# testdata schema (no partsupp; see the module docstring).
EXTRA_QUERIES.update(TPCH_QUERIES)
EXTRA_ORACLES.update(TPCH_ORACLES)

# Corpus-hygiene ladder (plans/corpus_quality.py): eval-set
# decontamination, segment-level boilerplate dedup, Gopher rule panel.
from .corpus_quality import CORPUS_QUALITY_ORACLES, CORPUS_QUALITY_QUERIES  # noqa: E402

EXTRA_QUERIES.update(CORPUS_QUALITY_QUERIES)
EXTRA_ORACLES.update(CORPUS_QUALITY_ORACLES)


from . import inv_round4 as _inv_round4  # noqa: E402
from . import inv_round5 as _inv_round5  # noqa: E402
from . import inv_round6 as _inv_round6  # noqa: E402
from . import inv_round7 as _inv_round7  # noqa: E402
from . import inv_round8 as _inv_round8  # noqa: E402
from . import inv_round9 as _inv_round9  # noqa: E402
from . import inv_round10 as _inv_round10  # noqa: E402
from . import inv_round11 as _inv_round11  # noqa: E402
from . import inv_round12 as _inv_round12  # noqa: E402
from .inv_round4 import *  # noqa: E402,F401,F403
from .inv_round5 import *  # noqa: E402,F401,F403
from .inv_round6 import *  # noqa: E402,F401,F403
from .inv_round7 import *  # noqa: E402,F401,F403
from .inv_round8 import *  # noqa: E402,F401,F403
from .inv_round9 import *  # noqa: E402,F401,F403

EXTRA_QUERIES.update(_inv_round4.PART_QUERIES)
EXTRA_ORACLES.update(_inv_round4.PART_ORACLES)
EXTRA_QUERIES.update(_inv_round5.PART_QUERIES)
EXTRA_ORACLES.update(_inv_round5.PART_ORACLES)
EXTRA_QUERIES.update(_inv_round6.PART_QUERIES)
EXTRA_ORACLES.update(_inv_round6.PART_ORACLES)
EXTRA_QUERIES.update(_inv_round7.PART_QUERIES)
EXTRA_ORACLES.update(_inv_round7.PART_ORACLES)
EXTRA_QUERIES.update(_inv_round8.PART_QUERIES)
EXTRA_ORACLES.update(_inv_round8.PART_ORACLES)
EXTRA_QUERIES.update(_inv_round9.PART_QUERIES)
EXTRA_ORACLES.update(_inv_round9.PART_ORACLES)
EXTRA_QUERIES.update(_inv_round10.PART_QUERIES)
EXTRA_ORACLES.update(_inv_round10.PART_ORACLES)
EXTRA_QUERIES.update(_inv_round11.PART_QUERIES)
EXTRA_ORACLES.update(_inv_round11.PART_ORACLES)
EXTRA_QUERIES.update(_inv_round12.PART_QUERIES)
EXTRA_ORACLES.update(_inv_round12.PART_ORACLES)

# ===========================================================================
# driver window — SINGLE definition site
# ===========================================================================
# The driver's correctness gate checks exactly the queries in QUERIES;
# everything else holds the identical oracle bar in EXTRA_QUERIES via
# tests/test_oracle_parity.py. Earlier rounds rotated the window with
# sequential swap blocks, which made the effective window unauditable
# without executing the module (VERDICT r4 item 8) — the list below is
# now the one literal that decides membership. To rotate a query in or
# out, edit this list; the rebuild underneath repartitions the
# registries mechanically. Rationale for each past rotation lives in
# git history; the standing policy: one in-window row per distinct
# operator machinery, near-duplicate variants stay in EXTRA.
DRIVER_WINDOW = [
    "q1_pricing_summary",
    "a_exact_quantile_histogram",
    "a_grouping_sets_events",
    "j9_update_then_merge",
    "p_filter_project",
    "j_broadcast_enrich",
    "j_anti_all_columns",
    "u_union_dedup_files",
    "o_topk_per_group",
    "a1_latest_partition",
    "s1_excel_dim",
    "geo_radius_join_events",
    "s5_sink_compact_roundtrip",
    "f1_priority_pick",
    "j_asof_events",
    "scalar_dates_ages",
    "r1_capped_mark",
    "r7_gap_mark",
    "r4_invoice_zeroing",
    "sendas_full_pipeline",
    "text_features",
    "corpus_training_manifest",
    "search_hybrid_rrf_ivf_docs",
    "fuzzy_match_part_names",
    "dedup_semantic_docs",
    "search_index_refresh_docs",
    "decontaminate_docs",
    "dedup_cluster_docs",
    "bpe_pair_counts_docs",
    "streaming_txlog_source_ingest",
    "txlog_hidden_partition_events",
    "ann_ivfpq_topk",
    "crawl_ingest_pipeline",
    "pack_training_sequences",
    "multimodal_features",
    "streaming_matview_counts",
    "streaming_session_windows",
    "streaming_gap_anchor_mark",
    "streaming_enriched_counts",
    "txlog_column_mapping_events",
    "dsir_select_docs",
    "ivm_join_view_events",
    "quality_lsq_classifier_docs",
    "txlog_clone_events",
    "corpus_refresh_incremental_docs",
    "catalog_snapshot_events",
    "streaming_txlog_cdf_ivm_events",
    "privacy_k_anonymize_events",
    "txlog_type_widening_events",
    "txlog_date_zone_map_events",
]

_ALL_QUERIES = {**QUERIES, **EXTRA_QUERIES}
_ALL_ORACLES = {**ORACLES, **EXTRA_ORACLES}
assert len(DRIVER_WINDOW) == 50, f"driver window is {len(DRIVER_WINDOW)}, not 50"
assert len(set(DRIVER_WINDOW)) == 50, "duplicate names in DRIVER_WINDOW"
_unknown = [k for k in DRIVER_WINDOW if k not in _ALL_QUERIES]
assert not _unknown, f"DRIVER_WINDOW names not in any registry: {_unknown}"
_no_oracle = [k for k in DRIVER_WINDOW if k not in _ALL_ORACLES]
assert not _no_oracle, f"DRIVER_WINDOW entries without an oracle: {_no_oracle}"

QUERIES = {k: _ALL_QUERIES[k] for k in DRIVER_WINDOW}
ORACLES = {k: _ALL_ORACLES[k] for k in DRIVER_WINDOW}
EXTRA_QUERIES = {k: v for k, v in _ALL_QUERIES.items() if k not in QUERIES}
EXTRA_ORACLES = {k: v for k, v in _ALL_ORACLES.items() if k not in QUERIES}
