"""Query/operator library.

Each submodule exports:
- ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]`` — named
  operators, each loading tables from an ``sf_dir`` of parquet files and
  returning a DataFrame (never collecting).
- ``ORACLES: dict[str, str]`` — DuckDB ANSI-SQL equivalents over the same
  tables (registered as views by the verification driver).  Keys without an
  oracle are genuinely non-SQL-expressible and get a rows-only check.

Cross-engine determinism rules used throughout (so value-hashes match):
- double aggregations go through exact ``decimal`` sums, cast back to
  ``double`` at the end (bit-identical in Spark and DuckDB);
- dates are emitted as ``yyyy-MM-dd`` strings, timestamps as epoch bigint;
- hashing is md5-based (`functions.md5_long`) — identical in both engines;
- every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mongo_hadoop_spark.operators import (
    analytics, asof, bpe, dedup, graph, linalg, mongoagg, multimodal,
    pipeline, relational, relational2, relational3, relational4, relational5,
    repetition, selection, similarity, sketches, skew, spans, textstats,
    windows, lm,
)

_MODULES = [relational, relational2, relational3, relational4, relational5,
            windows, dedup, graph, spans, lm, selection, similarity, linalg,
            textstats, repetition, multimodal, skew, pipeline, asof,
            mongoagg, analytics, sketches, bpe]

# Registry order is part of the verification contract: external harnesses may
# only sample a prefix of ``queries()``, so the entries that most need a fresh
# cross-engine check come first.  Round-12 rotation (the round-11 verdict's
# item 1): the eight queries new this round (unbounded-$graphLookup,
# $mergeObjects-accumulator and uncorrelated-$lookup gates from the second
# half; calendar-unit $densify gates, SemDeDup cell-density overflow report,
# window N-accumulators from the first; dotted-path-write gate), then the changed-path rows (the
# $densify full-join + spec-key audit touched every $densify/$fill/$bucket/
# $bucketAuto/$setWindowFields gate's compile path — plans value-pinned by
# the sf0.001 parity sweep; the _nearest_fixed_cell refactor touched the
# fixed/capped SemDeDup assignment subtree; the $graphLookup stage split
# into bounded/fixpoint halves), then ALL 32 queries whose latest driver
# verdicts date from round 7, then the 4 oldest round-8 rows fill the
# 50-entry prefix (8 new + 6 changed + 32 r7 + 4 r8 = 50).  The remaining
# r8 rows queue just below the window for round 13; fully-green
# r9/r10/r11 verdicts rotate to the tail.
_HEAD_KEYS = [
    # new this round — never driver-verified
    "pipeline_graphlookup_unbounded", "pipeline_merge_objects_rollup",
    "pipeline_lookup_uncorrelated", "pipeline_dotted_paths",
    "pipeline_densify_monthly", "pipeline_densify_quarterly",
    "dedup_semantic_cell_density", "pipeline_window_top_orders",
    # changed this round — compile path touched, values pinned unchanged
    # (pipeline_graphlookup_reports: the $graphLookup stage split into
    # bounded/fixpoint halves in the second half of r12)
    "pipeline_graphlookup_reports",
    "pipeline_densify_user_counts", "pipeline_window_fields",
    "pipeline_bucket_order_values", "pipeline_bucket_auto_granularity",
    "dedup_semantic_survivors_ivf_fixed",
    # r07-verified — ALL 32 outstanding r7 driver verdicts
    "dedup_span_alignments", "embedding_quantize_int8",
    "events_session_windows", "f3_sort_limit", "f4_skip_pagination",
    "hive_pushdown_conjunction", "ivf_knn", "ivf_knn_nprobe",
    "ivf_recall_report", "json_roundtrip", "knn_bruteforce",
    "lsh_bucket_histogram", "near_dup_pairs_cosine",
    "pipeline_geo_intersects", "pipeline_geo_near",
    "pipeline_geo_near_sphere", "rollup_agg", "s2_dotted_key_extract",
    "s6_tokenize_stats", "s8_multi_union", "set_except", "set_intersect",
    "text_langid", "tpch_q10", "tpch_q12", "tpch_q14", "tpch_q18",
    "tpch_q22_antijoin", "tpch_q4_semijoin", "treasury_doubled",
    "u2_objectid_seconds", "window_spend_quartiles",
    # r08-verified — the 4 oldest (alphabetical within the era:
    # equally stale, stable order)
    "a2_upsert_docs", "a4_log_rollup", "corpus_bpe_compression",
    "corpus_bpe_merges",
    # --- 50-entry window boundary (r13 rotation starts here) ---
    # remaining r8-era rows queue first for round 13 (the five below
    # slid out of the window as the second-half r12 gates — unbounded
    # $graphLookup, $mergeObjects accumulator, uncorrelated $lookup,
    # dotted-path writes — entered it mid-round)
    "corpus_bpe_symbol_stats",
    "corpus_pretrain_manifest", "corpus_split_leakage",
    "corpus_training_manifest", "corpus_wordpiece_compression",
    "corpus_wordpiece_merges", "corpus_yield_report", "dedup_containment", "dedup_exact_survivors",
    "dedup_minhash_signatures", "dedup_semantic_survivors",
    "dedup_semantic_survivors_ivf", "dedup_simhash_groups",
    "documents_epoch_shuffle", "documents_pack_sequences",
    "documents_pack_sequences_bpe", "documents_stratified_sample",
    "documents_train_split", "events_cohort_retention", "events_funnel",
    "multimodal_decode_features", "multimodal_frame_sample",
    "multimodal_pack_interleaved", "multimodal_resize",
    "orders_quantile_rollup",
    "pipeline_sortbycount", "pipeline_text_query", "pipeline_wordcount",
    "sketch_hll_documents", "sketch_hll_users", "text_fingerprint",
    "text_quality", "text_redact_pii", "text_repetition_ratio",
    "text_token_count", "text_top_distinctive_terms",
    "user_activity_histogram",
]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        overlap = merged.keys() & m.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query keys: {overlap}")
        merged.update(m.QUERIES)
    missing = [k for k in _HEAD_KEYS if k not in merged]
    if missing:
        raise ValueError(f"unknown head keys: {missing}")
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for k in _HEAD_KEYS:
        out[k] = merged[k]
    for k, fn in merged.items():
        if k not in out:
            out[k] = fn
    assert len(out) == len(merged)
    return out


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return out
