"""Query catalog: the engine's declared query surface (SURVEY §2.2).

Every entry pairs a Spark DataFrame program with (where expressible) an
equivalent ANSI-SQL oracle that DuckDB runs on the same parquet tables —
the driver's correctness gate hash-compares the two at sf0.01.

Determinism discipline (FIXTURES.md §C):

- every query ends with a fully-specified ORDER BY over a unique key list
- doubles rounded via ``round(x, 6)`` (or coarser where noted)
- money aggregations sum as DECIMAL(18,4) then cast to double — double
  summation order differs between engines and across partitionings, so
  decimal sums are the only representation that hash-matches exactly AND
  stays deterministic on a 1000-executor cluster
- timestamps rendered as ``yyyy-MM-dd HH:mm:ss`` strings (UTC session)
- avg = decimal-sum cast to double / count (engine-identical division)
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator adding a query to the catalog."""

    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryDef(name, fn, oracle, doc)
        return fn

    return deco


_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}  # path -> (_signature, schema)


def _signature(path: str) -> tuple:
    """``(file, size, mtime_ns)`` of every file at or under ``path``."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(root, f) for root, _, fs in os.walk(path) for f in fs
    )
    return tuple((f, st.st_size, st.st_mtime_ns) for f in files for st in [os.stat(f)])


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Parquet scan → Catalyst gets pushdown,
    pruning, and row-group skipping for free.

    Schema inference is a Spark job, so a read supplies the schema
    inferred before while the files keep their ``_signature``; a
    rewritten table, or one with no local files, is inferred again.

    ``events.ts`` is TIMESTAMP(NANOS) parquet, which Spark reads only as
    a long (``spark.sql.legacy.parquet.nanosAsLong``); convert to a
    microsecond timestamp here so the schema matches FIXTURES.md.

    The conf is set here (runtime-settable) rather than only at session
    build so the read works on ANY session, including ones created by
    external harnesses.  Nanos→micros uses integer division: double
    division would promote the epoch-nanos bigint (~1.7e18) past
    double's 2^53 exact range and drift by ±1 µs.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Timestamp-rendering entries (windows, date_trunc buckets) assume
    # the UTC session timezone our own get_spark sets; pin it here too
    # so the catalog is deterministic on ANY externally built session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    sig = _signature(path)
    known, schema = _SCHEMAS.get(path, ((), None))
    reader = spark.read.schema(schema) if sig and sig == known else spark.read
    df = reader.parquet(path)
    if sig:
        _SCHEMAS[path] = (sig, df.schema)
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def stage_derived(
    sf_dir: str, name: str, kind: str, writer
) -> tuple[str, str]:
    """Stage a DERIVED parquet copy of a testdata table (re-clustered,
    re-timestamped, …), re-materialized only when the SOURCE content
    changes.

    ONE staging dir per (table, kind, source path, SIGNATURE) — the
    path is content-addressed on a per-file (name, size, mtime)
    signature of the source, so a regenerated source parquet at the
    same location publishes a NEW directory instead of silently serving
    stale derived data.  ``writer(out_path)`` performs the actual
    materialization (plain copy, z-order cluster, …).  Returns
    (staged_path, tag); the tag (keyed on path + signature) also
    namespaces any caller-side sinks.

    Concurrency: the check-and-stage runs under an exclusive file lock
    (flock on a sibling ``.lock``), and the materialization writes into
    a UNIQUE temp dir — ``_SIG`` included — that is renamed into place
    as the last step.  Two sessions staging the same (table, kind)
    concurrently (parallel pytest workers) serialize, and a crash
    mid-stage leaves published dirs untouched.  A published signature
    dir is NEVER deleted in place (ADVICE r8: readers that resolved the
    previous signature's path keep scanning it while the new one
    publishes beside it); superseded signatures are garbage-collected
    lazily under the lock after a 10-minute grace period.
    """
    import hashlib
    import shutil
    import tempfile
    import uuid

    src = os.path.join(sf_dir, f"{name}.parquet")
    sig = hashlib.md5(repr((src, _signature(src))).encode()).hexdigest()[:12]
    path_tag = hashlib.md5(src.encode()).hexdigest()[:12]
    # CONTENT-ADDRESSED publication (ADVICE r8): every source signature
    # gets its OWN directory, which once published is never deleted in
    # place — a reader that resolved the previous signature's path can
    # keep scanning it while a re-stage publishes the new one beside
    # it. Old signatures are garbage-collected lazily, under the lock,
    # and only after an age grace period (an in-flight Spark scan holds
    # a recently-returned path; one staged per (table, kind, source)
    # signature bounds the temp-dir footprint to current + draining).
    prefix = os.path.join(
        tempfile.gettempdir(), f"sg_{name}_{kind}_{path_tag}"
    )
    staged = f"{prefix}__{sig}"
    marker = os.path.join(staged, "_SIG")

    def _is_fresh() -> bool:
        if not os.path.exists(marker):
            return False
        with open(marker) as fh:
            current = fh.read().strip()
        return current == sig and os.path.exists(
            os.path.join(staged, "_SUCCESS")
        )

    _GC_GRACE_SECONDS = 600

    if not _is_fresh():
        try:
            import fcntl
        except ImportError:  # non-POSIX: best-effort unlocked path
            fcntl = None
        with open(prefix + ".lock", "w") as lk:
            if fcntl is not None:
                fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                if not _is_fresh():  # re-check under the lock
                    tmp = f"{staged}.tmp_{os.getpid()}_{uuid.uuid4().hex[:8]}"
                    try:
                        writer(tmp)
                        with open(os.path.join(tmp, "_SIG"), "w") as fh:
                            fh.write(sig)
                        if not os.path.exists(staged):
                            os.rename(tmp, staged)
                    finally:
                        if os.path.exists(tmp):
                            shutil.rmtree(tmp, ignore_errors=True)
                # Lazy GC: other signatures of the same (table, kind,
                # source), old enough that no reader can still hold
                # them from a recent resolve.
                import glob as _glob
                import time as _time

                for old_dir in _glob.glob(f"{prefix}__*"):
                    if old_dir == staged or old_dir.startswith(f"{staged}.tmp"):
                        continue
                    try:
                        if (
                            os.path.isdir(old_dir)
                            and _time.time() - os.path.getmtime(old_dir)
                            > _GC_GRACE_SECONDS
                        ):
                            shutil.rmtree(old_dir, ignore_errors=True)
                    except OSError:
                        pass
            finally:
                if fcntl is not None:
                    fcntl.flock(lk, fcntl.LOCK_UN)
    # Touch on EVERY successful resolve (os.rename preserves the tmp
    # dir's materialization mtime and a fresh-path hit never rewrote
    # it, so the GC grace period used to measure time-since-publication
    # — a reader that resolved >grace before a re-stage could still
    # have its files rmtree'd mid-scan).  With the utime the grace
    # period measures time since last USE, which is what the lazy GC's
    # "no reader can still hold it" argument actually needs.
    try:
        os.utime(staged, None)
    except OSError:
        pass
    return staged, f"{path_tag}_{sig}"


def _load_all() -> None:
    # Import side-effect modules that populate REGISTRY.
    from graphdatabases_spark.relational import (  # noqa: F401
        core_queries,
        tpch_queries,
        graph_queries,
        graph_symmetry_queries,
        graph_incremental_queries,
        graph_decremental_queries,
        graph_temporal_queries,
        graph_centrality_queries,
        graph_community_queries,
        llm_queries,
        similarity_queries,
        similarity_probe_queries,
        retrieval_queries,
        dedup_queries,
        sketch_queries,
        streaming_queries,
        udf_queries,
        pipeline_queries,
        analytics_queries,
        analytics_corpus_queries,
        analytics_stats_queries,
        analytics_quantile_queries,
        analytics_series_queries,
        analytics_extended_queries,
        curation_queries,
        curation_removal_queries,
        curation_selection_queries,
    )


# Round in which the driver's sf0.01 gate LAST confirmed each entry green
# (hash_match, or rows-only where no SQL oracle exists).  Regenerated from
# CORRECTNESS_r*.json via tools/update_verified_rounds.py; update per
# round.  The external gate samples the FIRST 50 catalog entries in
# emission order, so emission is staleness-ordered: entries with
# new/changed semantics first (must be (re)proven), then
# oldest-verified-first so the external sample keeps re-confirming the
# cohort whose code has churned longest since its last external check.
# All entries stay covered by the local DuckDB differential
# (tests/test_oracle_catalog.py) regardless of order.
#
# Every entry has a green external row (r6 was 50/50); the r7 sample
# covers the new round-7 entries (tier 0) followed by the oldest
# remaining r3/r4-stale cohort.
_VERIFIED_ROUND: dict[str, int] = {
    # r8 cohort
    "agg_mode_status_priority": 8,
    "customer_ldiversity_audit": 8,
    "dedup_connected_clusters": 8,
    "docs_bigram_lm_score": 8,
    "docs_contamination_n_curve": 8,
    "docs_orc_scan": 8,
    "docs_pps_sample": 8,
    "docs_shard_rebalance": 8,
    "dq_profile_orders": 8,
    "embedding_quantize_int8": 8,
    "events_dpp_date_join": 8,
    "events_error_rate_hourly": 8,
    "events_gap_fill_hourly": 8,
    "events_hourly_anomaly": 8,
    "events_hourly_autocorr": 8,
    "events_rollup_multires": 8,
    "events_type_transitions": 8,
    "fuzzy_levenshtein_parts": 8,
    "lineitem_kmv_setops": 8,
    "merge_upsert_orders": 8,
    "orders_incremental_agg": 8,
    "orders_validity_intervals": 8,
    "sample_systematic_orders": 8,
    "scalar_array_funcs": 8,
    "split_assign_orders": 8,
    "stat_linreg_orders": 8,
    "text_vocab_coverage": 8,
    "window_first_last_frames": 8,
    "window_percent_rank_price": 8,
    # r9 cohort
    "copurchase_lift": 9,
    "dedup_keep_first_normalized": 9,
    "dedup_prefix_zipf": 9,
    "docs_dsir_weights": 9,
    "docs_sequence_packing": 9,
    "docs_stratified_sample": 9,
    "embedding_norm_outliers": 9,
    "events_stream_click_attribution": 9,
    "events_user_features": 9,
    "graph_kcore_entity": 9,
    "graph_modularity": 9,
    "grouped_map_zscore": 9,
    "join_asof_events": 9,
    "join_range_events": 9,
    "join_salted_skew": 9,
    "kmeans_assign_init": 9,
    "kmeans_embeddings": 9,
    "multimodal_phash_neardup": 9,
    "orders_repeat_intervals": 9,
    "q10_returned_items": 9,
    "q12_priority_by_month": 9,
    "q14_promo_revenue": 9,
    "q18_large_volume": 9,
    "q19_disjunctive": 9,
    "q1_pricing_summary": 9,
    "q22_missed_customers": 9,
    "q2_min_cost_supplier": 9,
    "q3_shipping_priority": 9,
    "q4_order_priority": 9,
    "q5_local_supplier": 9,
    "q6_forecast_revenue": 9,
    "q7_volume_shipping": 9,
    "q8_market_share": 9,
    "retrieval_ndcg_mrr": 9,
    "retrieval_rrf_fusion": 9,
    "scalar_case_when": 9,
    "scalar_date_funcs": 9,
    "scalar_math_funcs": 9,
    "scalar_string_funcs": 9,
    "setop_except": 9,
    "setop_intersect": 9,
    "setop_union": 9,
    "similarity_ann_ivf": 9,
    "similarity_ann_lsh": 9,
    "text_bigram_novelty": 9,
    "topk_global": 9,
    "window_ntile": 9,
    # r10 cohort
    "agg_percentile": 10,
    "dedup_embedding_neardup": 10,
    "dedup_exact_summary": 10,
    "dedup_jaccard_pairs": 10,
    "dedup_lsh_candidates": 10,
    "dedup_minhash_signatures": 10,
    "dedup_simhash": 10,
    "docs_decontaminate_ngrams": 10,
    "docs_length_quantile_trim": 10,
    "embedding_label_centroids": 10,
    "events_cusum_hourly": 10,
    "events_dedup_first": 10,
    "events_session_windows": 10,
    "events_sliding_10m5m": 10,
    "events_stateful_running_totals": 10,
    "events_stream_attrib_full": 10,
    "events_tumbling_hourly": 10,
    "graph_bfs_distances_entity": 10,
    "graph_conductance": 10,
    "graph_connected_components": 10,
    "graph_copurchase_pairs": 10,
    "graph_degree_histogram": 10,
    "graph_khop_entity": 10,
    "graph_khop_grid": 10,
    "graph_label_propagation": 10,
    "graph_louvain_onepass": 10,
    "graph_node_derivation": 10,
    "graph_pagerank": 10,
    "graph_ssp_grid": 10,
    "graph_triangle_count": 10,
    "multimodal_metadata": 10,
    "orders_mad_outliers": 10,
    "orders_rfm_segments": 10,
    "q11_important_parts": 10,
    "q13_customer_distribution": 10,
    "q15_top_supplier": 10,
    "q16_supplier_part_counts": 10,
    "q17_small_qty_revenue": 10,
    "q20_part_promotion": 10,
    "q21_waiting_suppliers": 10,
    "q9_product_profit": 10,
    "similarity_cosine_topk": 10,
    "similarity_threshold_pairs": 10,
    "text_fingerprint": 10,
    "text_language_guess": 10,
    "text_quality_score": 10,
    "text_repetition_score": 10,
    "text_tfidf_topterms": 10,
    "text_token_stats": 10,
    "udf_embedding_l2norm": 10,
    # r11 cohort
    "docs_boilerplate_lines": 11,
    "docs_c4_line_filters": 11,
    "docs_mixture_weights": 11,
    "docs_pack_chunks": 11,
    "docs_pii_redaction": 11,
    "docs_priority_sample": 11,
    "docs_rag_chunks": 11,
    "docs_stream_dedup": 11,
    "docs_substring_dedup": 11,
    "docs_tok_quantile_hist_serving": 11,
    "docs_url_domain_rollup": 11,
    "events_daily_retention": 11,
    "events_first_touch": 11,
    "events_funnel_conversion": 11,
    "events_hll_hourly_rollup": 11,
    "events_latest_per_user": 11,
    "events_session_stats": 11,
    "events_stream_attrib_hourly": 11,
    "events_stream_enriched_nation": 11,
    "events_type_pivot": 11,
    "filter_in_list": 11,
    "filter_like": 11,
    "filter_null_safe": 11,
    "filter_range_dates": 11,
    "graph_degree_assortativity": 11,
    "graph_louvain_multilevel": 11,
    "graph_node_jaccard": 11,
    "graph_pagerank_incremental": 11,
    "graph_random_walks": 11,
    "graph_temporal_latest_dep": 11,
    "graph_temporal_reach": 11,
    "graph_temporal_reach_delta": 11,
    "graph_walk_skipgrams": 11,
    "graph_wsssp_entity": 11,
    "join_broadcast_dim": 11,
    "join_full_outer": 11,
    "join_left_outer": 11,
    "join_semi": 11,
    "join_sortmerge_fact": 11,
    "json_extract_events": 11,
    "knn_label_vote": 11,
    "multimodal_frame_sample": 11,
    "multimodal_resize_thumbs": 11,
    "scan_filter_project": 11,
    "source_binary_listing": 11,
    "stat_corr_part": 11,
    "stat_histogram_events": 11,
    "text_char_trigrams_by_lang": 11,
    "udaf_priority_geomean": 11,
    "udtf_bigram_counts": 11,
    # r12 cohort
    "dedup_hll_cardinality": 12,
    "dedup_hll_merge": 12,
    "dedup_minhash_recall": 12,
    "docs_bm25_topk": 12,
    "docs_boilerplate_strip": 12,
    "docs_bpe_merges": 12,
    "docs_dedup_canonical": 12,
    "docs_hash_sample": 12,
    "docs_incremental_dedup": 12,
    "docs_mixture_grid": 12,
    "docs_select_budget": 12,
    "docs_shard_manifest": 12,
    "docs_source_overlap": 12,
    "docs_stream_dedup_bounded": 12,
    "docs_tok_kll_quantiles": 12,
    "docs_tok_partition_plan_drift": 12,
    "docs_tok_range_partition_plan": 12,
    "docs_token_drift": 12,
    "docs_token_mg_hitters": 12,
    "docs_unigram_surprise": 12,
    "embedding_source_drift": 12,
    "events_ewma_hourly": 12,
    "events_stream_attrib_outer": 12,
    "events_stream_sessions": 12,
    "events_stream_tumbling_append": 12,
    "graph_anf_hyperball": 12,
    "graph_cc_incremental": 12,
    "graph_coloring_mis": 12,
    "graph_effective_diameter": 12,
    "graph_harmonic_centrality": 12,
    "graph_ktruss_copurchase": 12,
    "graph_matching_greedy": 12,
    "graph_mis_luby": 12,
    "graph_node2vec_skipgrams": 12,
    "graph_node2vec_walks": 12,
    "graph_ppr_grid": 12,
    "graph_ppr_seed_topk": 12,
    "graph_ppr_seeds_entity": 12,
    "graph_triangle_delta": 12,
    "join_bloom_prefilter": 12,
    "join_selfjoin_size_cms": 12,
    "lineitem_zorder_scan": 12,
    "similarity_ivf_recall": 12,
    "similarity_lsh_recall": 12,
    "similarity_multiprobe_recall": 12,
    "similarity_quantized_recall": 12,
    "similarity_truncation_recall": 12,
    "text_cms_heavy_hitters": 12,
    "text_cms_merge": 12,
    "text_rake_keywords": 12,
    # r13 cohort
    "agg_approx_count_distinct": 13,
    "agg_collect_set": 13,
    "agg_count_distinct": 13,
    "agg_cube": 13,
    "agg_grouping_sets": 13,
    "agg_rollup": 13,
    "agg_stats": 13,
    "customer_kanon_audit": 13,
    "dedup_prefix_jaccard": 13,
    "dedup_semantic_semdedup": 13,
    "docs_bpe_apply": 13,
    "docs_bpe_fertility": 13,
    "docs_bpe_subword": 13,
    "docs_filter_funnel": 13,
    "docs_intradoc_dedup": 13,
    "docs_rebalance_quality": 13,
    "docs_rebalance_select": 13,
    "docs_split_contamination": 13,
    "docs_split_manifest": 13,
    "docs_split_rebalance": 13,
    "docs_substring_spans": 13,
    "docs_substring_strip": 13,
    "docs_tok_kll_store_replan": 13,
    "docs_val_novelty": 13,
    "events_conversion_latency_quantiles": 13,
    "events_cuped_adjustment": 13,
    "events_holt_hourly": 13,
    "events_holt_winters_hourly": 13,
    "events_next_match_veto": 13,
    "events_session_gap_curve": 13,
    "graph_betweenness_sampled": 13,
    "graph_bmatching_greedy": 13,
    "graph_clustering_coeff": 13,
    "graph_matching_incremental": 13,
    "graph_mis_incremental": 13,
    "join_anti": 13,
    "join_theta_pairs": 13,
    "lineitem_zorder_incremental_scan": 13,
    "orders_pareto_share": 13,
    "orders_quantile_histogram": 13,
    "orders_tdigest_merge": 13,
    "orders_tdigest_sketch": 13,
    "orders_trimmed_mean": 13,
    "similarity_ivfpq_recall": 13,
    "similarity_pq_recall": 13,
    "window_lag_lead": 13,
    "window_range_frame": 13,
    "window_rank": 13,
    "window_running_sum": 13,
    "window_topk_per_group": 13,
}


def _ordered() -> list[QueryDef]:
    defs = list(REGISTRY.values())
    # Stable sort: staleness tier first (0 = unproven/changed), registry
    # insertion order within a tier.
    return sorted(
        defs, key=lambda q: _VERIFIED_ROUND.get(q.name, 0)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {q.name: q.fn for q in _ordered()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {q.name: q.oracle for q in _ordered() if q.oracle is not None}
