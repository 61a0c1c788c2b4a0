"""Benchmark harness — prints ONE JSON line.

Headline metric: extraction documents/sec over the interleaved corpus
(testdata documents synthesized natively to span docs + injected giants,
plus the deterministic fixture corpus), at SPARK_GRAFT_SF_DIR on
local[SPARK_GRAFT_CPUS]. Also times the training-data battery queries.

Output: {"metric": ..., "value": <headline seconds>, "unit": "sec",
         "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from mivaa_pdf_extractor_spark.core.cache import release_cached  # noqa: E402
from mivaa_pdf_extractor_spark.operators.skew import run_extract_skewed  # noqa: E402
from mivaa_pdf_extractor_spark.session import build_session  # noqa: E402
from mivaa_pdf_extractor_spark.sources.from_flat import with_synthetic_giants  # noqa: E402

BENCH_QUERIES = [
    "reading_order_sort", "offset_cumsum", "reading_text_assembly",
    "glyph_fix", "content_hashes", "doc_metrics", "chunk_quality",
    "dedup_exact", "dedup_minhash_lsh_pairs", "dedup_ngram_jaccard",
    "lang_id", "doc_fingerprint", "embedding_topk", "simhash_fingerprints",
    "tpch_q1_pricing_summary", "sessionize", "tumbling_window_agg",
    "chunk_layout_spans",
    # round 2 additions
    "simhash_near_pairs", "embedding_topk_lsh", "embedding_near_dups",
    "sheet_clip_spans", "region_normalize", "media_image_features",
    "media_frame_sample", "size_gate", "doc_winnowing", "embedding_topk_ivf",
    # round 3 additions
    "media_dedup_hamming", "chunk_type_classify", "chunks_indexed",
    "media_audio_windows",
    # round 4 additions
    "table_metadata_mine", "chunk_embedding_text", "chunk_text_offsets",
    "product_metadata_agg", "dedup_components", "corpus_curate",
    "stuck_jobs", "doc_repetition", "paragraph_dedup", "media_object_store",
    "url_ingest", "decontaminate", "pii_redact", "pack_training_sequences",
    "mixture_sample", "corpus_mixture_stats", "corpus_split",
    "packing_report", "quality_resample",
    # round 4 continuation: search fusion / linking / url curation
    "search_weight_profiles", "search_strategy_fusion",
    "search_keyword_score", "search_hybrid_fusion", "search_mmr_rerank",
    "entity_link_chunks", "entity_link_images", "url_quality_gate",
    "domain_cap_sample", "similarity_floor_stats",
    # round 4 continuation: page ledger / gopher / n-gram LM
    "page_embed_plan", "page_embed_outcomes", "page_embed_summary",
    "gopher_quality", "ngram_lm_counts", "ngram_lm_perplexity",
    # round 4 continuation: cascade deletion / orphan sweep
    "cascade_scope", "cascade_wipe_stats", "orphan_scan",
    # round 4 continuation: LLM-metadata post-processing
    "metadata_postprocess", "metadata_fallback_extract",
    "property_categories",
    # round 4 continuation: smart section extraction
    "section_header_hits", "smart_sections",
    # round 4 continuation: facet canonicalization
    "facet_collect_raw", "facet_resolve",
    # round 4 continuation: checkpoint recovery audit
    "checkpoint_resume", "checkpoint_audit",
    # round 4 continuation: table profiler
    "table_profile",
    # round 4 continuation: price-monitoring stack
    "price_market_stats", "price_sanity_flags", "price_volatility",
    "price_current_snapshot", "price_drop_alerts", "price_brand_index",
    # round 4 continuation: per-domain template removal
    "template_strip", "template_stats",
    # round 4 continuation: classifier inference / TF-IDF terms
    "quality_classifier", "tfidf_terms",
    # round 4 continuation: mention-opportunity generation
    "mention_trending", "mention_outlets", "mention_authors",
    "mention_sentiment", "mention_feed",
    # round 4 continuation: product-identity gates
    "identity_url_prefilter", "identity_slug_tokens",
    "identity_rule_verdict", "match_plausibility",
    # round 4 continuation: markdown product mining + dimensions
    "product_markdown_classify", "product_markdown_mine",
    "product_chunk_gate", "dims_parse_first", "dims_extract_all",
    # round 4 continuation: factory-gated duplicate detection
    "dup_detect_scores", "factory_keys_norm",
    # round 4 continuation: metadata normalization tier
    "field_standardize", "material_category_norm",
    "commercial_consolidate",
    # round 4 continuation: saved-search dedup / find-or-merge
    "search_merge_gate", "search_find_or_merge",
    # round 4 continuation: AI cost accounting
    "ai_cost_per_call", "ai_cost_rollup", "ai_cost_multimodal",
    # round 4 continuation: job-listing curation gates
    "job_listing_gate", "job_dedupe_hits", "job_query_variations",
    "job_posted_at_norm", "job_refresh_cascade", "job_refresh_outcome",
    "job_refresh_plan", "job_feed_fallback", "job_source_report",
    # round 4 continuation: product enrichment field mining
    "product_field_mine", "vision_rollup", "propagate_fields",
    "enrich_merge_fields", "product_embedding_text",
    "product_default_unit", "product_factory_object",
    # round 4 continuation: stage-0 discovery routing
    "discovery_validate", "discovery_page_ranges",
    "discovery_folio_offset",
    # round 4 continuation: discovery text tier
    "discovery_page_markers", "discovery_sections",
    # round 4 continuation: rule-based material properties
    "material_props_rules",
    # round 4 continuation: Tier-A packing-spec row parser
    "spec_row_parse",
    # round 4 continuation: ai-validation tier
    "chunk_boundaries", "boundary_groups", "consensus_validate",
    "classifier_parse",
    # round 4 continuation: product merge + validation
    "product_merge_fields", "merge_transfer_rels", "product_validate",
    # round 4 continuation: search suggestions
    "search_autocomplete", "typo_corrections", "query_expand",
    # round 4 continuation: relevancy links + timestamp fix
    "relevancy_page_links", "timestamp_normalize",
    # round 4 continuation: catalog page-layout classifier
    "catalog_page_classify",
    # round 4 continuation: quality scoring tier
    "quality_score_images", "quality_score_chunks",
    "quality_score_products",
    # round 4 continuation: search-query tracking
    "search_terms_extract", "unmatched_term_freq",
    # round 4 continuation: entity-product matching
    "entity_product_match",
    # round 4 continuation: visual-search analytics
    "visual_search_analytics", "image_rerank_7vec",
    # round 4 continuation: chunk metadata mining
    "product_meta_extract", "product_name_extract",
    "metadata_scope_detect", "smart_section_extract",
    "price_rule_shortcut", "price_source_merge",
    "price_cross_discrepancies", "price_greek_merge",
    # round 4 continuation: icon routing + vision JSON validation
    "icon_route_split", "vision_json_validate",
    "price_source_label",
    # round 4 continuation: salary/sentiment/consolidation tier
    "salary_normalize", "sentiment_fallback", "metadata_consolidate",
    # round 4 continuation: recipes / source curation / facet sweep
    "recipe_select", "source_site_actions", "facet_sweep_plan",
    "facet_sweep_summary",
    # round 4 continuation: image-product associations
    "image_product_assoc", "image_product_assoc_limits",
    "image_product_assoc_stats",
    # round 4 continuation: job rule-tier classification
    "job_rule_classify", "job_non_posting",
    # round 4 continuation: SERP parse + opportunity builders
    "serp_blocks_parse", "serp_opportunities",
    # round 4 continuation: keyword / LLM-visibility / domain cards
    "mention_seed_fallback", "keyword_opportunity_cards",
    "llm_visibility_cards", "domain_snapshot_cards",
    # round 4 continuation: mention discovery curation
    "mention_url_enrich", "mention_fanout", "mention_hits_dedupe",
    "mention_summary_30d", "mention_anomalies", "mention_velocity",
    # round 4 continuation: spec-vision halo
    "spec_page_resolve", "spec_result_merge", "spec_metadata_map",
    # round 4 continuation: validation middleware gates
    "request_security_gate", "payload_sanitize",
    "response_security_flags",
    # round 4 continuation: job progress tracker
    "job_progress_rollup", "job_page_statuses",
    # round 4 continuation-3: tracking/registry/backfill/edges batch
    "product_progress_fold", "job_product_summary",
    "page_number_overlay", "page_numbering_stats",
    "prototype_validate", "stuck_job_diagnosis", "stuck_job_stats",
    "job_monitor_detect", "import_job_recovery",
    "xml_import_progress", "material_quota_clamp",
    "keyword_expansion_curate", "query_cache_fold",
    "text_backfill_products", "text_backfill_chunks",
    "product_rule_edges", "llm_edge_postprocess", "edge_text_gate",
    "job_persistence_fold", "job_recovery_stats",
    "image_backfill_select", "image_classification_outcomes",
    "category_prompt_build", "monitor_alert_fold", "pbr_maps",
    "storage_cleanup_scope", "aimd_fold",
    # round 4 continuation-8: catalog kb / validation / perf / ocr /
    # billing / marketplace batches
    "catalog_knowledge_pages", "catalog_legend_extract",
    "legend_cert_propagate", "catalog_legend_kb_docs",
    "security_scan_violations", "security_sanitize",
    "schema_registry_lookup", "validation_error_responses",
    "perf_aggregated_stats", "perf_threshold_alerts",
    "ocr_attempt_ladder", "ocr_gpu_cost", "external_unit_cost",
    "replicate_generation_cost", "marketplace_facet_match",
    "skroutz_hit_assembly",
    # round 4 continuation-9: vision-analysis serialization folds
    "va_legacy_coerce", "va_understanding_text", "va_aspect_texts",
    "va_embed_slots",
    # round 4 continuation-9: public-tools quota/cache/scan ladder
    "public_query_hash", "public_quota_check", "public_market_stats",
    "public_scan_ladder", "mention_facets_build", "mention_hit_shape",
    "mention_top_outlets",
    # round 4 continuation-9: vecs multi-collection fusion
    "vecs_multi_fusion", "vecs_collection_stats",
    # round 4 continuation-9: image-analysis props + quality
    "image_props_extract", "image_props_vision_only",
    "image_quality_unified",
    # round 4 continuation-10: extraction-status rollup
    "product_field_coverage", "doc_extraction_status",
    # round 4 continuation-11: stage-0 creation ledger
    "stage0_product_ledger", "stage0_creation_summary",
    # round 4 continuation-13: stage-2 chunking plan + auth gating
    "stage2_chunk_plan", "stage2_page_texts",
    "auth_path_gate", "auth_token_resolve", "auth_workspace_context",
    "job_status_admin", "job_restart_plan", "job_list_page",
    "search_enhance_images", "rag_ws_authz",
    "kb_doc_upsert", "kb_search_validate", "kb_rpc_args",
    "stage_timeouts", "retry_schedule", "retry_classify",
    "claude_payload_build", "claude_response_parse",
    # round 4 continuation-14: admin prompt management
    "prompt_list", "prompt_update_resolve", "prompt_history_top5",
    # round 4 continuation-14: error taxonomy + product fan-out
    "error_response_build", "error_wrap_resolve",
    "product_fanout_plan", "product_fanout_rollup",
    "product_failure_rows", "product_progress_ladder",
    # round 4 continuation-14: unified health-check folds
    "health_status_rollup", "health_resource_gate",
    "health_summary_counts", "exception_handler_dispatch",
    # round 4 continuation-14: OCR result shaping
    "ocr_result_fold", "ocr_blocks_pixels", "ocr_confidence_agg",
    "ocr_simple_text", "ocr_icon_fragments",
    # round 4 continuation-14: background-agent folds
    "agent_run_gate", "agent_batch_plan", "agent_fence_strip",
    "agent_update_build", "agent_run_rollup",
    # round 4 continuation 16: sequential replays + heavier folds
    "circuit_breaker_replay", "resource_lifecycle_replay",
    "export_rate_replay", "save_image_row", "api_key_gate",
    "desc_chunks_assemble", "template_prompt_resolve",
    "query_metrics_tables", "ai_metrics_model_usage",
    "credits_ai_debit", "request_log_route", "log_sink_gate",
    # round 4 continuation 17: tracking/adapter/window folds
    "processing_lock_replay", "lazy_component_replay",
    "project_list_filter", "project_task_rollup",
    "job_refresh_credit", "mention_refresh_credit",
    "bestprice_hit_assembly", "shopflix_outcome",
    "idealo_listing_filter", "job_sites_render",
    "job_sites_bulk_clean", "extraction_prompt_resolve",
    "slig_resize_plan", "paddle_region_fold", "rasterize_plan",
    # round 4 continuation 18: facet admin views + doc-entity routes
    "facet_canonicals_view", "facet_merge_log_view",
    "facet_lock_outcomes", "doc_entities_admin_query",
    "doc_entities_for_product", "doc_entities_by_factory",
    "chunk_page_dispatch", "chunk_dispatch_rollup",
    "icon_spec_rollup", "icon_unknown_counts", "product_body_text",
    "tracked_latest_results", "tracked_results_split",
    "tracked_exclusion_norm", "tracked_due_refresh",
    "job_terminal_updates", "job_orphan_sweep", "job_docs_mirror",
    "startup_resume_outcomes", "startup_resume_summary",
    "rag_jobs_list", "rag_job_delete_mode",
    "admin_jobs_list", "admin_job_distributions", "admin_job_scalars",
    "admin_cancel_outcomes", "admin_cleanup_scope",
    "google_jobs_parse", "kb_chunk_expand", "kb_expand_stats",
    "read_section_requests", "read_section_pdf",
    "temp_sweep_classify", "temp_sweep_summary",
    "kb_save_chunk_rows", "kb_save_image_rows",
]

# queries whose single-shot wall is dominated by first-invocation JIT /
# codegen (measured in BASELINE.md): these additionally get a steady-state
# column — median of STEADY_REPEATS consecutive runs — so the PLAN is
# graded, not the JIT (round-3 verdict item 7). Single-shot numbers stay
# for cross-round comparability.
STEADY_QUERIES = {
    "chunk_layout_spans", "chunks_indexed", "embedding_topk_lsh",
    "embedding_near_dups", "media_dedup_hamming", "doc_winnowing",
    "dedup_ngram_jaccard", "sheet_clip_spans", "decontaminate",
    "ngram_lm_perplexity",
}
STEADY_REPEATS = int(os.environ.get("SPARK_GRAFT_STEADY_REPEATS", "3"))


def run_extraction_bench(spark, sf_dir: str) -> tuple[float, int]:
    # stage the synthesized input to parquet once (the production source is
    # a columnar table scan; a localCheckpoint would pin the corpus in the
    # JVM heap as deserialized objects, which every GC then scans)
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    corpus = f"/tmp/bench_corpus_{sf_tag}"
    if not os.path.exists(corpus + "/_SUCCESS"):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        (with_synthetic_giants(docs, every=500, repeat=80)
         .repartition(64).write.mode("overwrite").parquet(corpus))
    spans = spark.read.parquet(corpus)
    n_docs = spans.count()
    # warm the Python workers (fork + numpy/pandas import) and JIT: time
    # the steady state, best of 2
    spark.range(256).repartition(256).mapInPandas(
        lambda it: it, "id long").count()
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        out = run_extract_skewed(spans)
        # a real action that touches every span array but returns scalars
        out.selectExpr("sum(n_spans)", "sum(n_chars)", "count(*)").collect()
        best = min(best, time.time() - t0)
    return best, n_docs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) \
        if "sf" in sf_dir else 0.0

    spark = build_session(app_name="bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    wall, n_docs = run_extraction_bench(spark, sf_dir)
    docs_per_sec = n_docs / wall if wall > 0 else 0.0

    queries = entrymod.queries()
    timings: dict[str, float] = {"extract_pipeline_skewed": round(wall, 3)}
    steady: dict[str, float] = {}
    for name in BENCH_QUERIES:
        fn = queries.get(name)
        if fn is None:
            continue
        walls = []
        reps = (STEADY_REPEATS if name in STEADY_QUERIES
                and STEADY_REPEATS > 1 else 1)
        try:
            for _ in range(reps):
                t0 = time.time()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                walls.append(time.time() - t0)
                if len(walls) == 1:
                    # record the comparable single-shot wall immediately so
                    # a failure in a LATER steady repeat can't discard it
                    timings[name] = round(walls[0], 3)
                release_cached()
            if reps > 1:
                steady[name] = round(sorted(walls)[len(walls) // 2], 3)
        except Exception:  # noqa: BLE001
            if not walls:
                timings[name] = -1.0
        finally:
            # drop operator-internal persisted intermediates (bucketed
            # corpora, signature tables) so a long query loop doesn't
            # accumulate storage — including when a query THROWS
            release_cached()

    # full per-query map -> sidecar file (300+ entries outgrew what the
    # driver parses from stdout: BENCH_r04.json came back "parsed": null
    # with only a 2000-char tail). The FINAL stdout line stays compact:
    # headline throughput + the steady-graded subset + suite rollups.
    full = {
        "metric": "extraction_wall_sec_and_query_suite",
        "value": round(wall, 3),
        "unit": "sec",
        "queries": timings,
        "queries_steady": steady,
        "sf": sf,
        "docs": n_docs,
        "docs_per_sec": round(docs_per_sec, 2),
        "cpus": int(cpus),
    }
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           f"BENCH_FULL_sf{sf}.json")
    with open(sidecar, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)

    ok_walls = sorted(((v, k) for k, v in timings.items() if v >= 0),
                      reverse=True)
    compact_queries = {"extract_pipeline_skewed": round(wall, 3)}
    compact_queries.update(steady)
    for v, k in ok_walls[:8]:  # slowest single-shots still visible
        compact_queries.setdefault(k, v)
    print(json.dumps({
        "metric": "docs_per_sec",
        "value": round(docs_per_sec, 2),
        "unit": "docs/sec",
        "queries": compact_queries,
        "sf": sf,
        "docs": n_docs,
        "extraction_wall_sec": round(wall, 3),
        "suite": {
            "n_queries": len(timings),
            "n_failed": sum(1 for v in timings.values() if v < 0),
            "total_wall_sec": round(sum(v for v in timings.values()
                                        if v >= 0), 1),
            "steady_median_total_sec": round(sum(steady.values()), 2),
        },
        "cpus": int(cpus),
        "full_map": os.path.basename(sidecar),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
