"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction pipeline over sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 +
training-data-pipeline ops); each callable takes (spark, sf_dir).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query (omitted only
for kernel ops whose semantics aren't SQL-expressible; those get the
driver's rows-only check).

Both registries live in ``ocr_application_spark.operators.registry``:
each operator module registers its queries with ``@op(name, oracle)``,
and ``queries()``/``oracle_sql()`` import every module of
``ocr_application_spark.operators`` to fill them. ``queries()`` then
puts the pinned driver window (``_WINDOW``) first.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: wrap the sf0.001 documents table into web pages, run the
    full extraction pipeline (bucket -> mapInPandas extract -> classify),
    return (url, doc_class, method, status, n_chars, digest)."""
    from ocr_application_spark.datagen.docwrap import documents_as_pages
    from ocr_application_spark.pipeline import extract_pages

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = extract_pages(documents_as_pages(docs))
    return out.select("url", "doc_class", "method", "status", "n_chars", "digest")


# ---------------------------------------------------------------------
# r05 driver window (VERDICT r04 "Next round" #1). The driver's
# correctness gate samples queries()[:50]; `_WINDOW` pins those 50 slots
# explicitly, in order. Composition:
#   - 4 permanent anchors (the flagship digest + the incremental-ingest
#     family, per the judge's standing instruction),
#   - the 26 post-freeze r04 ops (`_NEW_R04_OUTSIDE` last round) that
#     have never had a hard driver row — the judge's #1 rotate-in set,
#   - the 4 engine demonstrators that have likewise never been
#     driver-sampled (`events_rollup_daily`, `group_percentiles_chars`,
#     `text_heavy_hitters`, `bucketed_colocated_join` — oracle-paired,
#     previously outside-by-design; their slots close the last
#     never-driver-checked rotatables),
#   - the rest filled with prior-green flagships (preferring ones this
#     round's code touches); new r05 ops displace fills from the bottom
#     as they land (a displaced fill is prior-driver-green, so it may
#     legally sit outside — pinned by the window test).
# Everything OUTSIDE the window must be prior-driver-green
# (`_PRIOR_DRIVER_GREEN`, the union of green rows across
# CORRECTNESS_r01-r04) or rows-only-by-design;
# tests/test_oracle_parity.py enforces this.
_WINDOW = (
    "pipeline_extract_digest",
    "dedup_incremental_ingest",
    "neardup_incremental_ingest",
    "semantic_incremental_ingest",
    # --- the 26 never-driver-checked post-freeze r04 ops ---
    "cdc_incremental_ingest",
    "classify_calibration_report",
    "corpus_zipf_report",
    "crawl_frontier_priority",
    "crawl_sitemap_discovery",
    "dedup_cdc_chunks",
    "link_host_components",
    "page_markdown",
    "split_leakage_report",
    "text_confusable_fold",
    "text_window_chunks",
    "multimodal_phash",
    "multimodal_phash_pairs",
    "text_script_mix",
    "emb_kmeans_assign",
    "emb_semdedup",
    "url_sitemap_index",
    "page_hreflang_clusters",
    "page_pagination_series",
    "text_word_blocklist",
    "text_sentence_split",
    "text_fk_readability",
    "crawl_delay_directives",
    "host_quality_report",
    "page_heading_outline",
    "page_section_chunks",
    # --- the 4 never-driver-sampled engine demonstrators ---
    "events_rollup_daily",
    "group_percentiles_chars",
    "text_heavy_hitters",
    "bucketed_colocated_join",
    # --- prior-green fills (new r05 ops displace from the bottom) ---
    "text_vocabulary",  # touched r05: bounded-window WARN silencing
    "corpus_clean_pipeline",
    "crawl_acquisition_pipeline",
    "snapshot_merge_upsert",
    "tarification_pipeline",
    "forecast_arima_like",
    "skew_salted_host_stats",
    "link_host_pagerank",  # touched r05: crawl_priority_pipeline composition
    "url_canonicalize",
    "text_gopher_quality",
    "dedup_minhash_lsh",
    "emb_neardup_multiprobe",
    "ann_ivf_exhaustive",
    "sample_stratified",
    "crawl_priority_pipeline",  # new r05: PageRank->frontier->slots chain
    "page_bitext_candidates",  # new r05: cross-lingual pairs from hreflang
)

# Names with a green driver row in some prior round (union of
# CORRECTNESS_r01..r04 rows with all three checks true). Local oracle
# parity still runs the identical comparison on every one of these each
# pytest run; a name may sit outside the 50-slot window only if it is
# here or rows-only-by-design.
_PRIOR_DRIVER_GREEN = (
    "a1_a2_tarification_totals", "a3_mean_nonzero", "a4_monthly_sums",
    "a5_corpus_counts", "a6_doc_bbox", "ann_cosine_topk",
    "ann_ivf_exhaustive", "ann_lsh_buckets", "boilerplate_strip_source",
    "classify_docwrap", "classify_nb_langid", "corpus_clean_pipeline",
    "crawl_acquisition_pipeline", "crawl_cache_headers",
    "crawl_feed_discover", "crawl_feed_parse", "crawl_politeness_schedule",
    "crawl_recrawl_candidates", "crawl_robots_filter", "crawl_robots_parse",
    "decontaminate_13gram", "dedup_bloom_antijoin", "dedup_components",
    "dedup_components_star", "dedup_consecutive_lines", "dedup_containment",
    "dedup_exact", "dedup_incremental_ingest", "dedup_minhash_band_dial",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_paragraphs",
    "dedup_simhash", "dedup_span_ratio", "dedup_span_strip", "dedup_winnow",
    "emb_neardup_components", "emb_neardup_multiprobe", "emb_neardup_pairs",
    "events_asof_profile", "events_interval_overlap",
    "extract_charset_sniff", "extract_yield_report",
    "f11_json_block_extract", "f6_field_keywords", "f7_table_size_filter",
    "f_record_filters", "forecast_ar1", "forecast_arima_like",
    "forecast_linear", "html_table_extract", "j1_fuzzy_catalog_match",
    "j2_label_value_pairing", "j3_region_table_antijoin", "j4_iou_dedup",
    "kernel_normalize", "link_anchor_texts", "link_host_hits",
    "link_host_pagerank", "link_outdegree", "multimodal_enhance",
    "multimodal_features", "multimodal_frame_sample", "multimodal_resize",
    "neardup_incremental_ingest", "overlap_incremental_ingest",
    "page_index_gate", "page_jsonld_extract", "page_meta_extract",
    "page_og_extract", "pipeline_extract_digest", "sample_domain_mix",
    "sample_dsir_topk", "sample_epochs_weighted", "sample_stratified",
    "sample_token_budget", "semantic_incremental_ingest", "seq_pack",
    "shard_shuffle", "sketch_bloom_seen", "sketch_cms_counts",
    "sketch_hdr_quantiles", "sketch_kmv_distinct", "sketch_kmv_merged",
    "sketch_kmv_overlap", "skew_salted_host_stats", "snapshot_delete_rows",
    "snapshot_drift_report", "snapshot_merge_upsert",
    "snapshot_wap_publish", "snapshot_zorder_scan",
    "streaming_extract_digest", "tarification_pipeline", "text_bm25_topk",
    "text_c4_line_filter", "text_char_entropy", "text_fingerprint",
    "text_gopher_quality", "text_gopher_repetition", "text_hashed_tfidf",
    "text_lang_segments", "text_langid_heuristic", "text_lm_score",
    "text_nfc_normalize", "text_pii_scrub", "text_pmi_collocations",
    "text_quality_score", "text_rank_quality", "text_token_stats",
    "text_vocabulary", "url_canonical_dupes", "url_canonicalize",
    "url_crawl_filter", "url_holdout_split", "url_param_mining",
    "url_redirect_resolve", "url_sitemap_extract", "url_surt_index",
    "w1_reading_order", "w2_line_sessionize", "w3_topk_area",
    "w4_top1_argmax", "w5_sweep_merge", "warc_response_roundtrip",
    "warc_revisit_resolve", "warc_wet_roundtrip",
)

# Historical note (r03): the pre-r04 ordering was expressed inversely, as
# a `_ROTATED_BACK` list pushing prior-green names to the back; the
# per-op rotation rationale that lived here is preserved in git history
# (see the r03 tree) and summarized in COVERAGE.md.
# Rows-only by design (no SQL-expressible oracle; rationale per op in
# COVERAGE.md). Deliberately outside the window: a slot would buy only
# the weak rows-only check while a value-checking twin or differential
# pytest already pins each one.
_ROWS_ONLY_BY_DESIGN = ("text_compression_ratio", "ann_pq_topk", "ann_ivf_topk")

# New r05 ops that land AFTER the 50-slot window fills (r04's
# `_NEW_R04_OUTSIDE` set was emptied by the r05 rotation — all 26 are
# now IN the window, per VERDICT r04 "Next round" #1). Any op added
# here runs the driver-identical oracle compare at sf0.001
# (test_oracle_parity) AND at the driver's sf0.01
# (test_oracle_parity_sf01 STALE_OUTSIDE) every pytest run; rotate it
# into the next round's window.
_NEW_R05_OUTSIDE = ()


def _rotate(entries: dict) -> dict:
    front = {n: entries[n] for n in _WINDOW if n in entries}
    front.update((n, v) for n, v in entries.items() if n not in front)
    return front


def _registry():
    """The operator registry, after importing every operator module
    (each registers its queries at import)."""
    from ocr_application_spark import operators
    from ocr_application_spark.operators import registry

    for m in pkgutil.iter_modules(operators.__path__):
        importlib.import_module(f"{operators.__name__}.{m.name}")
    return registry


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _rotate(_registry().QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_registry().ORACLES)
