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
    full extraction pipeline (bucket -> fused mapInPandas extract + classify),
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
# Everything OUTSIDE the window must be prior-driver-green (all three
# checks true in some CORRECTNESS_r*.json) or rows-only by design (no
# oracle; rationale per op in COVERAGE.md): tests/test_oracle_parity.py
# derives both sets and enforces this.
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
