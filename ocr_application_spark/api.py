"""Engine facade — the public surface of SURVEY §2.8.

One import gives a user of the reference every stage it had, as lazy
DataFrame transforms::

    from ocr_application_spark import api

    pages      = api.read_pages(spark, path)        # S1/S7
    extracted  = api.extract(pages)                 # K1+K2+K6+K7+K8 fused
    classified = api.recognize(extracted)           # K1: already in extract
    spans      = api.segment(pages)                 # K7 span records
    fields     = api.structure(spans)               # K9 (deterministic)
    tarifs     = api.tarify(lines, catalog)         # J1+A1-A4
    fc         = api.forecast_linear(spark, sf_dir) # A7
    lin        = api.lineage(extracted)             # A5
    bad        = api.verify(extracted, reference)   # digest equi-join

``extract`` is ONE Arrow-batched kernel that extracts and classifies
each batch (doc_class, confidence ride in its output), so ``recognize``
returns its input unchanged; it stays for callers written against the
separate-stage chain of the reference.

Incremental recrawl ingest (each O(increment); the corpus is never
re-processed)::

    v, _ = api.fingerprint_index_ingest(spark, idx, docs)   # exact
    v, _ = api.minhash_index_ingest(spark, idx2, docs)      # near-dup
    v, _ = api.embedding_index_ingest(spark, idx3, vecs)    # semantic
    api.append_to_inverted_file(spark, ivf, cent, vecs)     # ANN index
    api.run_stream_ingest(spark, src, idx, out, ckpt)       # streaming
    # ... family="minhash" / "semantic" for the near-dup / vector feeds
    api.release_slot("fingerprint_index_ingest")  # free the last
    # ingest's bounded cache once a long-lived session is done ingesting
"""

from __future__ import annotations

from ocr_application_spark.analytics.tarification import (  # noqa: F401
    monthly_series,
    parse_catalog,
    reserve_estimate,
    summarize,
    tarify,
)
from ocr_application_spark.kernels.classify import classify as recognize  # noqa: F401
from ocr_application_spark.kernels.extract import extract, quarantine_split  # noqa: F401
from ocr_application_spark.kernels.links import (  # noqa: F401
    extract_anchors,
    extract_outlinks,
    host_link_edges,
    host_pagerank,
)
from ocr_application_spark.kernels.normalize import normalize  # noqa: F401
from ocr_application_spark.kernels.segment import segment  # noqa: F401
from ocr_application_spark.lineage import bucket_lineage as lineage  # noqa: F401
from ocr_application_spark.operators.asof import asof_join  # noqa: F401
from ocr_application_spark.operators.groupstats import group_percentiles  # noqa: F401
from ocr_application_spark.operators.heavyhitters import heavy_hitters  # noqa: F401
from ocr_application_spark.operators.entropy import (  # noqa: F401
    char_entropy_cols,
    compression_ratio,
)
from ocr_application_spark.operators.lm import (  # noqa: F401
    bigram_lm_tables,
    score_documents,
)
from ocr_application_spark.operators.buckets_entry import (  # noqa: F401
    bucketed_join,
    write_bucketed,
)
from ocr_application_spark.sources.warc import (  # noqa: F401
    pack_wet_segments,
    parse_wet_bytes,
    parse_wet_segments,
)
from ocr_application_spark.operators.sketches import (  # noqa: F401
    bloom_antijoin_new,
    bloom_build,
    bloom_merge,
    bloom_probe,
    cms_build,
    cms_merge,
    cms_query,
    kmv_distinct,
    kmv_merge,
    kmv_overlap,
)
from ocr_application_spark.operators.forecast import (  # noqa: F401
    forecast_ar1,
    forecast_arima_like,
    forecast_linear,
)
from ocr_application_spark.pipeline import (  # noqa: F401
    extract_pages,
    run_to_table,
    verify_digests as verify,
)
from ocr_application_spark.operators.curation import (  # noqa: F401
    decontaminate_13gram,
    dedup_consecutive_lines,
    dedup_paragraphs,
    sample_epochs_weighted,
    sample_stratified,
    sample_token_budget,
    shard_shuffle,
    text_c4_line_filter,
    text_gopher_quality,
    text_pii_scrub,
)
from ocr_application_spark.operators.dedup import (  # noqa: F401
    fingerprint_index_ingest,
    minhash_candidate_pairs,
    minhash_index_ingest,
    winnow_fingerprints,
    winnow_index_ingest,
)
from ocr_application_spark.operators.similarity import (  # noqa: F401
    embedding_index_ingest,
)
from ocr_application_spark.operators.ann_ivf import (  # noqa: F401
    append_to_inverted_file,
    build_inverted_file,
    probe_inverted_file,
)
from ocr_application_spark.session import (  # noqa: F401
    get_spark,
    release_slot,
)
from ocr_application_spark.streaming.stream import (  # noqa: F401
    run_stream_ingest,
    run_wet_stream_to_table,
)
from ocr_application_spark.operators.bpe import (  # noqa: F401
    bpe_apply,
    bpe_train,
    word_histogram,
)
from ocr_application_spark.operators.urlops import (  # noqa: F401
    build_cdx_index,
    canonical_url,
    cdx_lookup,
    surt_key,
    url_crawl_filter,
)
from ocr_application_spark.sources.snapshots import (  # noqa: F401
    SchemaEvolutionError,
    SnapshotConflictError,
    commit as commit_snapshot,
    create_branch,
    create_tag,
    delete_pages,
    drop_ref,
    compact as compact_table,
    compact_small_files,
    expire_snapshots,
    gc_orphan_files,
    list_refs,
    merge_pages,
    plan_scan,
    publish_branch,
    read_snapshot,
    read_snapshot_diff,
    rollback,
    scan_snapshot,
    snapshot_info,
    snapshot_versions,
)
from ocr_application_spark.sources.webpages import (  # noqa: F401
    brand_bucket,
    read_pages,
    synth_pages,
    with_bucket,
    write_pages,
)
from ocr_application_spark.operators.charset_sniff import (  # noqa: F401
    extract_charset_sniff,
    sniff_charset,
)
from ocr_application_spark.operators.quantile_sketch import (  # noqa: F401
    hdr_build,
    hdr_merge,
    hdr_quantiles,
    sketch_hdr_quantiles,
)
from ocr_application_spark.operators.unicode_norm import (  # noqa: F401
    nfc_normalize_py,
    nfc_normalize_text,
    text_nfc_normalize,
)
from ocr_application_spark.structure import structure  # noqa: F401
