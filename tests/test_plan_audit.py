"""Physical-plan audits: the optimizer properties the engine relies on
at 100 TB must actually appear in the executed plan, not just in
docstrings.

Checked per operator family:
  * predicate pushdown + column pruning reach the parquet scan
    (PushedFilters / ReadSchema),
  * small dimensions broadcast (BroadcastExchange), big sides never
    CartesianProduct,
  * top-k windows use the WindowGroupLimit pushdown (rank pruned before
    the full sort),
  * shuffle (Exchange) counts stay at the designed minimum for the
    dedup plans.

Plans are captured via explain("formatted") at sf0.001; plan SHAPE is
scale-invariant (AQE may re-plan sizes at runtime, not operators
chosen here — broadcast sides are explicit, not size-estimated).
"""

import contextlib
import io
import re

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

_QUERIES = entrymod.queries()


def plan_of(spark, name: str) -> str:
    df = _QUERIES[name](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_dedup_exact_prunes_to_two_columns(spark):
    plan = plan_of(spark, "dedup_exact")
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {"struct", "doc_id", "text"}


def test_j1_broadcasts_the_catalog(spark):
    plan = plan_of(spark, "j1_fuzzy_catalog_match")
    assert "BroadcastExchange" in plan
    assert "BroadcastNestedLoopJoin" in plan  # theta join, small side shipped


def test_j3_j4_are_not_cartesian(spark):
    for name in ("j3_region_table_antijoin", "j4_iou_dedup"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        # equi keys (doc_id) hash/merge the join; range stays residual
        assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan), name


def test_w3_topk_uses_window_group_limit(spark):
    plan = plan_of(spark, "w3_topk_area")
    assert "WindowGroupLimit" in plan


def test_ann_cosine_broadcasts_queries(spark):
    plan = plan_of(spark, "ann_cosine_topk")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_minhash_single_wide_exchange_over_shingles(spark):
    # designed plan: one groupBy(doc_id) exchange over shingle volume,
    # then the (tiny) band self-join; no third shuffle of raw shingles
    plan = plan_of(spark, "dedup_minhash_lsh")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert 1 <= n_exchanges <= 2, f"{n_exchanges} exchanges:\n{plan}"


def test_jaccard_posting_plan_shuffles(spark):
    # groupBy(h) posting exchange + pair-count exchange; sizes ride along
    plan = plan_of(spark, "dedup_ngram_jaccard")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert 1 <= n_exchanges <= 2, f"{n_exchanges} exchanges:\n{plan}"


def test_extract_stage_is_shuffle_free(spark):
    # scan -> mapInPandas extraction kernel -> classify: narrow end-to-end
    from ocr_application_spark.datagen.docwrap import documents_as_pages
    from ocr_application_spark.kernels.extract import extract

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = extract(documents_as_pages(docs))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan


def test_run_to_table_extraction_crosses_into_python_once(
    spark, tmpdir_scratch, monkeypatch
):
    # the frame run_to_table persists and sinks: one MapInPandas (the
    # fused extract + classify kernel) and no (Arrow)EvalPython stage
    import ocr_application_spark.pipeline as pl
    from ocr_application_spark.sources.webpages import read_pages, synth_pages, write_pages

    write_pages(synth_pages(spark, 40), tmpdir_scratch + "/pages", n_buckets=4)
    split, seen = pl.quarantine_split, []

    def spy(extracted):
        seen.append(extracted)
        return split(extracted)

    monkeypatch.setattr(pl, "quarantine_split", spy)
    pl.run_to_table(
        read_pages(spark, tmpdir_scratch + "/pages"), spark,
        tmpdir_scratch + "/out", tmpdir_scratch + "/lin", n_buckets=4,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        seen[0].explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    assert "EvalPython" not in plan, plan


def test_whole_stage_codegen_in_relational_queries(spark):
    # AQE finalizes the physical plan at execution; the `*(n)` prefixes in
    # the executed plan are the whole-stage-codegen stage markers
    df = _QUERIES["f_record_filters"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in executed, f"no codegen stages\n{executed}"


def test_url_canonicalize_is_narrow_and_udf_free(spark):
    # pure column expressions: no python runner, no shuffle — the whole
    # canonicalizer fuses into the scan stage
    plan = plan_of(spark, "url_canonicalize")
    assert "Exchange" not in plan, plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    # column pruning: url synthesis only needs doc_id
    assert m and "text" not in m.group(1), m and m.group(1)


def test_url_dupes_single_exchange_on_canonical_key(spark):
    # one shuffle, keyed by the downstream partitioning key
    plan = plan_of(spark, "url_canonical_dupes")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_frame_sample_is_shuffle_free(spark):
    # binary -> per-frame fan-out stays narrow (no shuffle, one python stage)
    plan = plan_of(spark, "multimodal_frame_sample")
    assert "Exchange" not in plan, plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan


def test_classify_docwrap_is_shuffle_free_single_infer(spark):
    # scan -> wrap (MapInPandas) -> extract + classify (ONE fused
    # MapInPandas: the kernel classifies the batch it extracts) ->
    # project; no ArrowEvalPython round trip, no shuffle
    plan = plan_of(spark, "classify_docwrap")
    assert "Exchange" not in plan, plan
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 0, plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 2, plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {
        "struct", "doc_id", "text", "lang"
    }, m and m.group(1)


def test_multimodal_enhance_is_narrow_and_pruned(spark):
    plan = plan_of(spark, "multimodal_enhance")
    assert "Exchange" not in plan, plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {
        "struct", "doc_id", "text"
    }, m and m.group(1)


def test_tarification_pipeline_broadcasts_no_cartesian(spark):
    # catalog + the 1-row aggregate branches broadcast; the fuzzy theta
    # join must be a broadcast nested loop, never a cartesian product
    plan = plan_of(spark, "tarification_pipeline")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "BroadcastExchange" in plan, plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 8, f"{n_exchanges} exchanges:\n{plan}"


def test_forecast_arima_two_exchanges_one_kernel(spark):
    # monthly rollup exchange + groupBy(event_type) exchange feed ONE
    # grouped-map kernel invocation
    plan = plan_of(spark, "forecast_arima_like")
    assert len(re.findall(r"\(\d+\) FlatMapGroupsInPandas", plan)) == 1, plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 2, f"{n_exchanges} exchanges:\n{plan}"


def test_neardup_broadcast_bucket_join_no_shuffle(spark):
    # LSH-bucket equi self-join broadcasts one side: zero Exchange in the
    # whole plan; the per-vector norm/bucket projections sit BELOW the
    # join so the join condition folds one dot product per candidate
    # pair, not three
    plan = plan_of(spark, "emb_neardup_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange" not in plan.replace("BroadcastExchange", ""), plan


def test_corpus_clean_bounded_exchanges_no_udf(spark):
    # language + quality + dedup-survivor decision: pure built-ins; the
    # stopword ratio is array-side (no tokens->doc_id shuffle), so the
    # only exchanges left are the fingerprint aggregation + its join
    # alignment — no python stage anywhere
    plan = plan_of(spark, "corpus_clean_pipeline")
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(doc_id" not in plan, plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 4, f"{n_exchanges} exchanges:\n{plan}"


def test_vocabulary_top_k_is_take_ordered(spark):
    # top-200 cut must be TakeOrderedAndProject (distributed partial
    # top-k), never a global unpartitioned row_number window funneling
    # the whole vocabulary through one partition
    plan = plan_of(spark, "text_vocabulary")
    assert "TakeOrderedAndProject" in plan, plan


def test_pii_scrub_is_pure_jvm_narrow_scan(spark):
    # the redaction pass must be a single narrow projection: no Python
    # eval, no exchange, and the scan pruned to exactly (doc_id, text)
    plan = plan_of(spark, "text_pii_scrub")
    assert "EvalPython" not in plan, plan
    assert "Exchange" not in plan, plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {
        "struct", "doc_id", "text"
    }, m and m.group(1)


def test_decontaminate_broadcasts_benchmark_no_python(spark):
    # gram join: benchmark side broadcasts; everything stays JVM-side
    plan = plan_of(spark, "decontaminate_13gram")
    assert "EvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_paragraph_dedup_keeper_is_aggregation_not_window(spark):
    # the keeper per chunk-hash must be a partial-aggregating groupBy
    # (map-side combine; skew-safe on mega-duplicated boilerplate), not
    # a row_number window over the hash
    plan = plan_of(spark, "dedup_paragraphs")
    assert "EvalPython" not in plan, plan
    # exactly one Window allowed: none (the doc rebuild is an agg too)
    assert "(1) Window" not in plan and "WindowExec" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_stratified_sample_uses_window_group_limit(spark):
    # the per-stratum top-N must push the rank cut (WindowGroupLimit)
    # below the sort so each stratum tops out distributed
    plan = plan_of(spark, "sample_stratified")
    assert "WindowGroupLimit" in plan, plan


def test_gopher_repetition_is_jvm_agg_no_window(spark):
    # gram coverage must be explode -> (doc_id, gram) hash-aggregate
    # (map-side combine, hot grams spread by the doc_id key component),
    # never a per-doc window or Python eval; the codegen'd agg form
    # measured ~2x faster than an array-side HOF rewrite (see the
    # operator's shape note) so this pins the WINNING shape
    plan = plan_of(spark, "text_gopher_repetition")
    assert "EvalPython" not in plan, plan
    assert "WindowExec" not in plan and "(1) Window" not in plan, plan
    assert "HashAggregate" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # two gram shuffles + two doc_id re-aggregations (each map-side
    # combined); anything above this is a regressed shape
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_ex <= 4, (n_ex, plan)


def test_seq_pack_window_is_shard_partitioned(spark):
    # the cumulative token sum must partition by shard — a global
    # (unpartitioned) running sum would serialize the whole corpus
    # through one task at 100 TB
    plan = plan_of(spark, "seq_pack")
    assert "EvalPython" not in plan, plan
    assert "windowspecdefinition(shard" in plan, plan
    assert "windowspecdefinition(doc_id" not in plan, plan


def test_domain_mix_is_zero_shuffle_scan_filter(spark):
    # the mixture draw is a pure scan+filter: no exchange, no Python,
    # and the md5 coin evaluated inside the filter
    plan = plan_of(spark, "sample_domain_mix")
    assert "EvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_rank_quality_broadcasts_vocab_no_corpus_window(spark):
    # the rank table folds to ONE broadcast row (a token->rank map) and
    # per-doc scoring runs array-side — so the plan must have NO
    # exchange keyed on doc_id (the old formulation shuffled every
    # token row to a doc_id aggregation) and no shuffle join keyed on
    # `token` (hot head tokens would funnel); the top-V cut must be
    # TakeOrderedAndProject (never a global window over the full
    # vocabulary), and the only window runs over the V post-limit rows
    plan = plan_of(spark, "text_rank_quality")
    assert "EvalPython" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(doc_id" not in plan, plan


def test_span_ratio_joins_on_hash_no_python(spark):
    # sliding-window hashing stays in JVM array HOFs; the dup-count
    # join is an equi-join on the 64-bit window hash (uniform key),
    # never a cartesian or a Python eval
    plan = plan_of(spark, "dedup_span_ratio")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_boilerplate_strip_is_jvm_reassembly_no_window(spark):
    # chunking + reassembly stay in JVM array HOFs (collect_list +
    # array_sort, bounded by document length — not a window over the
    # corpus); the boilerplate join is an equi-join on (source, hash)
    plan = plan_of(spark, "boilerplate_strip_source")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "WindowExec" not in plan and "(1) Window" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_gopher_rule_card_and_c4_are_zero_exchange_scans(spark):
    # both are pure scan projections (array HOFs + integer compares /
    # list-filter + rejoin): no exchange, no window, no Python — at
    # 100 TB each is one map stage fused into whole-stage codegen
    for name in ("text_gopher_quality", "text_c4_line_filter"):
        plan = plan_of(spark, name)
        assert "Exchange" not in plan, (name, plan)
        assert "EvalPython" not in plan, (name, plan)
        assert "WindowExec" not in plan and "(1) Window" not in plan, name


def test_shard_shuffle_is_one_exchange_per_shard_sort(spark):
    # deterministic shuffle = ONE hash exchange on the shard key plus a
    # per-shard (partitioned) sort for row_number — never a global sort
    plan = plan_of(spark, "shard_shuffle")
    assert plan.count("hashpartitioning(shard") == 1, plan
    assert "rangepartitioning" not in plan, plan  # no global sort
    assert "EvalPython" not in plan, plan
    # the window is PARTITIONED by shard (not a single-partition window)
    assert re.search(r"windowspecdefinition\(shard", plan), plan


def test_fingerprint_ingest_verdicts_no_cartesian_no_python(spark):
    """Incremental ingest verdicts: keeper agg (map-side combined) +
    equi-joins against the pinned index — never a cartesian, never a
    Python eval; the documents scan prunes to (doc_id, text)."""
    plan = plan_of(spark, "dedup_incremental_ingest")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan  # Batch/ArrowEvalPython
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {
        "struct",
        "doc_id",
        "text",
        "fingerprint",
        "keeper_doc_id",
    }


def test_minhash_ingest_verdicts_reuse_cached_bands(spark):
    """Near-dup ingest verdicts: the band buckets are bounded_cache-
    pinned (one signature agg feeds index join + self-join + append), so
    the verdict plan scans the in-memory cache instead of re-signing —
    and stays cartesian-free and Python-free. (persist, not
    localCheckpoint, since the slot-bounded release must degrade to a
    recompute rather than crash a stale consumer — so the reuse node is
    InMemoryTableScan; the signature expressions appear only inside the
    InMemoryRelation's cached-plan description, not as live operators.)"""
    plan = plan_of(spark, "neardup_incremental_ingest")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "InMemoryTableScan" in plan


def test_embedding_ingest_verdicts_reuse_cached_buckets(spark):
    """Semantic ingest verdicts: quantization + bucketing are
    bounded_cache-pinned (one pass feeds index join, self-join and
    append), so the verdict plan scans the in-memory cache and stays
    cartesian-free and Python-free."""
    plan = plan_of(spark, "semantic_incremental_ingest")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "InMemoryTableScan" in plan


def test_multiprobe_neardup_plan_is_equijoin(spark):
    """The multiprobe near-dup join must stay an equi-join on the probe
    bucket (the 9x explode is a narrow Generate), never a cartesian, and
    Python-free — the recall dial cannot silently degrade to all-pairs."""
    plan = plan_of(spark, "emb_neardup_multiprobe")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert "Generate" in plan  # the probe expansion


def test_bm25_plan_broadcasts_queries_and_group_limits(spark):
    # the query-term side must broadcast (never shuffle the postings by
    # anything but their own keys) and the per-query top-k must prune
    # ranks before the final window (WindowGroupLimit)
    plan = plan_of(spark, "text_bm25_topk")
    assert "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_pagerank_plan_has_no_cartesian(spark):
    # the returned frame is the final iteration's localCheckpoint; the
    # invariant worth pinning on it is that nothing in the visible plan
    # re-derives the graph (constant-size scan of checkpointed state)
    plan = plan_of(spark, "link_host_pagerank")
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # checkpoint-backed, not re-derived


def test_asof_plan_is_one_exchange_no_join(spark):
    # the union+window as-of shape: ONE shuffle on the key, a sort, and
    # NO join operator at all — the plan that survives hot keys where a
    # range join would materialize O(|left_k| * |right_k|) pairs.
    # (the second exchange below is the gate FIXTURE's `distinct
    # user_id` version synthesis, not part of asof_join itself)
    plan = plan_of(spark, "events_asof_profile")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 2, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "Window" in plan


def test_kmv_sketch_plan_group_limits_before_shuffle(spark):
    # stage 2's row_number<=k filter must become WindowGroupLimit (its
    # partial mode caps each map task at k rows per group pre-shuffle);
    # the gate query's exact-count join adds one shuffled join on host
    plan = plan_of(spark, "sketch_kmv_distinct")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_percentiles_plan_is_one_exchange(spark):
    # exact order statistics pay exactly one sort-shuffle on the group
    # key; the pct explode rides after the windows (never re-sorts)
    plan = plan_of(spark, "group_percentiles_chars")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan
    assert "CartesianProduct" not in plan and "EvalPython" not in plan


def test_rollup_plan_is_single_aggregate_no_union(spark):
    # Spark expands ROLLUP's grouping sets inside one aggregate via
    # Expand — a self-union of three aggregations would scan 3x
    plan = plan_of(spark, "events_rollup_daily")
    assert "Expand" in plan
    assert "Union" not in plan


def test_lm_score_plan_prunes_scans_no_cartesian_no_python(spark):
    # model training + scoring is pure JVM aggregation/join: the score
    # scan reads only (doc_id, text), train scans only (text, lang);
    # the 1-row vocab scalar broadcasts (BNLJ is fine for one row), the
    # model joins are hash joins, and nothing is a cartesian product
    plan = plan_of(spark, "text_lm_score")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    cols = {c for s in schemas for c in re.findall(r"(\w+):", s)}
    assert cols <= {"struct", "doc_id", "text", "lang"}, cols


def test_warc_roundtrip_plan_one_pack_shuffle_parse_unshuffled(spark):
    # pack = exactly one hash exchange on the segment key; the parse
    # kernel is the only Python stage and runs on whatever partitioning
    # the pack produced (segments are self-contained, no re-shuffle);
    # the scan prunes to (doc_id, text)
    plan = plan_of(spark, "warc_wet_roundtrip")
    assert "CartesianProduct" not in plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {"struct", "doc_id", "text"}


def test_bucketed_join_has_no_exchange_before_the_merge(spark):
    # both fact tables are written bucketBy(8, orderkey): the
    # SortMergeJoin consumes bucket i of each side directly — the only
    # exchange in the whole plan is the final groupBy's, and both scans
    # advertise the bucketed layout
    plan = plan_of(spark, "bucketed_colocated_join")
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastExchange" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert plan.count("Bucketed: true") == 2, plan


def test_pmi_plan_takeordered_cut_pruned_scan_no_python(spark):
    # the top-100 cut must compile to TakeOrderedAndProject (never a
    # global sort materialization), all joins hash/broadcast (no
    # cartesian), scans prune to text only, all math JVM-side
    plan = plan_of(spark, "text_pmi_collocations")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    cols = {c for s in schemas for c in re.findall(r"(\w+):", s)}
    assert cols <= {"struct", "text"}, cols


def test_nb_langid_plan_pruned_scans_no_cartesian_no_python(spark):
    # model/prior/const dims ride BroadcastNestedLoopJoin (1-row or
    # n_langs-row sides, explicitly broadcast) — never CartesianProduct;
    # every documents scan prunes to (doc_id, text, lang); the argmax
    # window is partitioned (no global WindowExec warning path)
    plan = plan_of(spark, "classify_nb_langid")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    cols = {c for s in schemas for c in re.findall(r"(\w+):", s)}
    assert cols <= {"struct", "doc_id", "text", "lang"}, cols


def test_interval_overlap_is_hash_join_not_nested_loop(spark):
    # the whole point of the bucketized rewrite: the theta predicate
    # must NOT execute as BroadcastNestedLoopJoin/CartesianProduct —
    # the join is an equi-join on (user_id, _bin) with the overlap +
    # canonical-bin checks as residuals, and the events scan prunes
    # to the four used columns
    plan = plan_of(spark, "events_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    cols = {c for s in schemas for c in re.findall(r"(\w+):", s)}
    assert cols <= {"struct", "event_id", "user_id", "event_type", "ts"}, cols


def test_span_strip_plan_no_python_no_window_pruned_scan(spark):
    # ExactSubstr removal: rebuild rides array HOFs (exists over the
    # start list), never a window function, never Python; the documents
    # scan prunes to (doc_id, text)
    plan = plan_of(spark, "dedup_span_strip")
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    cols = {c for s in schemas for c in re.findall(r"(\w+):", s)}
    assert cols <= {"struct", "doc_id", "text"}, cols


def test_containment_shares_the_jaccard_posting_plan(spark):
    # same inverted-index core as dedup_ngram_jaccard: pairs emit from
    # posting arrays (no shingle self-join), so no join operator and no
    # cartesian appears anywhere; one aggregate per keyed stage
    plan = plan_of(spark, "dedup_containment")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan


def test_hashed_tfidf_plan_token_join_not_broadcast(spark):
    # the tf->idf equi-join keys on token: BOTH sides are token-volume
    # at corpus scale (vocab is 10^8 rows), so neither may broadcast —
    # the explicit shuffle_hash hint pins a hash join keyed on token
    # (static sf0.001 estimates would otherwise broadcast the
    # O(corpus-tokens) tf side). The only broadcast allowed is the
    # 1-row n_docs scalar; aggregations partial-combine
    plan = plan_of(spark, "text_hashed_tfidf")
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    assert "CartesianProduct" not in plan
    assert "ShuffledHashJoin" in plan, plan
    # exactly one BroadcastExchange: the single-row corpus count
    assert len(re.findall(r"\(\d+\) BroadcastExchange", plan)) == 1, plan
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    cols = {c for s in schemas for c in re.findall(r"(\w+):", s)}
    assert cols <= {"struct", "doc_id", "text"}, cols


def test_bloom_antijoin_plan_broadcasts_state_no_python(spark):
    # the Bloom state must reach the probes as a BroadcastExchange (it
    # is <= n_words rows by construction), the exact check must stay a
    # LeftAnti join over the suspects only, and the whole prefilter is
    # JVM-side
    plan = plan_of(spark, "dedup_bloom_antijoin")
    assert "BroadcastExchange" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_robots_filter_broadcasts_rules_and_avoids_window(spark):
    # rules broadcast (tiny vs the frontier), winner picked by a
    # partial-aggregable struct max — never a frontier-wide window sort
    plan = plan_of(spark, "crawl_robots_filter")
    assert "BroadcastHashJoin" in plan, plan
    assert "StartsWith" in plan, plan  # residual prefix predicate
    assert "Window" not in plan, plan
    # one broadcast exchange + one aggregation exchange (node headers,
    # not the tree rendering, which repeats each node)
    assert len(re.findall(r"\(\d+\) (?:Broadcast)?Exchange", plan)) <= 2, plan


def test_robots_parse_single_pass_host_partitioned(spark):
    # the whole parse is ONE exchange (hash(host) paid once; the group/
    # spec/host-max windows all extend it) and ZERO joins — a spec/best
    # join formulation re-parsed the file three times. Windows partition
    # by host: per-host line counts are RFC-bounded (500 KiB), never
    # corpus-sized.
    plan = plan_of(spark, "crawl_robots_parse")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    assert "EvalPython" not in plan, plan
    # every window is host-partitioned — an unpartitioned window would
    # serialize the corpus through one task
    for m in re.finditer(r"Arguments: \[[^\]]*windowspecdefinition\(([^,]*),", plan):
        assert "_host" in m.group(1), m.group(0)


def test_dsir_topk_take_ordered_no_window_no_python(spark):
    # selection is TakeOrderedAndProject (never a global sort), the
    # B-bounded log-ratio table broadcasts, and everything stays JVM-side
    plan = plan_of(spark, "sample_dsir_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 0, plan


def test_surt_index_is_narrow_and_udf_free(spark):
    # SURT key + packed projection fuse into the scan stage: no shuffle,
    # no python, and the scan reads only doc_id (url synthesis input)
    plan = plan_of(spark, "url_surt_index")
    assert "Exchange" not in plan, plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "text" not in m.group(1), m and m.group(1)


def test_nfc_normalize_single_arrow_hop_no_shuffle(spark):
    # one narrow projection: derivation + lengths + digest stay JVM-side,
    # exactly one Arrow batch hop for the NFC recomposition, no exchange
    plan = plan_of(spark, "text_nfc_normalize")
    assert "Exchange" not in plan, plan
    n_arrow = len(re.findall(r"\(\d+\) ArrowEvalPython", plan))
    assert n_arrow == 1, (n_arrow, plan)
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "doc_id" in m.group(1) and "lang" not in m.group(1), (
        m and m.group(1)
    )


def test_charset_sniff_scan_fused_no_python(spark):
    # hex-space detector is one narrow projection: no shuffle, no UDF,
    # and the scan reads only doc_id + text (derivation inputs)
    plan = plan_of(spark, "extract_charset_sniff")
    assert "Exchange" not in plan, plan
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "lang" not in m.group(1), m and m.group(1)


def test_yield_report_joins_on_doc_id_no_cartesian(spark):
    # narrow Arrow extraction stage -> one doc_id join -> one lang agg
    plan = plan_of(spark, "extract_yield_report")
    assert "CartesianProduct" not in plan, plan
    # two PIPELINED MapInPandas stages (docwrap synthesis + extraction
    # kernel), same shape as pipeline_extract_digest — no barrier between
    n_arrow = len(re.findall(r"\(\d+\) (?:ArrowEvalPython|MapInPandas)", plan))
    assert n_arrow == 2, (n_arrow, plan)
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_ex <= 6, (n_ex, plan)


def test_hdr_sketch_windows_state_not_rows(spark):
    # build/merge are partial-agg shuffles on (group, bucket); the only
    # window + final agg run over the merged bucket state, never raw
    # rows; all bit arithmetic stays JVM-side and the scan skips text
    plan = plan_of(spark, "sketch_hdr_quantiles")
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_ex <= 8, (n_ex, plan)
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "text" not in m.group(1), m and m.group(1)


def test_drift_report_shuffles_only_on_lang(spark):
    # two per-version lang aggregations (partial -> final = 2 exchanges
    # each), tiny totals branches and the outer join on the already-
    # aggregated lang keys; no python, no cartesian, and every exchange
    # carries lang-keyed or single-partition data — never raw rows
    plan = plan_of(spark, "snapshot_drift_report")
    assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_ex <= 10, (n_ex, plan)


def test_acquisition_chain_broadcasts_dims_one_politeness_window(spark):
    # the composed sitemap -> recrawl -> robots -> politeness plan must
    # broadcast both dimension sides (the fetch-log aggregate and the
    # rule card), run exactly one window (the per-host politeness rank
    # — the serial resource by design), and never go python-side or
    # cartesian; the robots winner stays a hash-aggregate struct-max
    plan = plan_of(spark, "crawl_acquisition_pipeline")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) >= 2, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert "HashAggregate" in plan, plan
    # sitemap host grouping, robots winner agg, politeness window plus
    # the broadcast sides — the data-sized exchange budget is 4
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_ex <= 4, (n_ex, plan)


def test_pagemeta_zero_shuffle_scan_fused(spark):
    # head-metadata extraction and the REP gate are narrow regexp
    # projections: zero exchanges, no python, fused into the scan —
    # the property that makes them free at 100 TB
    for name in ("page_meta_extract", "page_index_gate"):
        plan = plan_of(spark, name)
        assert "EvalPython" not in plan, (name, plan)
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, (name, plan)
        assert "codegen id" in plan, (name, plan)


def test_structdata_zero_shuffle_scan_fused(spark):
    # OG + JSON-LD extraction are narrow regexp/json-path projections:
    # zero exchanges, no python, fused into the scan — free at 100 TB
    for name in ("page_og_extract", "page_jsonld_extract"):
        plan = plan_of(spark, name)
        assert "EvalPython" not in plan, (name, plan)
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, (name, plan)
        assert "codegen id" in plan, (name, plan)


def test_htmltables_zero_shuffle_generate_chain(spark):
    # three posexplode levels are all narrow (Generate nodes): the cell
    # fan-out costs rows, never a shuffle — zero exchanges, no python
    plan = plan_of(spark, "html_table_extract")
    assert "EvalPython" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 3, plan


def test_cachehdr_zero_shuffle_scan_fused(spark):
    # the freshness verdict is integer arithmetic + regex over the fetch
    # log: zero exchanges, no python, fused into the scan
    plan = plan_of(spark, "crawl_cache_headers")
    assert "EvalPython" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
    assert "codegen id" in plan, plan


def test_redirect_resolve_equijoins_only(spark):
    # pointer doubling = seed + 3 composition rounds, all equi-joins a
    # shuffle planner can hash — never a cartesian/BNLJ, no python
    plan = plan_of(spark, "url_redirect_resolve")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_param_mining_three_designed_exchanges(spark):
    # explode fans out map-side; the dual count-distinct over
    # (key, residual) plans as Expand + two exchanges (Spark's exact
    # multi-distinct strategy, each half partially aggregated before
    # its shuffle), then one tiny per-key exchange. No python, no
    # window, no join, and every exchange is fed by a partial
    # HashAggregate (map-side combine).
    plan = plan_of(spark, "url_param_mining")
    assert "EvalPython" not in plan, plan
    assert "Join" not in plan, plan
    assert "Expand" in plan, plan
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_ex == 3, (n_ex, plan)


def test_feeds_zero_shuffle_generate(spark):
    # feed discovery and entry parsing are each scan + one posexplode
    # (Generate) + narrow regex/date projections: zero exchanges, no
    # python — fan-out proportional to feed links / entries, the only
    # cost an explode should have at 100 TB
    for name in ("crawl_feed_discover", "crawl_feed_parse"):
        plan = plan_of(spark, name)
        assert "EvalPython" not in plan, (name, plan)
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, (name, plan)
        assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, (name, plan)


def test_warc_revisit_resolve_digest_equijoin_no_cartesian(spark):
    # the as-of resolution is ONE equi-join on the digest key (the date
    # bound rides as a join residual, never a cartesian/BNLJ) followed
    # by a partial-aggregable max_by struct — no window over the joined
    # pairs. The parse kernel is referenced three times (pass-through,
    # join pool, revisit side) so resolve_revisits localCheckpoints it:
    # the resolve plan must read the materialized rows (no MapInPandas,
    # no parquet re-scan) — the parse runs exactly once, in the
    # checkpoint job
    plan = plan_of(spark, "warc_revisit_resolve")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan, plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan or "LocalTableScan" in plan, plan


def test_lang_segments_zero_exchange_one_generate(spark):
    # langs/boundaries/segments are built array-side per row: the only
    # plan nodes beyond the pruned scan are projections and ONE narrow
    # Generate (posexplode of the per-doc segment array) — no exchange,
    # no window, no Python
    plan = plan_of(spark, "text_lang_segments")
    assert "Exchange" not in plan, plan
    assert "Window" not in plan
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {"struct", "doc_id", "text"}


def test_sitemap_index_equijoin_pruned_scan_no_python(spark):
    # two keyed aggregations (child build, index build) + ONE equi-join
    # on the globally-unique child_url; regexp parsing is per-row; the
    # fixture needs only doc_id (never text)
    plan = plan_of(spark, "url_sitemap_index")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 5, f"{n_exchanges} exchanges:\n{plan}"
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {"struct", "doc_id"}


def test_hreflang_clusters_single_window_exchange_pruned_scan(spark):
    # variant extraction and cluster identity are per-row array work
    # (reciprocal annotations make the cluster id computable locally);
    # the ONLY exchange is the cluster_size window, and the scan needs
    # just doc_id
    plan = plan_of(spark, "page_hreflang_clusters")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {"struct", "doc_id"}


def test_pagination_series_equijoins_only(spark):
    # reversed-edge determinization (one aggregate) + the doubling
    # walk's equi-joins; nothing cartesian, nothing Python, and the
    # fixture scan needs only doc_id
    plan = plan_of(spark, "page_pagination_series")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    cols = {c for s in schemas for c in re.findall(r"(\w+):", s)}
    assert cols <= {"struct", "doc_id"}, cols


def test_word_blocklist_zero_exchange_pruned_scan(spark):
    # split -> filter -> measure fuses into the scan stage: no shuffle,
    # no Python, scan reads (doc_id, text) only
    plan = plan_of(spark, "text_word_blocklist")
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {"struct", "doc_id", "text"}


def test_sentence_split_zero_exchange(spark):
    # three per-row regexp passes + split + ONE posexplode: no shuffle,
    # no Python, scan reads (doc_id, text)
    plan = plan_of(spark, "text_sentence_split")
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {"struct", "doc_id", "text"}


def test_fk_readability_zero_exchange(spark):
    plan = plan_of(spark, "text_fk_readability")
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {"struct", "doc_id", "text"}


def test_host_report_single_exchange_partial_agg(spark):
    # one host-keyed exchange with map-side partial aggregation; all
    # per-doc signals array-side (no Python, no second shuffle)
    plan = plan_of(spark, "host_quality_report")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, plan  # partial+final
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {"struct", "source", "text"}


def test_heading_outline_single_exchange_chained_windows(spark):
    # the reset counters are two chained window layers over the SAME
    # (doc_id, pos) spec: one exchange, one sort, no Python anywhere
    plan = plan_of(spark, "page_heading_outline")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan
    assert "Window" in plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {"struct", "doc_id", "source"}


def test_section_chunks_single_exchange(spark):
    # same shape as the outline: posexplode + one sec_path window; the
    # parts array rides through the explode without a second shuffle
    plan = plan_of(spark, "page_section_chunks")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1, plan
    assert "Window" in plan and "Generate" in plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and set(re.findall(r"(\w+):", m.group(1))) <= {
        "struct", "doc_id", "source", "text"
    }


def test_crawl_priority_pipeline_no_python_no_cartesian_host_join_shuffled(spark):
    # the composed PageRank -> frontier -> slots chain must stay pure
    # DataFrame (integer pagerank, no Python eval), join the host prior
    # with a SHUFFLE join (hosts are 10^8 at corpus scale — the prior
    # must never be broadcast-assumed; the checkpointed prior's unknown
    # stats make Spark pick SMJ, which is the scale-correct shape), and
    # schedule through the per-host politeness window
    plan = plan_of(spark, "crawl_priority_pipeline")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin LeftOuter" in plan, plan
    assert "Window" in plan, plan
