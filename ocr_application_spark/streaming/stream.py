"""Structured Streaming ingest — the reference's Kafka chain, Spark-native.

The reference moves every document through per-stage Kafka topics with
manual commit-on-success (extraction_service/app/kafka/consumer.py:17,
44-46) and one-message-at-a-time handlers. The Spark-native equivalent
is a single streaming query: ``readStream`` over the input table's
directory (or Kafka with the same code — swap the source format),
the SAME extraction kernel as batch (mapInPandas works unchanged on
streaming DataFrames), and ``foreachBatch`` for exactly-once bucket
commits + lineage, mirroring the batch pipeline's resume contract.

Also provides the watermarked windowed metrics stream (the MLflow
counter analog, layout_detection_service/app/mlflow/mlflow_client.py:
23-34) — late data handled by watermark, which the reference cannot do
at all (SURVEY §2.7: no watermarks exist there).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ocr_application_spark.kernels.extract import extract
from ocr_application_spark.sources.webpages import PAGES_SCHEMA


def _file_stream(spark: SparkSession, schema, path: str, max_files: int) -> DataFrame:
    """File-source stream of the parquet table at ``path``, at most
    ``max_files`` new files per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def _start_exactly_once(
    stream: DataFrame,
    checkpoint: str,
    roots: tuple[str, ...],
    write: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Start ``stream`` as an availableNow ``foreachBatch`` query whose
    sink is exactly-once — the commit-on-success analog. ``write(batch,
    epoch_id)`` lands one micro-batch under ``<root>/epoch=<epoch_id>``
    directories of the given ``roots``.

    Exactly-once is EARNED, not assumed: foreachBatch alone is
    at-least-once (a crash between the sink write and the checkpoint
    commit replays the epoch), so ``write`` puts each epoch in its own
    ``epoch=<id>`` directory with mode("overwrite") — a replayed epoch
    replaces its directory instead of appending duplicates. Epoch
    numbering restarts at 0 when the CHECKPOINT is wiped, so the sink
    clears every root on epoch 0: without that, a re-run with different
    micro-batch boundaries would overwrite epoch=0 but leave the old
    run's higher epoch directories behind, duplicating their rows in any
    read of the root. The batch is persisted around ``write``, which
    runs several actions over it (ok + quarantine, or an ingest's
    commit + verdict join): without it the source scan and any kernel
    upstream (mapInPandas extraction) would run once per action
    (mirrors pipeline.run_to_table's persist)."""
    import shutil

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id == 0:
            # fresh checkpoint => fresh output: drop stale epoch dirs
            # from a previous run whose numbering no longer applies
            for root in roots:
                shutil.rmtree(root, ignore_errors=True)
        batch_df.persist()
        try:
            write(batch_df, epoch_id)
        finally:
            batch_df.unpersist()

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_pages(spark: SparkSession, input_path: str, max_files: int = 8) -> DataFrame:
    """File-source stream of input_hint pages (S1-analog). With a Kafka
    cluster this is ``spark.readStream.format('kafka')...`` + from_json;
    everything downstream is identical — ``kernels.extract.extract``
    runs unchanged on the stream (mapInPandas is streaming-compatible):
    one engine, two execution modes."""
    return _file_stream(spark, PAGES_SCHEMA, input_path, max_files)


def stream_metrics(extracted: DataFrame) -> DataFrame:
    """Watermarked hourly counters per (window, method): rows, chars.
    Append-mode compatible; late rows beyond 2h are dropped by the
    watermark instead of corrupting closed windows."""
    return (
        extracted.withWatermark("warc_ts", "2 hours")
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "method")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "method",
            "n_docs",
            "total_chars",
        )
    )


def stateful_host_progress(extracted: DataFrame) -> DataFrame:
    """Custom stateful operator: cumulative per-host crawl progress.

    ``applyInPandasWithState`` keeps (n_docs, n_chars) per host across
    micro-batches and emits the running total each time the host appears
    — the stateful analog of the reference's per-topic offset/commit
    bookkeeping (extraction_service/app/kafka/consumer.py:44-46), which
    tracked progress implicitly in Kafka offsets. Update output mode;
    state is tiny (two longs per host) so it shards by host across
    executors with no skew concern — heavy hosts mean more *input* rows
    per key, not more state.
    """
    import pandas as pd  # local: keep module import-light for spark-submit
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # parse_url handles path-less urls and case-insensitive schemes that
    # a '://host/' regex misses (no trailing slash -> empty-host key)
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    keyed = extracted.select(host.alias("host"), "n_chars")

    def track(key, pdfs, state: GroupState):
        n_docs, n_chars = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n_docs += len(pdf)
            n_chars += int(pdf["n_chars"].sum())
        state.update((n_docs, n_chars))
        yield pd.DataFrame(
            {"host": [key[0]], "n_docs": [n_docs], "n_chars": [n_chars]}
        )

    return keyed.groupBy("host").applyInPandasWithState(
        track,
        outputStructType="host string, n_docs long, n_chars long",
        stateStructType="n_docs long, n_chars long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup_urls(pages: DataFrame) -> DataFrame:
    """Streaming recrawl dedup: first page per canonical URL wins.

    A crawl stream re-delivers documents (recrawls, mirror hosts, utm
    variants); downstream extraction should run once per logical page.
    Composes the batch URL canonicalizer (operators/urlops.py — same
    column expression, batch and stream) with
    ``dropDuplicatesWithinWatermark``: per-key state is dropped once the
    event-time watermark passes, so state stays bounded by the recrawl
    horizon instead of growing with the whole crawl — the streaming
    front door of dedup_exact. State shards by canonical-url hash across
    executors; no skew (one state row per key regardless of recrawl
    count)."""
    from ocr_application_spark.operators.urlops import canonical_url

    return (
        pages.withColumn("url_canonical", canonical_url(F.col("url")))
        .withWatermark("warc_ts", "2 hours")
        .dropDuplicatesWithinWatermark(["url_canonical"])
    )


def run_stream_to_table(
    spark: SparkSession, input_path: str, out_path: str, checkpoint: str
) -> StreamingQuery:
    """End-to-end streaming extraction with the exactly-once sink of
    ``_start_exactly_once``. Error rows are NOT dropped: they land in
    the same quarantine table the batch path uses (no data loss,
    mirroring kernels/extract.quarantine_split's contract)."""
    from ocr_application_spark.kernels.extract import quarantine_split

    def write(batch: DataFrame, epoch_id: int) -> None:
        ok, bad = quarantine_split(batch)
        (
            ok.drop("batch_wall_ms")
            .write.mode("overwrite")
            .parquet(f"{out_path}/epoch={epoch_id}")
        )
        bad.write.mode("overwrite").parquet(f"{out_path}_quarantine/epoch={epoch_id}")

    return _start_exactly_once(
        extract(stream_pages(spark, input_path)),
        checkpoint,
        (out_path, f"{out_path}_quarantine"),
        write,
    )


# --- streaming curation ------------------------------------------------------

DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def stream_documents(
    spark: SparkSession, input_path: str, max_files: int = 8
) -> DataFrame:
    """File-source stream of the input_hint documents table (the crawl
    feed for the curation chain)."""
    return _file_stream(spark, DOCS_SCHEMA, input_path, max_files)


def stream_curate(docs: DataFrame) -> DataFrame:
    """Curation verdicts on a STREAM (or batch frame — same code): the
    Gopher rule card + C4 line rules + the PII-scrubbed digest as ONE
    stateless projection. The expressions are the batch operators' own
    (curation.gopher_quality_frame / c4_kept_lines / the regex trio
    ride along via the card's ``extra`` projection — streams cannot
    self-join to re-attach text-derived columns), so per-doc values are
    identical to batch by construction and tests/test_streaming.py pins
    stream == batch at the value level. Stateless means no watermark
    and scan-bound throughput; stream_dedup_urls composes in front for
    recrawl-dedup when the feed carries urls."""
    from ocr_application_spark.operators.curation import (
        _C4_MIN_KEPT_LINES,
        c4_kept_lines,
        gopher_quality_frame,
        pii_scrub,
    )

    kept = c4_kept_lines(F.col("text"))
    scrubbed = pii_scrub(F.col("text"))
    out = gopher_quality_frame(
        docs,
        extra={
            "c4_kept_lines": F.size(kept).cast("long"),
            "c4_keep": F.size(kept) >= _C4_MIN_KEPT_LINES,
            "c4_digest": F.sha2(F.array_join(kept, "\n"), 256),
            "scrub_digest": F.sha2(scrubbed, 256),
        },
    )
    return out.withColumnRenamed("keep", "gopher_keep")


# --- streaming incremental ingest dedup ---------------------------------------

VECTORS_SCHEMA = "vec_id bigint, embedding array<float>"


def stream_vectors(
    spark: SparkSession, input_path: str, max_files: int = 8
) -> DataFrame:
    """File-source stream of an embeddings table (the vector feed for
    the semantic ingest family)."""
    return _file_stream(spark, VECTORS_SCHEMA, input_path, max_files)


def run_stream_ingest(
    spark: SparkSession,
    input_path: str,
    index_path: str,
    out_path: str,
    checkpoint: str,
    max_files: int = 8,
    family: str = "exact",
) -> StreamingQuery:
    """Continuous crawl ingestion with corpus-level dedup against a
    persisted index — ONE streaming front-end for all four batch
    ingest families (``family=``), each run with its fixed defaults:

      'exact'    — ``dedup.fingerprint_index_ingest`` over a document
                   stream; verdicts per (doc_id, fingerprint)
      'minhash'  — ``dedup.minhash_index_ingest`` over a document
                   stream; NEAR-dup verdicts per doc_id
      'winnow'   — ``dedup.winnow_index_ingest`` over a document
                   stream; PARTIAL-overlap verdicts per doc_id
      'semantic' — ``similarity.embedding_index_ingest`` over a vector
                   stream (``VECTORS_SCHEMA``); verdicts per vec_id

    Each micro-batch runs one ingest against the persisted index (ONE
    snapshot commit per epoch, novel entries only) and lands the
    batch's verdict-tagged rows in an epoch-partitioned output table.

    Exactly-once is EARNED by ``_start_exactly_once``, plus one
    property the index contributes by construction: a crash anywhere
    between the index commit and the checkpoint commit replays the
    epoch, and the replayed ingest (a) appends ZERO rows to the index
    (its fingerprints are already there) and (b) reproduces the SAME
    verdicts (the replay-stable representative rule — a doc the index
    records as its own keeper stays 'novel' instead of flipping to
    'known' and being dropped downstream), while the epoch output
    directory overwrites itself. Sequential epochs mean no
    snapshot-commit race.

    A checkpoint WIPE is coarser than a crash-replay: dedup decisions
    survive (they live in the index table, not in Spark state stores),
    but epoch numbering restarts and micro-batch boundaries may shift —
    so the sink clears ``out_path`` on epoch 0 (stale epoch dirs from
    the previous numbering would otherwise duplicate rows), and
    batch-composition-relative verdict labels ('dup_in_increment' vs
    'known') can legitimately differ for docs that land in different
    batches than before; the kept/dropped DECISION per fingerprint is
    unchanged.

    A crawl feed can re-deliver the same id within one micro-batch
    (recrawl while the batch accumulates), so the sink first collapses
    the batch to one row per id — deterministically, keeping the row
    with the smallest payload hash — otherwise the verdict join would
    fan out (and, for the exact family whose verdicts are per
    (doc_id, fingerprint), cross-tag the duplicates' rows). That
    collapse runs inside the sink, on the persisted micro-batch:
    streaming frames reject non-time windows."""
    from pyspark.sql.window import Window

    from ocr_application_spark.operators.dedup import (
        fingerprint_index_ingest,
        minhash_index_ingest,
        winnow_index_ingest,
    )
    from ocr_application_spark.operators.similarity import embedding_index_ingest

    if family in ("exact", "minhash", "winnow"):
        stream = stream_documents(spark, input_path, max_files)
        id_col, payload_col = "doc_id", "text"
        ingest = {
            "exact": fingerprint_index_ingest,
            "minhash": minhash_index_ingest,
            "winnow": winnow_index_ingest,
        }[family]
        payload_hash = F.md5(F.coalesce(F.col("text"), F.lit("")))
    elif family == "semantic":
        stream = stream_vectors(spark, input_path, max_files)
        id_col, payload_col = "vec_id", "embedding"
        ingest = embedding_index_ingest
        payload_hash = F.xxhash64("embedding")
    else:
        raise ValueError(f"unknown ingest family {family!r}")

    def write(batch: DataFrame, epoch_id: int) -> None:
        # one row per id, smallest-payload-hash row wins (ties are
        # byte-identical payloads; remaining columns tie-break for full
        # determinism)
        one = Window.partitionBy(id_col).orderBy(
            payload_hash,
            *[c for c in batch.columns if c not in (id_col, payload_col)],
        )
        batch = (
            batch.withColumn("_rn", F.row_number().over(one))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        verdicts, _v = ingest(spark, index_path, batch, op_label=f"epoch-{epoch_id}")
        (
            batch.join(verdicts, id_col)
            .write.mode("overwrite")
            .parquet(f"{out_path}/epoch={epoch_id}")
        )

    return _start_exactly_once(stream, checkpoint, (out_path,), write)


# --- streaming WET ingest ------------------------------------------------------

WET_SEGMENTS_SCHEMA = "seg bigint, payload binary, n_records int"


def stream_wet_segments(
    spark: SparkSession, input_path: str, max_files: int = 4
) -> DataFrame:
    """File-source stream of packed WET segment blobs (sources/warc.py)
    — the Common-Crawl drop-folder shape: shards land as files, each a
    self-contained batch of framed records."""
    return _file_stream(spark, WET_SEGMENTS_SCHEMA, input_path, max_files)


def run_wet_stream_to_table(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Stream-parse WET segments with the batch kernel (mapInPandas is
    streaming-compatible — same parse_wet_bytes spec, two execution
    modes) and the exactly-once sink of ``_start_exactly_once``:
    per-epoch overwrite dirs, epoch-0 reset on a wiped checkpoint,
    malformed records quarantined, never dropped."""
    from ocr_application_spark.sources.warc import parse_wet_segments

    def write(batch: DataFrame, epoch_id: int) -> None:
        ok = batch.where(F.col("status") == "ok")
        bad = batch.where(F.col("status") != "ok")
        ok.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch_id}")
        bad.write.mode("overwrite").parquet(f"{out_path}_quarantine/epoch={epoch_id}")

    return _start_exactly_once(
        parse_wet_segments(stream_wet_segments(spark, input_path)),
        checkpoint,
        (out_path, f"{out_path}_quarantine"),
        write,
    )
