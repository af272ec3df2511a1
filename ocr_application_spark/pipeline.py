"""End-to-end extraction pipeline — the engine's flagship path.

``read pages -> bucket by url-hash -> [resume filter] -> extract +
classify (ONE fused mapInPandas kernel) -> write per-bucket parquet +
lineage rows`` — the Spark realization of the reference's
recognize→classify→extract Kafka chain (OrchesttrationScript.py:33-39),
with the broker hops replaced by one Python crossing per Arrow batch:
the kernel classifies the batch it has just extracted, so no
ArrowEvalPython stage re-ships features to Python.

Scale notes (100 TB / 10^12 rows):
* the only wide operation before the sink is the optional
  ``repartition('bucket')`` write clustering; extraction itself is
  narrow — throughput scales linearly with executors (evidenced at two
  local parallelism levels in BENCH/BASELINE.md).
* skewed hosts don't skew this job because bucketing hashes the full
  url (host+path); host-level analytics downstream use the salted
  repartition helper in operators/skew.py.
* lineage rows commit once the run's bucket data lands; a crash in the
  window between the data write and the lineage write replays those
  buckets on resume, and the dynamic-partition-overwrite sink makes the
  replay idempotent (partitions are replaced, never appended twice) —
  the batch analog of the reference's commit-offset-on-success.
  Finished buckets are skipped via a static NOT-IN predicate that
  partition-prunes their ``bucket=`` directories at the scan
  (lineage.resume_filter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.kernels.extract import extract, quarantine_split
from ocr_application_spark.lineage import bucket_lineage, resume_filter, write_lineage
from ocr_application_spark.sources.webpages import with_bucket


def extract_pages(pages: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Bucket + the fused extract/classify kernel; lazy, no action
    triggered."""
    return extract(with_bucket(pages, n_buckets))


# S5 analog: the reference caps messages at 10MB with a warn at 90%
# (extraction_service/app/kafka/producer.py:37-38, extractor.py:121-125).
MAX_TEXT_BYTES = 10 * 1024 * 1024


def oversize_guard(extracted: DataFrame, max_bytes: int = MAX_TEXT_BYTES) -> DataFrame:
    """Route oversized rows to quarantine instead of failing the write —
    batch analog of the reference's produce-size guard (S5). Adds an
    ``oversize`` flag; quarantine_split moves flagged rows aside."""
    return extracted.withColumn(
        "status",
        F.when(
            F.octet_length("extracted_text") > max_bytes, F.lit("error:oversize")
        ).otherwise(F.col("status")),
    )


def run_to_table(
    pages: DataFrame,
    spark: SparkSession,
    out_path: str,
    lineage_path: str,
    n_buckets: int = 64,
    resume: bool = True,
    by_class: bool = False,
    quarantine_path: str | None = None,
) -> DataFrame:
    """Materialize the pipeline with per-bucket lineage + resume.

    ``by_class=True`` additionally partitions the output by doc_class —
    the S4 class-routed sink (classification_service/app/Kafka/
    producer.py:18-19 routed by topic; here: partition pruning on read).
    ``quarantine_path`` overrides the default ``{out_path}_quarantine``
    sibling — callers whose out_path sits INSIDE a partition-discovered
    root (e.g. an ingest_v= shard) must route quarantine outside it.
    Returns the lineage DataFrame of the buckets processed this run.
    """
    bucketed = with_bucket(pages, n_buckets)
    if resume:
        bucketed = resume_filter(bucketed, spark, lineage_path)
    extracted = oversize_guard(extract(bucketed))
    # one kernel execution feeds three sinks (ok / quarantine / lineage);
    # without the persist the mapInPandas extraction DAG would re-run per
    # action. MEMORY_AND_DISK: spills, never recomputes.
    extracted = extracted.persist()
    try:
        ok, bad = quarantine_split(extracted)
        part_cols = (["doc_class"] if by_class else []) + ["bucket"]
        # Dynamic partition overwrite = idempotent per-bucket commit: a
        # bucket replayed after a crash (data landed, lineage row didn't)
        # REPLACES its partition directories instead of appending
        # duplicates — the Iceberg overwrite-partition analog. Extraction
        # is deterministic, so a replay writes identical content.
        (
            ok.drop("batch_wall_ms")
            .repartition("bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*part_cols)
            .parquet(out_path)
        )
        # localCheckpoint materializes the (tiny, one-row-per-bucket)
        # lineage BEFORE the unpersist below, so caller actions on the
        # returned DataFrame can't re-trigger the extraction DAG
        lin = bucket_lineage(extracted).localCheckpoint()
        # quarantine table — no data loss. Its rows are exactly the
        # buckets' rows_in - rows_out, so the checkpointed lineage says
        # whether there are any without another pass over ``extracted``
        if lin.filter(F.col("rows_in") != F.col("rows_out")).take(1):
            (
                bad.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(quarantine_path or out_path + "_quarantine")
            )
        write_lineage(lin, lineage_path)
        return lin
    finally:
        extracted.unpersist()


def verify_digests(extracted: DataFrame, reference: DataFrame) -> DataFrame:
    """Equi-join extracted vs reference digests per url; returns mismatches.

    The only hash join in the flagship path — at 10^12 rows both sides are
    bucket-partitioned on url so this is a co-located sort-merge join.
    """
    e = extracted.select("url", "digest")
    r = reference.select("url", "ref_digest")
    joined = e.join(r, "url", "full_outer")
    return joined.filter(
        (joined.digest.isNull())
        | (joined.ref_digest.isNull())
        | (joined.digest != joined.ref_digest)
    )
