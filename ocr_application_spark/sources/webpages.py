"""Web-page table source/sink.

At production scale the input is an Iceberg table of Common-Crawl pages
(north_rule); in this sandbox there is no Iceberg jar, so the table API
is parquet with the same shape: ``write_pages`` partitions by url-hash
bucket (the Iceberg ``bucket(N, url)`` analog — S7,
classification_service/app/Kafka/topic_manager.py:10-37 idempotent DDL),
and ``read_pages`` is a plain columnar scan that Catalyst prunes.

Synthetic generation runs *inside Spark* (mapInPandas over spark.range):
embarrassingly parallel, zero shuffle, so datagen itself scales with the
cluster.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.datagen.webgen import gen_page

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)
PAGES_SCHEMA_LABELED = PAGES_SCHEMA + ", true_class string"


def synth_pages(
    spark: SparkSession, n: int, with_label: bool = False, slices: int | None = None
) -> DataFrame:
    """Deterministic distributed page generation (input_hint schema)."""
    if slices is None:
        slices = max(8, spark.sparkContext.defaultParallelism)

    cols = ["url", "warc_ts", "html", "text", "lang"] + (
        ["true_class"] if with_label else []
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [gen_page(int(i)) for i in pdf["id"]]
            yield pd.DataFrame({c: [r[c] for r in rows] for c in cols})

    rng = spark.range(0, n, numPartitions=slices)
    return rng.mapInPandas(gen, schema=PAGES_SCHEMA_LABELED if with_label else PAGES_SCHEMA)


def with_bucket(df: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Stable url-hash bucket column — the unit of checkpoint-resume.

    ``xxhash64`` is Spark-native and deterministic across runs/clusters,
    mirroring Iceberg's bucket transform (north_rule: "explicitly
    partitioned by url-hash buckets").

    If the input already carries a ``bucket`` column (a table written by
    ``write_pages``), it is KEPT, not recomputed: the values are
    identical by construction, and recomputing via withColumn would
    replace the *partition column* with a derived expression — after
    which resume_filter's NOT-IN predicate could no longer
    partition-prune finished ``bucket=`` directories and a resume would
    rescan the whole table. The kept column is VALIDATED, not trusted:
    ``read_pages`` brands it with the table's persisted bucket count
    (column metadata from the ``_bucket_meta.json`` sidecar
    ``write_pages`` leaves), and a mismatch with ``n_buckets`` — or an
    unbranded ``bucket`` column of unknown provenance — raises instead
    of silently corrupting resume/lineage keying.
    """
    if "bucket" in df.columns:
        meta = df.schema["bucket"].metadata or {}
        branded = meta.get("n_buckets")
        if branded is None:
            raise ValueError(
                "input has a 'bucket' column of unknown provenance; read the "
                "table via read_pages() (which validates it against the "
                "table's _bucket_meta.json), drop the column, or — for a "
                "pre-sidecar table whose bucket count you know — brand it "
                "explicitly with brand_bucket(df, n_buckets)"
            )
        if int(branded) != int(n_buckets):
            raise ValueError(
                f"table was bucketed with n_buckets={int(branded)} but caller "
                f"asked for n_buckets={n_buckets}; resume/lineage keys would "
                "disagree with the on-disk partition layout"
            )
        return df
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    ).withMetadata("bucket", {"n_buckets": int(n_buckets)})


def brand_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Explicit migration path for tables that predate the
    ``_bucket_meta.json`` sidecar: the caller VOUCHES that the existing
    ``bucket`` column was computed with ``n_buckets``. Use only when the
    count is known out-of-band; prefer ``read_pages`` on sidecar'd
    tables."""
    if "bucket" not in df.columns:
        raise ValueError("brand_bucket needs an existing 'bucket' column")
    return df.withMetadata("bucket", {"n_buckets": int(n_buckets)})


def _bucket_meta_path(path: str) -> str:
    return os.path.join(path, "_bucket_meta.json")


def write_pages(df: DataFrame, path: str, n_buckets: int = 64, mode: str = "overwrite") -> None:
    (
        with_bucket(df, n_buckets)
        .repartition("bucket")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )
    # Persist the bucket count next to the data (underscore prefix =
    # ignored by Spark's file listing, like _SUCCESS). On a real cluster
    # this sidecar would be Iceberg table properties; plain json is the
    # sandbox's no-Iceberg-jar analog.
    import json

    with open(_bucket_meta_path(path), "w") as fh:
        json.dump({"n_buckets": int(n_buckets)}, fh)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    meta = _bucket_meta_path(path)
    if "bucket" in df.columns and os.path.exists(meta):
        import json

        with open(meta) as fh:
            n = int(json.load(fh)["n_buckets"])
        df = df.withMetadata("bucket", {"n_buckets": n})
    return df


def default_scratch() -> str:
    """``$SPARK_GRAFT_SCRATCH``, else ``.scratch/`` in this checkout."""
    return os.environ.get(
        "SPARK_GRAFT_SCRATCH", str(Path(__file__).resolve().parents[2] / ".scratch")
    )
