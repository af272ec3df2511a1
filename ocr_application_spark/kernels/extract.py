"""Arrow-batched extraction kernel (the K1/K6/K7/K8-analog stage).

One ``mapInPandas`` stage fuses normalize + segment + extract + classify
per Arrow batch — the fusion the reference could never do because every
stage sat behind a Kafka broker (OrchesttrationScript.py:33-39). The
classifier runs on the features the batch has just produced
(kernels/classify.classify_batch), so a batch crosses into Python once,
not once more for a classify UDF. No per-row Python
at the Spark level: the unit of work is a ~2048-row Arrow batch
(spark.sql.execution.arrow.maxRecordsPerBatch), and the per-document
kernel is the pure function in core/extraction_core.py — the same code
the eager oracle runs, which is what makes per-url byte-identity hold
under any parallelism (BASELINE.json north_rule).

The ``html`` binary column is consumed here and NOT emitted — explicit
column pruning the reference lacked (it base64'd the full image into
every downstream JSON payload, layout_detection_service/app/kafka/
producer.py:34-37).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_application_spark.core.extraction_core import FEATURE_NAMES, extract_document
from ocr_application_spark.kernels.classify import (
    _cached_weights,
    _weights_broadcast,
    classify_batch,
)

EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, lang string, method string, status string, "
    "extracted_text string, digest string, n_chars int, "
    "features array<double>, doc_class string, confidence double, "
    "batch_wall_ms double"
)


def _extract_batches(batches: Iterator[pd.DataFrame], bc) -> Iterator[pd.DataFrame]:
    w = _cached_weights(bc)  # np.load once per worker process, not per batch
    for pdf in batches:
        t0 = time.monotonic()
        recs = [
            extract_document(h, t)
            for h, t in zip(pdf["html"].to_numpy(), pdf["text"].to_numpy())
        ]
        wall_ms = (time.monotonic() - t0) * 1000.0
        features = [r["features"] for r in recs]
        method = np.array([r["method"] for r in recs], dtype=object)
        doc_class, confidence = classify_batch(
            np.array(features, dtype=np.float64).reshape(len(recs), len(FEATURE_NAMES)),
            method,
            w,
        )
        out = {
            "url": pdf["url"],
            "warc_ts": pdf["warc_ts"],
            "lang": pdf["lang"],
            "method": method,
            "status": [r["status"] for r in recs],
            "extracted_text": [r["extracted_text"] for r in recs],
            "digest": [r["digest"] for r in recs],
            "n_chars": [r["n_chars"] for r in recs],
            "features": features,
            "doc_class": doc_class,
            "confidence": confidence,
            "batch_wall_ms": wall_ms,
        }
        if "bucket" in pdf.columns:
            out["bucket"] = pdf["bucket"]
        yield pd.DataFrame(out)


def extract(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang [,bucket]) -> extracted and
    classified records.

    Catalyst prunes the scan to exactly the five needed columns
    (ReadSchema); the kernel output drops ``html`` so downstream stages
    shuffle kilobytes of text, not megabytes of raw payload.
    """
    cols = ["url", "warc_ts", "html", "text", "lang"]
    keep_bucket = "bucket" in pages.columns
    bc = _weights_broadcast(pages.sparkSession)
    return pages.select(*cols, *(["bucket"] if keep_bucket else [])).mapInPandas(
        lambda batches: _extract_batches(batches, bc),
        schema=EXTRACT_SCHEMA + (", bucket int" if keep_bucket else ""),
    )


def quarantine_split(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """success rows vs error-envelope rows (F8 + the reference's
    skip-message-keep-consuming semantics, extraction_service/app/kafka/
    consumer.py:50-52 — here: no data loss, errors routed to a table)."""
    ok = extracted.filter(F.col("status") == "success")
    bad = extracted.filter(F.col("status") != "success")
    return ok, bad
