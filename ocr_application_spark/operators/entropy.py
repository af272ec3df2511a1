"""Information-theoretic quality signals: char-distribution entropy and
zlib compression ratio.

Both are standard web-corpus spam/boilerplate detectors (machine-
generated keyword stuffing has low char entropy; template boilerplate
compresses far better than prose). Two implementations, two
verification contracts:

* ``text_char_entropy`` — Shannon entropy of the document's character
  distribution over a FIXED alphabet (a-z + space on the lowercased
  text). Counts come from the replace-arithmetic trick
  (``length(x) - length(replace(x, c, ''))``), so the whole operator is
  pure JVM string/arith expressions that fuse into the scan — zero
  exchanges, zero UDFs, and an exact DuckDB oracle. Per-character
  entropy terms are quantized to integer micro-nats BEFORE the fixed-
  order sum (repo invariant: only exact integers cross an aggregation
  or an engine boundary). A fixed alphabet also dodges the cross-engine
  landmine of per-char explode: Java splits astral-plane chars into
  surrogate pairs where DuckDB sees one codepoint, so "explode the
  chars" is NOT portable; replace-counting is.

* ``text_compression_ratio`` — DEFLATE ratio via an Arrow-batched
  pandas UDF (zlib level 6, fixed). Genuinely non-SQL (DuckDB has no
  zlib), so its gate entry is rows-only per the contract and the value
  contract is pinned by a pytest differential against the pure-Python
  twin ``compression_ratio_py`` plus monotonicity checks (repetitive
  text compresses harder than varied text).

Scale: both are per-row projections — no shuffle at any size; the UDF
path is one Arrow batch hop with bounded memory (output is two scalars
per doc).
"""

from __future__ import annotations

import zlib

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ocr_application_spark.operators.registry import op

_ALPHABET = "abcdefghijklmnopqrstuvwxyz "


def _counts(lowered: Column) -> list[Column]:
    return [
        F.length(lowered) - F.length(F.replace(lowered, F.lit(c), F.lit("")))
        for c in _ALPHABET
    ]


def char_entropy_cols(text: Column) -> tuple[Column, Column]:
    """(total alphabet chars, entropy in integer micro-nats) for a text
    column. Entropy term per char: round(1e6 * -(p * ln p)); the sum of
    27 integers in fixed expression order is exact in any engine."""
    lowered = F.lower(text)
    counts = _counts(lowered)
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    total = total.cast("bigint")
    terms = []
    for c in counts:
        p = c.cast("double") / total.cast("double")
        terms.append(
            F.when(c > 0, F.round(F.lit(-1e6) * p * F.log(p), 0).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    ent = terms[0]
    for t in terms[1:]:
        ent = ent + t
    return total, F.when(total > 0, ent)


def _entropy_oracle() -> str:
    # the verbatim SQL mirror: same counts, same per-term quantization,
    # same fixed summation order
    cnt = {
        c: f"(length(lowered) - length(replace(lowered, '{c}', '')))"
        for c in _ALPHABET.replace(" ", "")
    }
    cnt[" "] = "(length(lowered) - length(replace(lowered, ' ', '')))"
    total = " + ".join(cnt[c] for c in _ALPHABET)
    terms = " + ".join(
        f"case when {cnt[c]} > 0 then cast(round(-1e6 * (cast({cnt[c]} as double) / cast(total as double)) * ln(cast({cnt[c]} as double) / cast(total as double)), 0) as bigint) else 0 end"
        for c in _ALPHABET
    )
    return f"""
    with lw as (select doc_id, lower(text) as lowered from documents),
    tot as (select doc_id, lowered, cast({total} as bigint) as total from lw)
    select doc_id, total as n_alpha_chars,
           case when total > 0 then {terms} end as entropy_micro_nats
    from tot
    """


@op("text_char_entropy", _entropy_oracle())
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc char-distribution entropy, scan-fused (no exchange, no
    UDF), exact integer micro-nats in both engines."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    total, ent = char_entropy_cols(F.col("text"))
    return d.select(
        "doc_id", total.alias("n_alpha_chars"), ent.alias("entropy_micro_nats")
    )


def compression_ratio_py(text: str | None) -> float | None:
    """Pure twin of the kernel: DEFLATE(level 6) bytes / raw bytes.
    None for null/empty (ratio undefined)."""
    if not text:
        return None
    raw = text.encode("utf-8")
    return len(zlib.compress(raw, 6)) / len(raw)


def compression_ratio(text: Column) -> Column:
    # udf built lazily: @pandas_udf parses its schema against the
    # ACTIVE session, so a module-level decorator would break import
    # order (no session yet at import time)
    @pandas_udf("double")
    def _ratio(texts: pd.Series) -> pd.Series:
        return texts.map(compression_ratio_py)

    return _ratio(text)


@op("text_compression_ratio")  # rows-only: zlib has no SQL twin
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFLATE compressibility per doc — the spam/boilerplate signal.
    Rows-only at the gate (genuinely non-SQL); value contract pinned by
    tests/test_entropy.py's differential vs compression_ratio_py."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        F.octet_length("text").alias("n_bytes"),
        compression_ratio(F.col("text")).alias("deflate_ratio"),
    )
