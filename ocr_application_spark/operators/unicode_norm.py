"""Unicode NFC normalization over the corpus text column.

Real web crawls mix precomposed and decomposed accents (NFC vs NFD) for
the *same* logical text — e.g. ``café`` encoded as U+00E9 by one CMS and
as ``e`` + U+0301 by another — which silently defeats exact dedup,
fingerprinting and token matching unless the corpus is canonicalized
first. Every production training-data pipeline runs a normalization
pass before hashing; this operator is that pass. (The reference's
extraction path hits the same class of problem at the byte level — its
mojibake repair in ``Text_extraction_service isoler/app/services.py`` is
studied behavior for `core/extraction_core.py:85` — but it has no
Unicode-normalization stage; this op is part of the training-data
toolkit, not reference parity.)

Verification contract (exact, cross-engine): Python's ``unicodedata``
and DuckDB's ``nfc_normalize`` both implement Unicode Standard Annex
#15 NFC; the oracle compares the normalized text via sha256 digests
plus codepoint lengths, so any divergence in any row fails the gate at
the byte level. The decomposed input is DERIVED deterministically
inside both engines (inject combining marks after 'e'/'a' on 2/3 of the
docs via plain ``replace`` — dialect-portable), so the operator is
genuinely exercised: ``changed`` is 1 exactly where a combining
sequence recomposed.

Spark side: NFC has no JVM built-in, so this is a legitimate pandas-UDF
case (pandas ``Series.str.normalize`` over Arrow batches — batched C
loop, never per-row Python). Everything else (derivation, lengths,
digest, change flag) stays JVM-side so the plan is a single narrow
projection with ONE ArrowEval and zero exchanges at any scale: at 100 TB
this is a map-only stage pipelined into whatever consumes it.

Cross-engine landmines dodged (repo invariants):
* lengths are codepoint counts in BOTH engines (Spark ``length`` counts
  codepoints on UTF8String, DuckDB ``length`` likewise) — but only
  because the injected marks are BMP; astral chars would be fine here
  too, unlike UTF-16-unit semantics (documented for the next reader).
* the change flag is a binary string compare post-normalization in both
  engines (no collation involvement).
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ocr_application_spark.operators.registry import op

_COMBINING_ACUTE = "́"  # chr(769)
_COMBINING_RING = "̊"  # chr(778)


def nfc_normalize_text(series: pd.Series) -> pd.Series:
    """NFC-normalize a pandas string Series (None-preserving)."""
    return series.str.normalize("NFC")


def _nfc_udf():
    # built lazily: @pandas_udf parses its schema against the active
    # SparkContext, so decorating at import time breaks sessionless
    # imports (same pattern as entropy.py:134)
    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return nfc_normalize_text(s)

    return nfc


def nfc_normalize_py(text: str | None) -> str | None:
    """Pure-Python twin of the UDF for differential tests."""
    return None if text is None else unicodedata.normalize("NFC", text)


def _decomposed(text):
    """Deterministically inject decomposed accent sequences (Spark side).

    Mirrored verbatim in the oracle SQL via chr(769)/chr(778); plain
    ``replace`` so both dialects do the identical byte-level rewrite.
    """
    acute = F.replace(text, F.lit("e"), F.lit("e" + _COMBINING_ACUTE))
    return F.replace(acute, F.lit("a"), F.lit("a" + _COMBINING_RING))


@op(
    "text_nfc_normalize",
    """
    with raw as (
      select doc_id,
             case when doc_id % 3 = 0 then text
                  else replace(replace(text, 'e', 'e' || chr(769)),
                               'a', 'a' || chr(778))
             end as raw_text
      from documents
    )
    select doc_id,
           cast(raw_text <> nfc_normalize(raw_text) as int) as changed,
           length(raw_text) as n_cp_raw,
           length(nfc_normalize(raw_text)) as n_cp_nfc,
           sha256(nfc_normalize(raw_text)) as nfc_digest
    from raw
    """,
)
def text_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw = F.when(F.col("doc_id") % 3 == 0, F.col("text")).otherwise(
        _decomposed(F.col("text"))
    )
    out = docs.select("doc_id", raw.alias("raw_text")).withColumn(
        "nfc_text", _nfc_udf()("raw_text")
    )
    return out.select(
        "doc_id",
        (F.col("raw_text") != F.col("nfc_text")).cast("int").alias("changed"),
        F.length("raw_text").alias("n_cp_raw"),
        F.length("nfc_text").alias("n_cp_nfc"),
        F.sha2("nfc_text", 256).alias("nfc_digest"),
    )


# --- Unicode script mix (spam / wrong-langid signal) -------------------------
#
# Per-document histogram of characters by Unicode script block, the
# dominant script, and a mixed-script flag (non-dominant share >= 5%).
# Mixed-script text is a classic crawl-quality signal: confusable-
# script spam, mis-decoded bytes, and boilerplate chrome around a
# different-script body all light it up, and langid heuristics built
# on Latin stopwords (text_langid_heuristic) need the guard.
#
# Counting is regexp_count with single-char classes over LITERAL BMP
# range endpoints (the chars are embedded in the pattern from Python,
# so Java regex and RE2 parse the identical class; astral planes are
# deliberately excluded — Java strings split them into surrogates
# where DuckDB sees codepoints, the repo's known explode landmine).
# Zero shuffles: nine counts + argmax + flag all fuse into the scan.
#
# The corpus fixture is ASCII-heavy, so the GATE derives multilingual
# text deterministically (the sentence-split precedent): four of five
# docs get a literal non-Latin suffix chosen by doc_id % 5 — identical
# concat in both engines — so every script path and the mixed flag are
# exercised by real data.

_SCRIPTS = [
    ("latin", f"A-Za-z{chr(0xC0)}-{chr(0x24F)}"),
    ("cyrillic", f"{chr(0x400)}-{chr(0x4FF)}"),
    ("greek", f"{chr(0x370)}-{chr(0x3FF)}"),
    ("arabic", f"{chr(0x600)}-{chr(0x6FF)}"),
    ("hebrew", f"{chr(0x590)}-{chr(0x5FF)}"),
    ("devanagari", f"{chr(0x900)}-{chr(0x97F)}"),
    ("cjk", f"{chr(0x4E00)}-{chr(0x9FFF)}"),
    ("kana", f"{chr(0x3040)}-{chr(0x30FF)}"),
    ("hangul", f"{chr(0xAC00)}-{chr(0xD7AF)}"),
]

_SUFFIXES = {
    1: " привет мир это тест",
    2: " مرحبا بالعالم שלום עולם",
    3: " 你好世界 こんにちは カタカナ",
    4: " γειά σου नमस्ते 안녕하세요",
}

# docs with doc_id % 10 in 5..9 REPLACE their text with a repeated
# non-Latin phrase, so dominance itself (not just the counts) flips:
# cyrillic/arabic/cjk/hangul/hebrew each dominate a tenth of the corpus
_REPLACERS = {
    5: "привет мир это тест ",
    6: "مرحبا بالعالم اختبار ",
    7: "你好世界测试文本 ",
    8: "안녕하세요 세계 테스트 ",
    9: "שלום עולם בדיקה ",
}


def script_mix_cols(text):
    """(counts dict, total, dominant, mixed) columns for a text col."""
    counts = {
        name: F.regexp_count(text, F.lit(f"[{rng}]")).cast("long")
        for name, rng in _SCRIPTS
    }
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    mx = F.greatest(*counts.values())
    dominant = F.lit("none")
    # first-in-fixed-order wins ties: build the case chain in reverse
    for name, _ in reversed(_SCRIPTS):
        dominant = F.when(
            (mx > 0) & (counts[name] == mx), F.lit(name)
        ).otherwise(dominant)
    mixed = (total > 0) & (F.lit(20) * (total - mx) >= total)
    return counts, total, dominant, mixed


@op(
    "text_script_mix",
    (
        lambda: (
            "with derived as (select doc_id, case "
            + " ".join(
                f"when doc_id % 10 = {k} then repeat('{ph}', 1 + cast(doc_id % 7 as int))"
                for k, ph in _REPLACERS.items()
            )
            + " "
            + " ".join(
                f"when doc_id % 5 = {k} then text || '{sfx}'"
                for k, sfx in _SUFFIXES.items()
            )
            + " else text end as t from documents), counted as (select doc_id, "
            + ", ".join(
                f"cast(len(regexp_extract_all(t, '[{rng}]')) as bigint) as n_{name}"
                for name, rng in _SCRIPTS
            )
            + " from derived), tot as (select *, "
            + " + ".join(f"n_{name}" for name, _ in _SCRIPTS)
            + " as n_scripted, greatest("
            + ", ".join(f"n_{name}" for name, _ in _SCRIPTS)
            + ") as mx from counted) select doc_id, "
            + ", ".join(f"n_{name}" for name, _ in _SCRIPTS)
            + ", n_scripted, case when mx = 0 then 'none' "
            + " ".join(
                f"when n_{name} = mx then '{name}'" for name, _ in _SCRIPTS
            )
            + " end as dominant_script,"
            + " (n_scripted > 0 and 20 * (n_scripted - mx) >= n_scripted)"
            + "   as mixed_script from tot"
        )
    )(),
)
def text_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Unicode script histogram + dominant script + mixed-script
    flag, scan-fused (no exchange, no UDF); the gate derives non-Latin
    suffixes per doc_id % 5 so all nine script paths and both flag
    branches run against real data."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = F.col("text")
    for k, sfx in _SUFFIXES.items():
        t = F.when(F.col("doc_id") % 5 == k, F.concat(F.col("text"), F.lit(sfx))).otherwise(t)
    for k, ph in _REPLACERS.items():
        t = F.when(
            F.col("doc_id") % 10 == k,
            F.repeat(F.lit(ph), (F.lit(1) + F.col("doc_id") % 7).cast("int")),
        ).otherwise(t)
    d = docs.select("doc_id", t.alias("t"))
    counts, total, dominant, mixed = script_mix_cols(F.col("t"))
    return d.select(
        "doc_id",
        *[c.alias(f"n_{name}") for name, c in counts.items()],
        total.alias("n_scripted"),
        dominant.alias("dominant_script"),
        mixed.alias("mixed_script"),
    )


# --- confusable (homoglyph) folding ------------------------------------------
#
# The evasion counterpart of text_script_mix: spam dodges Latin
# blocklists by swapping individual letters for visually-identical
# codepoints from other scripts (Cyrillic о/е/а inside English words,
# Greek ο, fullwidth forms). Folding maps a FIXED confusable set back
# to Latin before any hashing/dedup/blocklist pass — both engines use
# the same char-to-char translate() (identical semantics in Spark and
# DuckDB), so the fold is byte-exact cross-engine. The map is a small
# curated subset of Unicode TR39's confusables (the machinery is
# map-agnostic; production swaps in the full table).
#
# Zero shuffles: count + fold + digest fuse into the scan.

_CONFUSABLES = {
    "а": "a",  # U+0430 cyrillic
    "е": "e",  # U+0435
    "о": "o",  # U+043E
    "р": "p",  # U+0440
    "с": "c",  # U+0441
    "х": "x",  # U+0445
    "ο": "o",  # U+03BF greek omicron
    "ν": "v",  # U+03BD greek nu
    "ａ": "a",  # U+FF41 fullwidth
    "ｏ": "o",  # U+FF4F fullwidth
}
_CONF_SRC = "".join(_CONFUSABLES)
_CONF_DST = "".join(_CONFUSABLES.values())


def fold_confusables(text):
    """Column: text with the confusable set folded to Latin."""
    return F.translate(text, _CONF_SRC, _CONF_DST)


def _conf_count(text):
    # replace-arithmetic: codepoints removed by deleting the confusable
    # set == how many confusables the text held (translate with an
    # empty mapping for the counting side would differ between engines,
    # so count via per-char replace like the entropy op)
    total = None
    for ch in _CONFUSABLES:
        c = F.length(text) - F.length(F.replace(text, F.lit(ch), F.lit("")))
        total = c if total is None else total + c
    return total.cast("long")


def _conf_oracle() -> str:
    cnt = " + ".join(
        f"(length(t) - length(replace(t, '{ch}', '')))" for ch in _CONFUSABLES
    )
    return f"""
    with fx as (
      select doc_id,
             case when doc_id % 4 = 1
                    then translate(text, 'aeo', '{chr(0x430)}{chr(0x435)}{chr(0x43E)}')
                  when doc_id % 4 = 2
                    then translate(text, 'opc', '{chr(0x3BF)}{chr(0x440)}{chr(0x441)}')
                  else text end as t
      from documents
    )
    select doc_id,
           cast({cnt} as bigint) as n_confusables,
           substr(sha256(translate(t, '{_CONF_SRC}', '{_CONF_DST}')), 1, 16)
             as folded_digest,
           translate(t, '{_CONF_SRC}', '{_CONF_DST}') = t as was_clean
    from fx
    """


@op("text_confusable_fold", _conf_oracle())
def text_confusable_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: derive homoglyph-spam variants (half the corpus gets
    Latin->Cyrillic/Greek swaps), count confusables, fold, digest.
    Folded variants of the same source text converge to the same
    digest — the property that makes post-fold dedup catch the spam."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = (
        F.when(
            F.col("doc_id") % 4 == 1,
            F.translate(F.col("text"), "aeo", "аео"),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.translate(F.col("text"), "opc", "οрс"),
        )
        .otherwise(F.col("text"))
    )
    d = docs.select("doc_id", t.alias("t"))
    folded = fold_confusables(F.col("t"))
    return d.select(
        "doc_id",
        _conf_count(F.col("t")).alias("n_confusables"),
        F.substring(F.sha2(folded, 256), 1, 16).alias("folded_digest"),
        (folded == F.col("t")).alias("was_clean"),
    )
