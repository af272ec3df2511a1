"""Charset sniffing over raw ``html: binary`` payloads (BOM + meta).

The pipeline's input table carries HTML as BYTES (`sources/webpages.py`
schema: `html binary` — a crawl cannot trust Content-Type headers), so
before any decode an extraction stage must sniff the encoding the way
browsers do (WHATWG encoding-sniffing order): byte-order mark first,
then a bounded scan of the head for `<meta charset=...>`, else the
UTF-8 default. The reference consumes pre-decoded text (its FastAPI
upload path hands it `str`), so this op is extraction-tier plumbing the
reference never needed but a Common-Crawl ingest cannot skip.

Engine discipline: the whole detector is built-in expressions over the
HEX ENCODING of the first 1 KiB of the payload — `hex()` (both engines
emit uppercase), `like` prefix tests for the three BOMs, one
`regexp_extract` in hex space for the meta declaration (case-
insensitivity handled by generating per-byte `(6C|4C)` alternations
from ONE Python constant shared verbatim by the Spark expression and
the DuckDB oracle, so the two patterns cannot diverge), then
`unhex -> decode -> lower` on the captured token. Matching in hex space
side-steps the only cross-engine hazard: a UTF-16 payload is not valid
UTF-8, so decoding the prefix to VARCHAR (DuckDB would raise) is never
an option — bytes stay bytes until proven text.

The sniff inputs are DERIVED deterministically (doc_id % 4 routes each
doc through BOM / uppercase-meta / UTF-16LE-BOM / no-signal variants)
so all four detection paths are genuinely exercised and value-checked;
the payload tail is real document text through `encode()`.

Scale: a per-row projection over a 1 KiB bounded prefix — no shuffle,
no UDF, fuses into the scan at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op


def _ci_hex(s: str) -> str:
    """Case-insensitive hex-space regex for an ASCII literal: each
    letter becomes a (lower|upper) byte alternation. ONE generator
    feeds both engines' patterns."""
    out = []
    for ch in s:
        lo, up = ch.lower(), ch.upper()
        if lo == up:
            out.append(f"{ord(ch):02X}")
        else:
            out.append(f"({ord(lo):02X}|{ord(up):02X})")
    return "".join(out)


# charset= , optional quote, capture token bytes until a stop byte.
# The leading lazy pair-eater anchors every match to an EVEN hex offset
# (= a byte boundary): unanchored, the pattern could match spanning two
# bytes' nibbles and report a garbage 'meta' charset on binary payloads.
# Stop set per WHATWG unquoted-attribute tokenization: quote, ASCII
# whitespace (tab/LF/FF/CR/space), ';', '/' (self-closing tag), '>'.
_META_PAT = (
    "^(?:[0-9A-F]{2})*?"
    + _ci_hex("charset=")
    + "(22|27)?((?:[0-9A-F]{2})+?)(22|27|09|0A|0C|0D|20|2F|3B|3E)"
)
_META_GROUP = 9  # token group: 7 letter-alternation groups + opt quote = 8
_SCAN_BYTES = 1024  # WHATWG-style bounded head scan


def _detect_sql(hexs: str) -> str:
    """Shared detector body over a hex-prefix column name; dialect-
    portable (only the input blob construction differs per engine)."""
    meta = f"regexp_extract({hexs}, '{_META_PAT}', {_META_GROUP})"
    return f"""
        case
          when {hexs} like 'EFBBBF%' then 'utf-8'
          when {hexs} like 'FFFE%' then 'utf-16le'
          when {hexs} like 'FEFF%' then 'utf-16be'
          when {meta} <> '' then lower(@DECODE@)
          else 'utf-8'
        end as charset,
        case
          when {hexs} like 'EFBBBF%' or {hexs} like 'FFFE%'
               or {hexs} like 'FEFF%' then 'bom'
          when {meta} <> '' then 'meta'
          else 'default'
        end as src
    """.replace("@DECODE@", "@DEC_OPEN@" + meta + "@DEC_CLOSE@")


_SPARK_DETECT = (
    _detect_sql("hexs")
    .replace("@DEC_OPEN@", "decode(unhex(")
    .replace("@DEC_CLOSE@", "), 'UTF-8')")
)
_DUCK_DETECT = (
    _detect_sql("hexs")
    .replace("@DEC_OPEN@", "unhex(")
    .replace("@DEC_CLOSE@", ")::VARCHAR")
)

_ORACLE = f"""
    with raw as (
      select doc_id,
             case cast(doc_id % 4 as int)
               when 0 then '\\xEF\\xBB\\xBF'::BLOB ||
                 encode('<html><head><meta charset="utf-8"></head>'
                        || substr(text, 1, 64))
               when 1 then
                 encode('<html><head><META CHARSET="ISO-8859-1"></head>'
                        || substr(text, 1, 64))
               when 2 then '\\xFF\\xFE'::BLOB || encode(substr(text, 1, 64))
               else encode(substr(text, 1, 64))
             end as b
      from documents
    ),
    h as (select doc_id, substr(hex(b), 1, {2 * _SCAN_BYTES}) as hexs from raw)
    select doc_id, {_DUCK_DETECT}
    from h
"""


def sniff_charset(df: DataFrame, bytes_col: str = "html") -> DataFrame:
    """Append (charset, src) sniffed from a binary column's first 1 KiB;
    src is one of bom/meta/default. The public API the ingest stage
    calls on the pages table before any decode."""
    # truncate the BYTES before hex-encoding: hex(first 1 KiB) equals
    # substr(hex(all), 1, 2 KiB) exactly (pairs align), but never
    # materializes a 2x-payload hex string per row on the ingest path
    h = df.withColumn(
        "hexs", F.hex(F.substring(F.col(bytes_col), 1, _SCAN_BYTES))
    )
    exprs = [e.strip() for e in _split_top(_SPARK_DETECT)]
    return h.selectExpr("*", *exprs).drop("hexs")


@op("extract_charset_sniff", _ORACLE)
def extract_charset_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    b = F.expr(
        """
        case cast(doc_id % 4 as int)
          when 0 then concat(X'EFBBBF',
            encode('<html><head><meta charset="utf-8"></head>'
                   || substr(text, 1, 64), 'UTF-8'))
          when 1 then
            encode('<html><head><META CHARSET="ISO-8859-1"></head>'
                   || substr(text, 1, 64), 'UTF-8')
          when 2 then concat(X'FFFE', encode(substr(text, 1, 64), 'UTF-8'))
          else encode(substr(text, 1, 64), 'UTF-8')
        end
        """
    )
    pages = docs.select("doc_id", b.alias("b"))
    return sniff_charset(pages, "b").select("doc_id", "charset", "src")


def _split_top(sql: str) -> list[str]:
    """Split the two top-level select expressions of the shared
    detector (a comma inside case/()-nesting is not a separator)."""
    parts, depth, cur = [], 0, []
    for ch in sql:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts
