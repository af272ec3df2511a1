"""Structured-data extraction: Open Graph meta tags + JSON-LD blocks.

Two extraction-tier operators between raw HTML and the document model,
neither of which the reference has (its extraction path consumes an
uploaded file, not a web page — extraction_service/app/main.py):

1. ``extract_opengraph`` — the Open Graph protocol meta tags
   (``og:title``/``og:type``/``og:image`` and
   ``article:published_time``). OG is the de-facto social/preview
   metadata layer of the web; ``og:title`` is routinely cleaner than
   ``<title>`` (no site-name suffix) and ``article:published_time`` is
   the most reliable in-page document date — the training-data dedup
   and recency layers both want it. The timestamp is surfaced BOTH as
   the raw string and as parsed epoch microseconds (the cross-engine
   exact-integer timestamp form — see CLAUDE.md invariants).
2. ``extract_jsonld`` — the first ``<script
   type="application/ld+json">`` block (schema.org structured data):
   the raw block plus ``@type``/``headline``/``datePublished`` pulled
   out with JSON-path functions. Malformed JSON (truncated script,
   typos) yields NULL typed fields but keeps the raw block, so a
   quality layer can count broken-structured-data pages.

Engine discipline: pure built-in ``regexp_extract`` +
``get_json_object`` / ``json_extract_string`` + ``try_to_timestamp`` /
``try_cast`` projections — codegen'd, zero shuffle, zero UDFs, fuse
into the scan at any corpus size. Every regex is ONE Python constant
shared verbatim by both engines (``(?i)``/``(?is)`` + non-greedy are
RE2-safe and Java-regex-safe; probed: identical captures). JSON path
syntax differs per dialect (Spark ``$['@type']`` vs DuckDB
``$."@type"``) so those twin expressions are adjacent in this file;
invalid JSON is NULL on the Spark side natively and guarded with
``json_valid`` on the DuckDB side (probed: DuckDB's extract errors on
malformed input instead of returning NULL).

The fixture head is DERIVED deterministically from ``documents`` rows
(the pagemeta discipline): doc_id % 5 routes OG pages through
quote-style / attr-order / tag-case / missing / unquoted variants and
doc_id % 4 routes JSON-LD through valid / attr-variant / absent /
truncated blocks, so every extraction path is genuinely exercised and
value-checked at both SFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op


def _sql_quote(pat: str) -> str:
    return "'" + pat.replace("'", "''") + "'"


# --- shared patterns (one constant, two engines) -----------------------------
#
# Both attribute orders occur in the wild; extract each and coalesce
# (first non-empty wins). [^>]* cannot cross a tag boundary, so each
# match is confined to one <meta ...> element even when several sit on
# one line.

def _og_pc_pat(prop: str) -> str:
    return rf'(?i)<meta[^>]*property=["\']?{prop}["\']?[^>]*content=["\']?([^"\'>]+)'


def _og_cp_pat(prop: str) -> str:
    return rf'(?i)<meta[^>]*content=["\']?([^"\'>]+)["\']?[^>]*property=["\']?{prop}'


_JSONLD_PAT = (
    r'(?is)<script[^>]*type=["\']application/ld\+json["\'][^>]*>(.*?)</script>'
)

_OG_PROPS = {
    "og_title": "og:title",
    "og_type": "og:type",
    "og_image": "og:image",
    "published_time": "article:published_time",
}


# --- the extractors (generic over any html string column) --------------------

def extract_opengraph(df: DataFrame, html_col: str = "html_text") -> DataFrame:
    """Append (og_title, og_type, og_image, published_time,
    published_epoch_us) extracted from an HTML string column. Missing
    string fields come back as '' (the engines' shared no-match value);
    the parsed timestamp is NULL when absent or unparseable
    (``try_to_timestamp``), never an error under ANSI."""
    h = F.col(html_col)
    cols = {}
    for out, prop in _OG_PROPS.items():
        cols[out] = F.coalesce(
            F.nullif(F.regexp_extract(h, _og_pc_pat(prop), 1), F.lit("")),
            F.regexp_extract(h, _og_cp_pat(prop), 1),
        )
    df = df.withColumns(cols)
    return df.withColumn(
        "published_epoch_us",
        F.unix_micros(F.try_to_timestamp(F.nullif(F.col("published_time"), F.lit("")))),
    )


def extract_jsonld(df: DataFrame, html_col: str = "html_text") -> DataFrame:
    """Append (jsonld_block, jsonld_type, headline, date_published,
    date_epoch_us) from the first ``application/ld+json`` script block.
    ``jsonld_block`` is '' when no block exists; the typed fields are
    NULL when the block is absent OR malformed (``get_json_object``
    returns NULL on invalid JSON — probed). The fixture only emits
    object-rooted blocks; a bare-scalar block would extract as itself.
    """
    h = F.col(html_col)
    block = F.trim(F.regexp_extract(h, _JSONLD_PAT, 1))
    df = df.withColumn("jsonld_block", block)
    b = F.col("jsonld_block")
    return df.withColumns(
        {
            "jsonld_type": F.get_json_object(b, "$['@type']"),
            "headline": F.get_json_object(b, "$.headline"),
            "date_published": F.get_json_object(b, "$.datePublished"),
        }
    ).withColumn(
        "date_epoch_us",
        F.unix_micros(F.try_to_timestamp(F.col("date_published"))),
    )


# --- deterministic fixtures (twin expressions) --------------------------------
#
# Shared-ISO timestamp string built arithmetically (never strftime —
# per-dialect format tokens diverge): day 1..28, hour 0..23 from doc_id.

_PTIME_SQL = (
    "'2024-03-' || lpad(cast(1 + doc_id % 28 as varchar), 2, '0')"
    " || 'T' || lpad(cast(doc_id % 24 as varchar), 2, '0') || ':00:00'"
)

# doc_id % 5 OG variants:
#   0: double quotes, property-content order, full set + published_time
#   1: UPPERCASE META, single quotes, content-property order, no image
#   2: no OG at all (plain head)
#   3: unquoted attrs, og:title only
#   4: extra attrs, published_time in 'date space time' form, image only
_OG_FIX_SQL = f"""
    case cast(doc_id % 5 as int)
      when 0 then '<html><head><meta property="og:title" content="' || source
        || ' #' || cast(doc_id as varchar) || '">'
        || '<meta property="og:type" content="article">'
        || '<meta property="og:image" content="https://img.example.com/'
        || cast(doc_id as varchar) || '.jpg">'
        || '<meta property="article:published_time" content="' || {_PTIME_SQL}
        || '"></head>'
      when 1 then '<HTML><HEAD><META CONTENT=''' || source || ' #'
        || cast(doc_id as varchar) || ''' PROPERTY=''og:title''>'
        || '<META CONTENT=''website'' PROPERTY=''og:type''></HEAD>'
      when 2 then '<html><head><title>' || source || '</title></head>'
      when 3 then '<html><head><meta property=og:title content=Doc'
        || cast(doc_id as varchar) || '></head>'
      else '<html><head><meta data-v="1" property="og:image" '
        || 'content="https://img.example.com/' || cast(doc_id as varchar)
        || '.png"><meta property="article:published_time" content="'
        || replace({_PTIME_SQL}, 'T', ' ') || '"></head>'
    end
"""

# doc_id % 4 JSON-LD variants:
#   0: valid Article, pretty whitespace, double-quoted type attr
#   1: valid NewsArticle, single-quoted attr + extra script attrs
#   2: no ld+json block (a plain <script> that must NOT match)
#   3: truncated block (malformed JSON -> NULL typed fields)
_LD_FIX_SQL = f"""
    case cast(doc_id % 4 as int)
      when 0 then '<html><head><script type="application/ld+json">' || chr(10)
        || '{{"@type": "Article", "headline": "' || source || ' #'
        || cast(doc_id as varchar) || '", "datePublished": "' || {_PTIME_SQL}
        || '"}}' || chr(10) || '</script></head>'
      when 1 then '<html><head><script async type=''application/ld+json'' id="ld">'
        || '{{"@type":"NewsArticle","headline":"H' || cast(doc_id as varchar)
        || '"}}</script></head>'
      when 2 then '<html><head><script>var x = 1;</script></head>'
      else '<html><head><script type="application/ld+json">'
        || '{{"@type": "Artic</script></head>'
    end
"""


def _fixture(spark: SparkSession, sf_dir: str, fix_sql: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    html = F.expr(fix_sql.replace("as varchar", "as string"))
    return docs.select("doc_id", html.alias("html_text"))


_OG_ORACLE = f"""
    with fx as (
      select doc_id, {_OG_FIX_SQL} as html_text
      from documents
    )
    select doc_id,
      coalesce(nullif(regexp_extract(html_text, {_sql_quote(_og_pc_pat("og:title"))}, 1), ''),
               regexp_extract(html_text, {_sql_quote(_og_cp_pat("og:title"))}, 1)) as og_title,
      coalesce(nullif(regexp_extract(html_text, {_sql_quote(_og_pc_pat("og:type"))}, 1), ''),
               regexp_extract(html_text, {_sql_quote(_og_cp_pat("og:type"))}, 1)) as og_type,
      coalesce(nullif(regexp_extract(html_text, {_sql_quote(_og_pc_pat("og:image"))}, 1), ''),
               regexp_extract(html_text, {_sql_quote(_og_cp_pat("og:image"))}, 1)) as og_image,
      coalesce(nullif(regexp_extract(html_text, {_sql_quote(_og_pc_pat("article:published_time"))}, 1), ''),
               regexp_extract(html_text, {_sql_quote(_og_cp_pat("article:published_time"))}, 1)) as published_time,
      epoch_us(try_cast(nullif(
        coalesce(nullif(regexp_extract(html_text, {_sql_quote(_og_pc_pat("article:published_time"))}, 1), ''),
                 regexp_extract(html_text, {_sql_quote(_og_cp_pat("article:published_time"))}, 1)),
        '') as timestamp)) as published_epoch_us
    from fx
"""

_LD_ORACLE = f"""
    with fx as (
      select doc_id, {_LD_FIX_SQL} as html_text
      from documents
    ),
    blk as (
      select doc_id,
        trim(regexp_extract(html_text, {_sql_quote(_JSONLD_PAT)}, 1)) as jsonld_block
      from fx
    )
    select doc_id, jsonld_block,
      case when json_valid(jsonld_block)
           then json_extract_string(jsonld_block, '$."@type"') end as jsonld_type,
      case when json_valid(jsonld_block)
           then json_extract_string(jsonld_block, '$.headline') end as headline,
      case when json_valid(jsonld_block)
           then json_extract_string(jsonld_block, '$.datePublished') end as date_published,
      epoch_us(try_cast(
        case when json_valid(jsonld_block)
             then json_extract_string(jsonld_block, '$.datePublished') end
        as timestamp)) as date_epoch_us
    from blk
"""


@op("page_og_extract", _OG_ORACLE)
def page_og_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx = _fixture(spark, sf_dir, _OG_FIX_SQL)
    return extract_opengraph(fx).select(
        "doc_id", "og_title", "og_type", "og_image",
        "published_time", "published_epoch_us",
    )


@op("page_jsonld_extract", _LD_ORACLE)
def page_jsonld_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx = _fixture(spark, sf_dir, _LD_FIX_SQL)
    return extract_jsonld(fx).select(
        "doc_id", "jsonld_block", "jsonld_type", "headline",
        "date_published", "date_epoch_us",
    )
