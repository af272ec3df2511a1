"""RSS/Atom feed channel: discovery in HTML heads + entry parsing.

The feed leg of crawl acquisition. Sitemaps (urlops.url_sitemap_extract)
and cache headers (cachehdr) answer "what changed" for sites that
publish those signals; feeds are the third — and for news/blog hosts
the freshest — change channel a Common-Crawl-style recrawler consumes:

- ``discover_feeds``: pull ``<link rel="alternate"
  type="application/rss+xml|atom+xml" href=...>`` advertisements out of
  page ``<head>`` markup and resolve the href against the page url
  (absolute / protocol-relative / root-relative / path-relative), so
  the crawler learns each site's feed endpoints from pages it already
  fetched.
- ``parse_feed_entries``: explode fetched feed XML into one row per
  entry — ``(feed_kind, entry_idx, entry_url, title, pub_epoch_us)`` —
  handling both dialects (RSS ``<item><link>text</link><pubDate>`` with
  RFC-822 dates, Atom ``<entry><link href=".."/><updated>`` with
  ISO-8601), XML entity unescaping in titles and urls, and missing
  dates as NULL rather than a crash.

Date discipline (the CLAUDE.md timestamp invariant): both dialects land
in int64 epoch microseconds via ``try_to_timestamp``/``try_strptime``
twins. Spark 4's parser rejects ``EEE`` in parse patterns, and RFC 822
makes the weekday optional anyway — so both engines strip an optional
leading ``"Www, "`` weekday token and parse the rest
(``dd MMM yyyy HH:mm:ss 'GMT'`` / ``%d %b %Y %H:%M:%S GMT``); Atom
parses ``yyyy-MM-dd'T'HH:mm:ssX`` / ``%Y-%m-%dT%H:%M:%SZ``. A malformed
date yields NULL (quarantine-grade behavior), never an ANSI throw.

Shape: both ops are scan + project (+ one ``posexplode`` for the
parser) — zero exchanges, zero UDFs, fan-out proportional to feed
links / entries in the corpus (plan-asserted). Every regex is ONE
Python constant shared verbatim by both engines, RE2-safe AND
Java-safe: no lookaround, no backrefs, no ``\\s`` (Spark SQL string
literals eat backslash escapes, so whitespace classes are spelled
``[ \\t\\r\\n]`` — the escapes become literal chars on the Spark side
and stay RE2 escapes on the DuckDB side, matching the same set).

Documented regex-extraction limits: single-quoted HTML attribute values
are not matched (double-quoted and unquoted are); ``tag_idx`` is the
ordinal among ALL ``<link>`` tags in the page, so discovered feeds keep
their true head position even after non-feed links are filtered out.

The reference has no acquisition layer (it consumes uploads —
extraction_service/app/main.py); this completes the acquisition family
(sitemap/robots/politeness/recrawl/cache-headers/redirects) that a
10^12-page pipeline needs in front of extraction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op


def _sql_quote(pat: str) -> str:
    return "'" + pat.replace("'", "''") + "'"


# --- shared patterns (one constant, two engines) -----------------------------

_WS = "[ \t\r\n]"  # literal-char whitespace class (see module docstring)

# feed XML
_ITEM_PAT = r"(?is)<item(?:>|[^a-z>][^>]*>)(.*?)</item[^>]*>"
_ENTRY_PAT = r"(?is)<entry(?:>|[^a-z>][^>]*>)(.*?)</entry[^>]*>"
_TITLE_PAT = r"(?is)<title[^>]*>(.*?)</title[^>]*>"
_RSS_LINK_PAT = r"(?is)<link[^>]*>([^<]*)</link"
_ATOM_LINK_PAT = r'(?is)<link[^>]*href' + _WS + r'*=' + _WS + r'*"([^"]*)"'
_PUBDATE_PAT = r"(?is)<pubdate[^>]*>(.*?)</pubdate"
_UPDATED_PAT = r"(?is)<updated[^>]*>(.*?)</updated"
_ATOM_KIND_PAT = r"(?is)<feed[ \t\r\n>]"
_WEEKDAY_PAT = r"^[A-Za-z]+, "

# HTML head discovery
_LINKTAG_PAT = r"(?is)<link(?:>|[^a-z>][^>]*>)"
_ALTERNATE_PAT = r"(^| )alternate( |$)"
_ORIGIN_PAT = r"^(https?://[^/]+)"
_DIR_PAT = r"^(.*/)"


def _attr_pat_quoted(name: str) -> str:
    return r"(?is)" + name + _WS + r"*=" + _WS + r'*"([^"]*)"'


def _attr_pat_bare(name: str) -> str:
    # unquoted HTML attribute value: runs to whitespace, quote, or '>'
    return r"(?is)" + name + _WS + r"*=" + _WS + r"*([^ \t\r\n\">]+)"


# --- twin expression builders (emit the SAME SQL for both engines) -----------

def _attr_sql(tag: str, name: str) -> str:
    """Attribute value from a tag string: double-quoted form wins, else
    unquoted, else NULL ('' never escapes — both engines return '' on
    no-match and nullif folds it)."""
    return (
        f"coalesce(nullif(regexp_extract({tag}, "
        f"{_sql_quote(_attr_pat_quoted(name))}, 1), ''), "
        f"nullif(regexp_extract({tag}, "
        f"{_sql_quote(_attr_pat_bare(name))}, 1), ''))"
    )


def _unescape_sql(x: str) -> str:
    """XML predefined-entity unescape; &amp; last so '&amp;lt;' lands as
    the four characters '&lt;', not '<'."""
    return (
        "replace(replace(replace(replace(replace("
        f"{x}, '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), "
        "'&apos;', ''''), '&amp;', '&')"
    )


def _resolve_href_sql(href: str, page: str) -> str:
    """RFC 3986-lite reference resolution (the cases feed advertisements
    use): absolute, protocol-relative, root-relative, path-relative."""
    return f"""
      case
        when {href} like 'http://%' or {href} like 'https://%' then {href}
        when {href} like '//%' then 'https:' || {href}
        when {href} like '/%'
          then regexp_extract({page}, {_sql_quote(_ORIGIN_PAT)}, 1) || {href}
        else regexp_extract({page}, {_sql_quote(_DIR_PAT)}, 1) || {href}
      end
    """


def _rfc822_us_sql(x: str, engine: str) -> str:
    strip = (
        f"regexp_replace(trim({x}), {_sql_quote(_WEEKDAY_PAT)}, '')"
        if engine == "spark"
        else f"regexp_replace(trim({x}), {_sql_quote(_WEEKDAY_PAT)}, '')"
    )
    if engine == "spark":
        return (
            f"unix_micros(try_to_timestamp({strip}, "
            f"'dd MMM yyyy HH:mm:ss ''GMT'''))"
        )
    return f"epoch_us(try_strptime({strip}, '%d %b %Y %H:%M:%S GMT'))"


def _iso_us_sql(x: str, engine: str) -> str:
    if engine == "spark":
        return (
            f"unix_micros(try_to_timestamp(trim({x}), "
            f"'yyyy-MM-dd''T''HH:mm:ssX'))"
        )
    return f"epoch_us(try_strptime(trim({x}), '%Y-%m-%dT%H:%M:%SZ'))"


# --- library surface ----------------------------------------------------------

def discover_feeds(df: DataFrame, html_col: str = "html_text",
                   url_col: str = "page_url") -> DataFrame:
    """Explode every ``<link>`` tag in an HTML string column and keep
    the feed advertisements: rel contains the token ``alternate`` and
    type is ``application/rss+xml`` or ``application/atom+xml``. Output
    adds (tag_idx, feed_kind, feed_url) with feed_url resolved against
    ``url_col``. Pages without feed links produce no rows."""
    carried = [c for c in df.columns if c != html_col]
    tags = df.select(
        *carried,
        F.posexplode(
            F.expr(f"regexp_extract_all({html_col}, {_sql_quote(_LINKTAG_PAT)}, 0)")
        ).alias("tag_idx", "ltag"),
    )
    rel = _attr_sql("ltag", "rel")
    typ = _attr_sql("ltag", "type")
    href = _attr_sql("ltag", "href")
    kind: Column = F.expr(f"""
      case lower(trim({typ}))
        when 'application/rss+xml' then 'rss'
        when 'application/atom+xml' then 'atom'
      end
    """)
    is_alt = F.expr(f"lower({rel})").rlike(_ALTERNATE_PAT)
    out = tags.select(
        *carried,
        F.col("tag_idx").cast("bigint").alias("tag_idx"),
        kind.alias("feed_kind"),
        F.expr(_resolve_href_sql(href, url_col)).alias("feed_url"),
    ).where(is_alt & F.col("feed_kind").isNotNull() & F.col("feed_url").isNotNull())
    return out


def parse_feed_entries(df: DataFrame, xml_col: str = "feed_xml") -> DataFrame:
    """Explode feed XML into one row per entry: (<carried>, feed_kind,
    entry_idx, entry_url, title, pub_epoch_us). Dialect is detected from
    the root element (``<feed`` => atom, else rss); titles/urls are
    entity-unescaped; an absent or malformed date is NULL."""
    carried = [c for c in df.columns if c != xml_col]
    kind_sql = (
        f"case when {xml_col} rlike {_sql_quote(_ATOM_KIND_PAT)} "
        f"then 'atom' else 'rss' end"
    )
    arr_sql = f"""
      case when {xml_col} rlike {_sql_quote(_ATOM_KIND_PAT)}
        then regexp_extract_all({xml_col}, {_sql_quote(_ENTRY_PAT)}, 1)
        else regexp_extract_all({xml_col}, {_sql_quote(_ITEM_PAT)}, 1)
      end
    """
    ent = df.select(
        *carried,
        F.expr(kind_sql).alias("feed_kind"),
        F.posexplode(F.expr(arr_sql)).alias("entry_idx", "e"),
    )
    url_raw = f"""
      case when feed_kind = 'atom'
        then regexp_extract(e, {_sql_quote(_ATOM_LINK_PAT)}, 1)
        else trim(regexp_extract(e, {_sql_quote(_RSS_LINK_PAT)}, 1))
      end
    """
    date_raw = f"""
      case when feed_kind = 'atom'
        then regexp_extract(e, {_sql_quote(_UPDATED_PAT)}, 1)
        else regexp_extract(e, {_sql_quote(_PUBDATE_PAT)}, 1)
      end
    """
    pub_sql = f"""
      case when feed_kind = 'atom'
        then {_iso_us_sql(f"nullif({date_raw}, '')", "spark")}
        else {_rfc822_us_sql(f"nullif({date_raw}, '')", "spark")}
      end
    """
    title_sql = _unescape_sql(
        f"trim(regexp_extract(e, {_sql_quote(_TITLE_PAT)}, 1))"
    )
    return ent.select(
        *carried,
        "feed_kind",
        F.col("entry_idx").cast("bigint").alias("entry_idx"),
        F.expr(_unescape_sql(url_raw)).alias("entry_url"),
        F.expr(title_sql).alias("title"),
        F.expr(pub_sql).cast("bigint").alias("pub_epoch_us"),
    )


# --- deterministic fixtures (twin expressions, engine-parameterized) ----------
#
# Discovery fixture (doc_id % 5):
#   0: double-quoted RSS advert + a stylesheet link (filtered out)
#   1: UPPERCASE Atom advert, attribute order swapped, protocol-relative
#   2: no feed link at all (canonical + stylesheet only -> zero rows)
#   3: RSS root-relative AND Atom absolute, plus rel=alternate
#      type=text/html (a translation link -> excluded by type)
#   4: unquoted attributes, path-relative href
#
# Parse fixture: kind = atom when doc_id % 3 = 0 else rss;
# n_entries = 1 + doc_id % 4; entry i's timestamp is
# 2024-01-01T00:00:00Z + doc_id hours + i minutes. Hostile rows:
#   doc_id % 11 == 0 -> entry 0 has NO date tag (NULL pub)
#   doc_id % 7 == 0 (rss) -> entry 0's pubDate carries the optional
#     RFC-822 weekday prefix (exercises the strip)
#   entry 1's title carries '&amp; &lt;b&gt;' (exercises unescape)
#   atom hrefs carry '&amp;' in a query string (attribute unescape)
# Channel-level <title>/<link> sit OUTSIDE items, proving the parser
# scopes field extraction to the entry substring.

_PAGE_URL_SQL = (
    "'https://h' || cast(doc_id % 50 as varchar) || '.example.com/blog/page'"
    " || cast(doc_id as varchar) || '.html'"
)

_DISCOVER_FIX_SQL = f"""
    case cast(doc_id % 5 as int)
      when 0 then '<html><head><link rel="alternate" type="application/rss+xml"'
        || ' title="RSS" href="/feed.xml">'
        || '<link rel="stylesheet" href="/s.css"></head><body></body></html>'
      when 1 then '<HEAD><LINK HREF="//h' || cast(doc_id % 50 as varchar)
        || '.example.com/atom" TYPE="application/atom+xml" REL="alternate"></HEAD>'
      when 2 then '<head><link rel="canonical" href="https://e.com/c">'
        || '<link rel="stylesheet" href="/s.css"></head>'
      when 3 then '<head><link rel="alternate" type="application/rss+xml" href="/rss">'
        || '<link rel="alternate" type="text/html" href="/en/page">'
        || '<link rel="alternate" type="application/atom+xml"'
        || ' href="https://feeds.example.org/d' || cast(doc_id as varchar) || '">'
        || '</head>'
      else '<head><link rel=alternate type=application/rss+xml href=feed'
        || cast(doc_id as varchar) || '.rss></head>'
    end
"""


def _fmt822(us: str, engine: str) -> str:
    if engine == "spark":
        return f"date_format(timestamp_micros({us}), 'dd MMM yyyy HH:mm:ss ''GMT''')"
    return f"strftime(make_timestamp({us}), '%d %b %Y %H:%M:%S GMT')"


def _fmtiso(us: str, engine: str) -> str:
    if engine == "spark":
        return f"date_format(timestamp_micros({us}), 'yyyy-MM-dd''T''HH:mm:ss''Z''')"
    return f"strftime(make_timestamp({us}), '%Y-%m-%dT%H:%M:%SZ')"


_BASE_US = 1704067200000000  # 2024-01-01T00:00:00Z


def _entry_sql(i: int, engine: str) -> str:
    us = f"({_BASE_US} + doc_id * 3600000000 + {i} * 60000000)"
    title = (
        f"'Post ' || cast(doc_id as varchar) || '-{i}'"
        + (" || ' &amp; &lt;b&gt;'" if i == 1 else "")
    )
    url = (
        f"'https://h' || cast(doc_id % 50 as varchar) || '.example.com/p/'"
        f" || cast(doc_id as varchar) || '/{i}'"
    )
    if i == 0:
        rss_date = f"""
          case when doc_id % 11 = 0 then ''
               when doc_id % 7 = 0
                 then '<pubDate>Mon, ' || {_fmt822(us, engine)} || '</pubDate>'
               else '<pubDate>' || {_fmt822(us, engine)} || '</pubDate>' end
        """
        atom_date = f"""
          case when doc_id % 11 = 0 then ''
               else '<updated>' || {_fmtiso(us, engine)} || '</updated>' end
        """
    else:
        rss_date = f"'<pubDate>' || {_fmt822(us, engine)} || '</pubDate>'"
        atom_date = f"'<updated>' || {_fmtiso(us, engine)} || '</updated>'"
    rss = (
        f"'<item><title>' || {title} || '</title><link>' || {url} || '</link>'"
        f" || {rss_date} || '</item>'"
    )
    atom = (
        f"'<entry><title>' || {title} || '</title>'"
        f" || '<link rel=\"alternate\" href=\"' || {url}"
        f" || '?s=atom&amp;r=1\"/>' || {atom_date} || '</entry>'"
    )
    body = f"case when doc_id % 3 = 0 then {atom} else {rss} end"
    return f"case when {i} < 1 + doc_id % 4 then ({body}) else '' end"


def _feed_fix_sql(engine: str) -> str:
    entries = " || ".join(f"({_entry_sql(i, engine)})" for i in range(4))
    chan = (
        "'<title>Feed ' || cast(doc_id as varchar) || '</title>'"
        " || '<link>https://example.com/</link>'"
    )
    return f"""
      case when doc_id % 3 = 0
        then '<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom">'
          || {chan} || ({entries}) || '</feed>'
        else '<?xml version="1.0"?><rss version="2.0"><channel>'
          || {chan} || ({entries}) || '</channel></rss>'
      end
    """


# --- oracles -------------------------------------------------------------------

_DISCOVER_ORACLE = f"""
    with fx as (
      select doc_id, {_PAGE_URL_SQL} as page_url,
        {_DISCOVER_FIX_SQL} as html_text
      from documents
    ),
    tags as (
      select doc_id, page_url,
        regexp_extract_all(html_text, {_sql_quote(_LINKTAG_PAT)}, 0) as tarr
      from fx
    ),
    t1 as (
      select doc_id, page_url, r.i as tag_idx, tarr[r.i + 1] as ltag
      from tags, lateral (select unnest(range(len(tarr))) as i) r
    ),
    a as (
      select doc_id, page_url, tag_idx,
        {_attr_sql("ltag", "rel")} as rel,
        {_attr_sql("ltag", "type")} as typ,
        {_attr_sql("ltag", "href")} as href
      from t1
    ),
    k as (
      select doc_id, page_url, tag_idx, rel, href,
        case lower(trim(typ))
          when 'application/rss+xml' then 'rss'
          when 'application/atom+xml' then 'atom'
        end as feed_kind
      from a
    )
    select doc_id, tag_idx, feed_kind,
      {_resolve_href_sql("href", "page_url")} as feed_url
    from k
    where regexp_matches(lower(rel), {_sql_quote(_ALTERNATE_PAT)})
      and feed_kind is not null and href is not null
"""

_PARSE_ORACLE = f"""
    with fx as (
      select doc_id, {_feed_fix_sql("duck")} as feed_xml from documents
    ),
    kd as (
      select doc_id,
        case when regexp_matches(feed_xml, {_sql_quote(_ATOM_KIND_PAT)})
          then 'atom' else 'rss' end as feed_kind,
        case when regexp_matches(feed_xml, {_sql_quote(_ATOM_KIND_PAT)})
          then regexp_extract_all(feed_xml, {_sql_quote(_ENTRY_PAT)}, 1)
          else regexp_extract_all(feed_xml, {_sql_quote(_ITEM_PAT)}, 1)
        end as earr
      from fx
    ),
    e1 as (
      select doc_id, feed_kind, r.i as entry_idx, earr[r.i + 1] as e
      from kd, lateral (select unnest(range(len(earr))) as i) r
    ),
    f as (
      select doc_id, feed_kind, entry_idx,
        case when feed_kind = 'atom'
          then regexp_extract(e, {_sql_quote(_ATOM_LINK_PAT)}, 1)
          else trim(regexp_extract(e, {_sql_quote(_RSS_LINK_PAT)}, 1))
        end as url_raw,
        trim(regexp_extract(e, {_sql_quote(_TITLE_PAT)}, 1)) as title_raw,
        nullif(case when feed_kind = 'atom'
          then regexp_extract(e, {_sql_quote(_UPDATED_PAT)}, 1)
          else regexp_extract(e, {_sql_quote(_PUBDATE_PAT)}, 1)
        end, '') as date_raw
      from e1
    )
    select doc_id, feed_kind, entry_idx,
      {_unescape_sql("url_raw")} as entry_url,
      {_unescape_sql("title_raw")} as title,
      cast(case when feed_kind = 'atom'
        then {_iso_us_sql("date_raw", "duck")}
        else {_rfc822_us_sql("date_raw", "duck")}
      end as bigint) as pub_epoch_us
    from f
"""


# --- queries() entries ----------------------------------------------------------

def _spark_expr(sql: str) -> F.Column:
    return F.expr(sql.replace("as varchar", "as string"))


@op("crawl_feed_discover", _DISCOVER_ORACLE)
def crawl_feed_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fx = docs.select(
        "doc_id",
        _spark_expr(_PAGE_URL_SQL).alias("page_url"),
        _spark_expr(_DISCOVER_FIX_SQL).alias("html_text"),
    )
    return discover_feeds(fx).select("doc_id", "tag_idx", "feed_kind", "feed_url")


@op("crawl_feed_parse", _PARSE_ORACLE)
def crawl_feed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fx = docs.select(
        "doc_id", _spark_expr(_feed_fix_sql("spark")).alias("feed_xml")
    )
    return parse_feed_entries(fx)
