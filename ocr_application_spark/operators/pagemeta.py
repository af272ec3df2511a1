"""Page-level HTML metadata: head extraction + the in-page REP gate.

Two extraction-tier operators a Common-Crawl pipeline needs between raw
HTML and the URL/index layers, neither of which the reference has (its
FastAPI path consumes pre-decoded document text with no web metadata —
extraction_service/app/main.py takes an upload, not a crawl record):

1. ``extract_page_meta`` — pull <title>, the <html lang> hint,
   <link rel=canonical href>, and <meta name=robots content> out of the
   document head. The canonical href is the *page's own* vote on its
   identity and feeds ``urlops.canonical_url`` (server-declared
   canonical beats string normalization when both exist); the lang
   attribute is the cheap prior in front of
   ``textfns.text_langid_heuristic``.
2. ``page_index_gate`` — the page-level Robots Exclusion Protocol
   verdict: combine <meta name=robots> with the X-Robots-Tag response
   header (most restrictive wins, ``none`` = ``noindex, nofollow``),
   yielding per-page ``indexable``/``followable`` booleans. This is the
   third leg of the REP gate after robots.txt parsing
   (``urlops.robots_parse``) and rule matching
   (``urlops.robots_filter``): a crawler that obeys robots.txt but
   indexes noindex pages is still non-compliant.

Engine discipline: pure built-in ``regexp_extract`` projections —
codegen'd, zero shuffle, fuse into the scan at any corpus size. Every
pattern is ONE Python constant shared verbatim by the Spark expression
and the DuckDB oracle (both dialects accept the same `(?i)` RE2-safe
syntax: no lookaround, no backrefs; verified semantics: no-match
returns '' in both engines). The REP token test is a regex over the
comma-separated robots value — ``(^|,)[ ]*noindex[ ]*(,|$)`` — instead
of per-dialect list lambdas, so the twin expressions cannot diverge.

The fixture head is DERIVED deterministically from ``documents`` rows:
doc_id % 5 routes each doc through quote-style / tag-case / missing-
field / unquoted-attr variants and doc_id % 3 drives the X-Robots-Tag
header, so every extraction path and every gate combination is
genuinely exercised and value-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op


# --- shared patterns (one constant, two engines) -----------------------------

_TITLE_PAT = r"(?i)<title[^>]*>([^<]*)</title>"
_LANG_PAT = r'(?i)<html[^>]*[ \t]lang=["\']?([a-zA-Z-]+)'
# rel before href and href before rel both occur in the wild; extract
# both orders and coalesce (first non-empty wins).
_CANON_RH_PAT = (
    r'(?i)<link[^>]*rel=["\']?canonical["\']?[^>]*href=["\']?([^"\' >]+)'
)
_CANON_HR_PAT = (
    r'(?i)<link[^>]*href=["\']?([^"\' >]+)["\']?[^>]*rel=["\']?canonical'
)
_ROBOTS_PAT = r'(?i)<meta[^>]*name=["\']?robots["\']?[^>]*content=["\']?([^"\'>]+)'


def _tok_pat(token: str) -> str:
    """Regex matching one comma-separated REP token (whitespace-tolerant)
    inside an already-lowercased robots value."""
    return f"(^|,)[ ]*{token}[ ]*(,|$)"


def _sql_quote(pat: str) -> str:
    return "'" + pat.replace("'", "''") + "'"


# --- the head extractor (generic over any html string column) ---------------

def extract_page_meta(df: DataFrame, html_col: str = "html_text") -> DataFrame:
    """Append (title, html_lang, canonical_href, robots_content)
    extracted from an HTML string column. Missing fields come back as
    '' (the engines' shared no-match value) — never null, so downstream
    filters can compare without three-valued logic."""
    h = F.col(html_col)
    return df.withColumns(
        {
            "title": F.regexp_extract(h, _TITLE_PAT, 1),
            "html_lang": F.regexp_extract(h, _LANG_PAT, 1),
            "canonical_href": F.coalesce(
                F.nullif(F.regexp_extract(h, _CANON_RH_PAT, 1), F.lit("")),
                F.regexp_extract(h, _CANON_HR_PAT, 1),
            ),
            "robots_content": F.regexp_extract(h, _ROBOTS_PAT, 1),
        }
    )


def _restricts(col: Column, token: str) -> Column:
    lowered = F.lower(F.trim(col))
    return lowered.rlike(_tok_pat(token)) | lowered.rlike(_tok_pat("none"))


def page_index_gate(
    df: DataFrame,
    robots_meta_col: str = "robots_content",
    header_col: str = "x_robots_tag",
) -> DataFrame:
    """Append (indexable, followable): the page-level REP verdict from
    the robots meta tag and the X-Robots-Tag header. Most restrictive
    source wins; ``none`` means ``noindex, nofollow`` (REP meta/header
    semantics); absent/empty values restrict nothing."""
    meta, hdr = F.col(robots_meta_col), F.col(header_col)
    return df.withColumns(
        {
            "indexable": ~(
                _restricts(meta, "noindex") | _restricts(hdr, "noindex")
            ),
            "followable": ~(
                _restricts(meta, "nofollow") | _restricts(hdr, "nofollow")
            ),
        }
    )


# --- deterministic fixture (twin expressions) --------------------------------
#
# doc_id % 5 variants:
#   0: double quotes, canonical link (rel-then-href), robots "index, follow"
#   1: UPPERCASE tags, single quotes, robots 'NOINDEX', href-then-rel canonical
#   2: no title, no robots meta, no canonical, no lang
#   3: unquoted attrs, robots none
#   4: extra attrs before lang, robots "nofollow, noarchive", no canonical
# doc_id % 3 header: '' / 'NOINDEX' / 'nofollow , noarchive'

_HEAD_SQL = """
    case cast(doc_id % 5 as int)
      when 0 then '<html lang="' || lang || '"><head><title>' || source
        || ' #' || cast(doc_id as varchar) || '</title>'
        || '<link rel="canonical" href="https://example.com/d/'
        || cast(doc_id // 2 as varchar) || '">'
        || '<meta name="robots" content="index, follow"></head>'
      when 1 then '<HTML LANG=''' || lang || '''><HEAD><TITLE>' || source
        || ' #' || cast(doc_id as varchar) || '</TITLE>'
        || '<LINK HREF=''https://example.com/d/'
        || cast(doc_id // 2 as varchar) || ''' REL=''canonical''>'
        || '<META NAME=''robots'' CONTENT=''NOINDEX''></HEAD>'
      when 2 then '<html><head><meta charset="utf-8"></head>'
      when 3 then '<html lang=' || lang || '><head><title>' || source
        || '</title><meta name=robots content=none></head>'
      else '<html class="x" data-v="1" lang="' || lang
        || '"><head><title>' || source
        || '</title><meta name="robots" content="nofollow, noarchive">'
        || '</head>'
    end
"""

_HDR_SQL = """
    case cast(doc_id % 3 as int)
      when 0 then ''
      when 1 then 'NOINDEX'
      else 'nofollow , noarchive'
    end
"""


def _fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    head = F.expr(
        _HEAD_SQL.replace("doc_id // 2", "cast(doc_id / 2 as bigint)")
        .replace("as varchar", "as string")
    )
    return docs.select(
        "doc_id", head.alias("html_text"), F.expr(_HDR_SQL).alias("x_robots_tag")
    )


def _meta_select_sql() -> str:
    canon_rh = f"regexp_extract(html_text, {_sql_quote(_CANON_RH_PAT)}, 1)"
    canon_hr = f"regexp_extract(html_text, {_sql_quote(_CANON_HR_PAT)}, 1)"
    return f"""
      regexp_extract(html_text, {_sql_quote(_TITLE_PAT)}, 1) as title,
      regexp_extract(html_text, {_sql_quote(_LANG_PAT)}, 1) as html_lang,
      coalesce(nullif({canon_rh}, ''), {canon_hr}) as canonical_href,
      regexp_extract(html_text, {_sql_quote(_ROBOTS_PAT)}, 1) as robots_content
    """


def _gate_sql(col: str, token: str) -> str:
    lowered = f"lower(trim({col}))"
    return (
        f"(regexp_matches({lowered}, {_sql_quote(_tok_pat(token))})"
        f" or regexp_matches({lowered}, {_sql_quote(_tok_pat('none'))}))"
    )


_META_ORACLE = f"""
    with fx as (
      select doc_id, {_HEAD_SQL} as html_text from documents
    )
    select doc_id, {_meta_select_sql()}
    from fx
"""

_GATE_ORACLE = f"""
    with fx as (
      select doc_id, {_HEAD_SQL} as html_text, {_HDR_SQL} as x_robots_tag
      from documents
    ),
    meta as (
      select doc_id, x_robots_tag, {_meta_select_sql()}
      from fx
    )
    select doc_id, robots_content, x_robots_tag,
      not ({_gate_sql('robots_content', 'noindex')}
           or {_gate_sql('x_robots_tag', 'noindex')}) as indexable,
      not ({_gate_sql('robots_content', 'nofollow')}
           or {_gate_sql('x_robots_tag', 'nofollow')}) as followable
    from meta
"""


@op("page_meta_extract", _META_ORACLE)
def page_meta_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx = _fixture(spark, sf_dir)
    return extract_page_meta(fx).select(
        "doc_id", "title", "html_lang", "canonical_href", "robots_content"
    )


@op("page_index_gate", _GATE_ORACLE)
def page_index_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx = _fixture(spark, sf_dir)
    meta = extract_page_meta(fx)
    return page_index_gate(meta).select(
        "doc_id", "robots_content", "x_robots_tag", "indexable", "followable"
    )


# --- hreflang language-variant clusters ---------------------------------------
#
# Multilingual sites advertise their language variants with
# <link rel="alternate" hreflang="L" href="H"> head tags; a curation
# pass that dedups without them keeps N near-translations of the same
# page (or drops the one language it wanted). This op extracts each
# page's variant set and derives the CLUSTER identity locally — the
# x-default href when advertised, else the lexicographically smallest
# alternate href — which needs no join at all, because every compliant
# member lists the full set (Google's hreflang contract: annotations
# must be reciprocal). The only exchange in the plan is the window
# that counts how many crawled pages actually landed in each cluster.
#
# Fixture (shared SQL string, F.expr twin): docs group in threes
# (en/fr/de); doc_id%2 swaps attribute order, %11 drops the de
# annotation (a real-world partial-annotation page: its min-href
# fallback may then disagree with its siblings — deterministic in both
# engines, exactly how inconsistent annotations split real clusters),
# %7 omits x-default (forcing the fallback), %13 adds a
# rel="stylesheet" decoy carrying hreflang that the rel filter must
# drop.

_HL_TAG_PAT = r"(?i)<link[^>]*hreflang[^>]*>"
_HL_REL_PAT = r"(?i)rel=[\"']?alternate"
_HL_LANG_PAT = r"(?i)hreflang=[\"']?([a-zA-Z-]+)"
_HL_HREF_PAT = r"(?i)href=[\"']?([^\"' >]+)"

_HL_LANG_SQL = "case cast(doc_id % 3 as int) when 0 then 'en' when 1 then 'fr' else 'de' end"


def _hl_href_sql(lang_sql: str) -> str:
    return (
        "'https://h' || cast((doc_id - doc_id % 3) % 100 as varchar)"
        f" || '.example/' || {lang_sql} || '/'"
        " || cast(doc_id - doc_id % 3 as varchar)"
    )


def _hl_tag_sql(lang_sql: str) -> str:
    href = _hl_href_sql(lang_sql)
    return (
        "case when doc_id % 2 = 0 then"
        f" '<link rel=\"alternate\" hreflang=\"' || {lang_sql}"
        f" || '\" href=\"' || {href} || '\">'"
        f" else '<link href=''' || {href} || ''' hreflang=''' || {lang_sql}"
        " || ''' rel=''alternate''>' end"
    )


_HL_LINKS_SQL = (
    _hl_tag_sql("'en'")
    + " || " + _hl_tag_sql("'fr'")
    + " || case when doc_id % 11 = 0 then '' else " + _hl_tag_sql("'de'") + " end"
    + " || case when doc_id % 7 = 0 then '' else "
    + _hl_tag_sql("'x-default'").replace(
        _hl_href_sql("'x-default'"), _hl_href_sql("'en'")
    )
    + " end"
    + " || case when doc_id % 13 = 0 then"
    " '<link rel=\"stylesheet\" hreflang=\"en\" href=\"/style.css\">'"
    " else '' end"
)

_HL_FIXTURE_SQL = f"""
    select doc_id,
           {_hl_href_sql(_HL_LANG_SQL)} as url,
           '<html lang="' || {_HL_LANG_SQL} || '"><head>' || {_HL_LINKS_SQL}
             || '</head>' as html_text
    from documents
"""


def hreflang_clusters(df: DataFrame, html_col: str = "html_text",
                      url_col: str = "url") -> DataFrame:
    """(.., url, html) -> (doc_id, url, cluster_id, n_alts, is_head,
    cluster_size): the page's language-variant cluster, derived locally
    from its own annotations (see section comment)."""
    from pyspark.sql import Window

    tags = F.regexp_extract_all(F.col(html_col), F.lit(_HL_TAG_PAT), 0)
    alts = F.filter(tags, lambda t: t.rlike(_HL_REL_PAT))
    pairs = F.transform(
        alts,
        lambda t: F.struct(
            F.regexp_extract(t, _HL_LANG_PAT, 1).alias("lang"),
            F.regexp_extract(t, _HL_HREF_PAT, 1).alias("href"),
        ),
    )
    rl = F.filter(pairs, lambda s: s["lang"] != "x-default")
    xd = F.try_element_at(
        F.filter(pairs, lambda s: s["lang"] == "x-default"), F.lit(1)
    )["href"]
    row = df.select(
        "doc_id",
        url_col,
        F.coalesce(
            xd, F.array_min(F.transform(rl, lambda s: s["href"]))
        ).alias("cluster_id"),
        F.size(rl).cast("long").alias("n_alts"),
    )
    return row.select(
        "doc_id",
        url_col,
        "cluster_id",
        "n_alts",
        (F.col(url_col) == F.col("cluster_id")).alias("is_head"),
        F.count("*")
        .over(Window.partitionBy("cluster_id"))
        .cast("long")
        .alias("cluster_size"),
    )


def _hl_lambda_sql() -> str:
    lang = f"regexp_extract(t, {_sql_quote(_HL_LANG_PAT)}, 1)"
    href = f"regexp_extract(t, {_sql_quote(_HL_HREF_PAT)}, 1)"
    return f"t -> {{'lang': {lang}, 'href': {href}}}"


_HL_ORACLE = f"""
    with fx as ({_HL_FIXTURE_SQL}),
    p as (
      select doc_id, url,
             list_transform(
               list_filter(
                 regexp_extract_all(html_text, {_sql_quote(_HL_TAG_PAT)}, 0),
                 t -> regexp_matches(t, {_sql_quote(_HL_REL_PAT)})),
               {_hl_lambda_sql()}) as prs
      from fx
    ),
    c as (
      select doc_id, url,
             list_filter(prs, s -> s.lang != 'x-default') as rl,
             (list_filter(prs, s -> s.lang = 'x-default'))[1].href as xd
      from p
    ),
    r as (
      select doc_id, url,
             coalesce(xd, list_min(list_transform(rl, s -> s.href))) as cluster_id,
             cast(len(rl) as bigint) as n_alts
      from c
    )
    select doc_id, url, cluster_id, n_alts,
           url = cluster_id as is_head,
           cast(count(*) over (partition by cluster_id) as bigint) as cluster_size
    from r
"""


# --- heading outline (the document's section skeleton) ------------------------
#
# <h1>-<h6> headings with hierarchical section numbers ("2.1.3") — the
# primitive behind structure-aware chunking of web text for LLM
# training (split on sections, keep each chunk's breadcrumb) and TOC
# reconstruction. Matching is text-only by design: a heading with
# inline markup (<h2>a <b>b</b></h2>) is skipped identically in both
# engines ([^<]* cannot cross a tag), pinned in tests; <h7> is not a
# heading. Numbering semantics: counter c_k (k = 1..3) counts level-k
# headings and RESETS at every heading of a smaller level; a heading's
# path is c1 / c1.c2 / c1.c2.c3 for levels 1 / 2 / >=3 (h4-h6 carry
# their enclosing numbered section's path — outline depth caps at 3,
# like every real TOC). A level-2 heading before any level-1 yields a
# "0." prefix — deterministic, and a real signal (fragment pages).
#
# Scale shape: the reset counters are running sums + a running max over
# ONE window (partition doc_id, order pos, rows unbounded..current):
# c_k = s_k - max(s_k at rows where level < k), using that s_k is
# nondecreasing (a running max needs no ignorenulls semantics, which
# differ across engines). One exchange total, everything else
# scan-fused; per-doc state is bounded by the doc's heading count.

_H_PAT = r"(?i)<h([1-6])[^>]*>([^<]*)</h[1-6]>"

# fixture variants (doc_id % 4): 0 = two h1 sections (h2 counter must
# reset); 1 = starts at h2 (0-prefix) + UPPERCASE tags + skipped level
# (h3 right after h1 -> "1.0.1"); 2 = no headings (doc absent from
# output); 3 = h4 before any h1 ("0.0.0"), h6 under h1 ("1.0.0"),
# <h7> decoy, inline-markup heading dropped.
_OUT_HEAD_SQL = """
    case cast(doc_id % 4 as int)
      when 0 then '<h1>' || source || ' overview</h1>'
        || '<h2>Part ' || cast(doc_id % 7 as varchar) || '</h2>'
        || '<h2>Methods</h2><h1>Appendix</h1><h2>Data</h2><h3>Tables</h3>'
      when 1 then '<H2 CLASS="lead">Summary ' || cast(doc_id as varchar)
        || '</H2><H3>Detail</H3><h1>' || source || '</h1><h3>Skip</h3>'
      when 2 then '<p>' || source || ' has no headings</p>'
      else '<h4>Deep</h4><h1>Top ' || source || '</h1><h6>Tiny</h6>'
        || '<h7>NotAHeading</h7><h2>Rich <b>markup</b> dropped</h2>'
        || '<h2>Kept ' || cast(doc_id % 5 as varchar) || '</h2>'
    end
"""


def extract_headings(df: DataFrame, html_col: str = "html_text") -> DataFrame:
    """(doc_id, html) -> one row per text-only heading:
    (doc_id, pos, level, heading), pos = document order."""
    ms = F.regexp_extract_all(F.col(html_col), F.lit(_H_PAT), 0)
    ex = df.select("doc_id", F.posexplode(ms).alias("pos", "m"))
    return ex.select(
        "doc_id",
        "pos",
        F.regexp_extract("m", _H_PAT, 1).cast("int").alias("level"),
        F.regexp_extract("m", _H_PAT, 2).alias("heading"),
    )


def _with_sec_path(df: DataFrame) -> DataFrame:
    """Append ``sec_path`` to any frame carrying (doc_id, pos, level);
    every other column rides through untouched. One exchange, one sort
    (two chained window layers over the same (doc_id, pos) spec)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lvl = F.col("level")
    s = df.withColumns(
        {
            "s1": F.sum(F.when(lvl == 1, 1).otherwise(0)).over(w),
            "s2": F.sum(F.when(lvl == 2, 1).otherwise(0)).over(w),
            "s3": F.sum(F.when(lvl == 3, 1).otherwise(0)).over(w),
        }
    )
    r = s.withColumns(
        {
            "r2": F.max(F.when(lvl < 2, F.col("s2"))).over(w),
            "r3": F.max(F.when(lvl < 3, F.col("s3"))).over(w),
        }
    )
    c1 = F.col("s1").cast("string")
    c2 = (F.col("s2") - F.coalesce(F.col("r2"), F.lit(0))).cast("string")
    c3 = (F.col("s3") - F.coalesce(F.col("r3"), F.lit(0))).cast("string")
    path = (
        F.when(lvl == 1, c1)
        .when(lvl == 2, F.concat_ws(".", c1, c2))
        .otherwise(F.concat_ws(".", c1, c2, c3))
    )
    return r.withColumn("sec_path", path).drop("s1", "s2", "s3", "r2", "r3")


def heading_outline(df: DataFrame) -> DataFrame:
    """Append the hierarchical section path (see section comment) to an
    ``extract_headings`` frame."""
    return _with_sec_path(df).select(
        "doc_id", "pos", "level", "heading", "sec_path"
    )


# the reset-counter + sec_path window block, shared by the outline and
# section-chunk oracles (expects a CTE `h` carrying doc_id/pos/level
# and any ride-through columns; yields CTE `p` with sec_path appended)
_SEC_WINDOW_SQL = """
    s as (
      select *,
             sum(case when level = 1 then 1 else 0 end) over w as s1,
             sum(case when level = 2 then 1 else 0 end) over w as s2,
             sum(case when level = 3 then 1 else 0 end) over w as s3
      from h
      window w as (partition by doc_id order by pos
                   rows between unbounded preceding and current row)
    ),
    r as (
      select *,
             max(case when level < 2 then s2 end) over w as r2,
             max(case when level < 3 then s3 end) over w as r3
      from s
      window w as (partition by doc_id order by pos
                   rows between unbounded preceding and current row)
    ),
    p as (
      select *,
        case when level = 1 then cast(s1 as varchar)
             when level = 2 then cast(s1 as varchar) || '.'
                  || cast(s2 - coalesce(r2, 0) as varchar)
             else cast(s1 as varchar) || '.'
                  || cast(s2 - coalesce(r2, 0) as varchar) || '.'
                  || cast(s3 - coalesce(r3, 0) as varchar)
        end as sec_path
      from r
    )
"""

_OUTLINE_ORACLE = f"""
    with fx as (select doc_id, {_OUT_HEAD_SQL} as html_text from documents),
    m as (
      select doc_id,
             cast(generate_subscripts(ms, 1) - 1 as int) as pos,
             unnest(ms) as m
      from (select doc_id,
                   regexp_extract_all(html_text, {_sql_quote(_H_PAT)}, 0) as ms
            from fx)
    ),
    h as (
      select doc_id, pos,
             cast(regexp_extract(m, {_sql_quote(_H_PAT)}, 1) as int) as level,
             regexp_extract(m, {_sql_quote(_H_PAT)}, 2) as heading
      from m
    ),
    {_SEC_WINDOW_SQL}
    select doc_id, pos, level, heading, sec_path
    from p
"""


@op("page_heading_outline", _OUTLINE_ORACLE)
def page_heading_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fx = docs.select(
        "doc_id",
        F.expr(_OUT_HEAD_SQL.replace("as varchar", "as string")).alias(
            "html_text"
        ),
    )
    return heading_outline(extract_headings(fx))


# --- section chunks (structure-aware chunking) --------------------------------
#
# The composition the outline exists for: split each page at its
# headings and emit one chunk per SECTION — (sec_path, heading, body) —
# the chunk shape LLM training pipelines want (split on structure, keep
# the breadcrumb, never mid-sentence at an arbitrary byte offset).
# body = the raw HTML between heading i and heading i+1, tag-stripped
# and whitespace-collapsed. Both engines split with the SAME heading
# pattern and both keep trailing empty segments (verified:
# Java split(limit=-1) and DuckDB string_split_regex agree), so
# len(parts) == len(matches) + 1 always and segment i+1 belongs to
# heading i. Pre-heading preamble (parts[0]) is deliberately dropped:
# content before the first heading is the boilerplate strip's job, not
# the chunker's. The only cross-engine divergence is regexp_replace's
# replace-all spelling (Spark: default; DuckDB: 'g' flag) — the
# patterns themselves are shared constants.
#
# Scale shape: identical to the outline — posexplode + the one
# sec_path window. The parts array rides through the explode; chunk
# state is bounded by page size.

_TAG_PAT = "<[^>]*>"
_WS_PAT = "[ \t\r\n]+"

# fixture (doc_id % 3): 0 = two h1 sections with <p>/<div> bodies and
# an empty-body h2; 1 = preamble text (must be dropped) + a body with
# chr(10)/chr(9) whitespace and a <br> tag; 2 = headingless (absent).
_CHUNK_HEAD_SQL = """
    case cast(doc_id % 3 as int)
      when 0 then '<h1>' || source || ' guide</h1><p>'
        || substr(coalesce(text, ''), 1, 60) || '</p><h2>Setup</h2>'
        || '<p>install ' || cast(doc_id % 9 as varchar)
        || ' steps</p><h2>Empty</h2><h1>FAQ</h1><div>'
        || substr(coalesce(text, ''), 61, 40) || '</div>'
      when 1 then 'Preamble is dropped. <h2>Notes '
        || cast(doc_id as varchar) || '</h2>line one' || chr(10)
        || 'line two' || chr(9) || '<br>tail'
      else '<p>' || substr(coalesce(text, ''), 1, 30) || '</p>'
    end
"""


def section_chunks(df: DataFrame, html_col: str = "html_text") -> DataFrame:
    """(doc_id, html) -> one row per heading-delimited section:
    (doc_id, pos, level, heading, sec_path, body, n_body_chars)."""
    h = F.col(html_col)
    ms = F.regexp_extract_all(h, F.lit(_H_PAT), 0)
    ex = df.select(
        "doc_id",
        F.split(h, _H_PAT).alias("parts"),
        F.posexplode(ms).alias("pos", "m"),
    )
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.try_element_at("parts", F.col("pos") + F.lit(2)),
                _TAG_PAT,
                " ",
            ),
            _WS_PAT,
            " ",
        )
    )
    raw = ex.select(
        "doc_id",
        "pos",
        F.regexp_extract("m", _H_PAT, 1).cast("int").alias("level"),
        F.regexp_extract("m", _H_PAT, 2).alias("heading"),
        clean.alias("body"),
    )
    out = _with_sec_path(raw)
    return out.select(
        "doc_id",
        "pos",
        "level",
        "heading",
        "sec_path",
        "body",
        F.length("body").cast("long").alias("n_body_chars"),
    )


_CHUNK_ORACLE = f"""
    with fx as (select doc_id, {_CHUNK_HEAD_SQL} as html_text from documents),
    t as (
      select doc_id,
             regexp_extract_all(html_text, {_sql_quote(_H_PAT)}, 0) as ms,
             string_split_regex(html_text, {_sql_quote(_H_PAT)}) as parts
      from fx
    ),
    m as (
      select doc_id, cast(u.i - 1 as int) as pos,
             ms[u.i] as m, parts[u.i + 1] as raw_body
      from t, unnest(range(1, len(ms) + 1)) u(i)
    ),
    h as (
      select doc_id, pos,
             cast(regexp_extract(m, {_sql_quote(_H_PAT)}, 1) as int) as level,
             regexp_extract(m, {_sql_quote(_H_PAT)}, 2) as heading,
             trim(regexp_replace(regexp_replace(
               raw_body, {_sql_quote(_TAG_PAT)}, ' ', 'g'),
               {_sql_quote(_WS_PAT)}, ' ', 'g')) as body
      from m
    ),
    {_SEC_WINDOW_SQL}
    select doc_id, pos, level, heading, sec_path, body,
           cast(length(body) as bigint) as n_body_chars
    from p
"""


@op("page_section_chunks", _CHUNK_ORACLE)
def page_section_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fx = docs.select(
        "doc_id",
        F.expr(_CHUNK_HEAD_SQL.replace("as varchar", "as string")).alias(
            "html_text"
        ),
    )
    return section_chunks(fx)


@op("page_hreflang_clusters", _HL_ORACLE)
def page_hreflang_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fx = docs.select(
        "doc_id",
        F.expr(_hl_href_sql(_HL_LANG_SQL).replace("as varchar", "as string")).alias("url"),
        F.expr(
            f"""'<html lang="' || {_HL_LANG_SQL} || '"><head>' || {_HL_LINKS_SQL}
             || '</head>'""".replace("as varchar", "as string")
        ).alias("html_text"),
    )
    return hreflang_clusters(fx)


# --- bitext candidate mining (cross-lingual pairs from hreflang) -------------
#
# The multilingual-training precursor (CCMatrix/ParaCrawl shape):
# hreflang clusters ARE publisher-declared translation sets, so the
# candidate (src, tgt) page pairs for a language pair come from a
# CLUSTER-BOUNDED self-join — never an all-pairs scan over the corpus.
# A cluster is one page's translation set, bounded by the number of
# locales a site publishes (dozens at most), so the pair work is
# O(sum cluster_size^2) with a tiny constant — the same bounding
# argument as SemDeDup's cluster dial, here enforced by the data
# model itself. The only gate that belongs at THIS stage is the cheap
# structural one: a length-ratio band (translations of the same page
# have comparable lengths; a 10:1 ratio pair is navigation vs
# article, not bitext). Sentence alignment and embedding scoring are
# downstream, per-pair work on the survivors.
#
# Integer-exact: the ratio is basis points via bigint least/greatest
# division (floor == truncate on nonnegative operands); zero-length
# sides score 0 (never a NULL three-valued verdict).

_BITEXT_MIN_RATIO_BP = 4000  # keep pairs within a 2.5x length band


def bitext_candidates(clusters: DataFrame, doclangs: DataFrame) -> DataFrame:
    """hreflang clusters (doc_id, url, cluster_id, ..) + per-doc
    (doc_id, lang, n_chars) -> one row per cross-lingual page pair in
    a cluster: (cluster_id, lang_src, lang_tgt, url_src, url_tgt,
    src_chars, tgt_chars, len_ratio_bp, keep). lang_src < lang_tgt
    canonicalizes the pair (and excludes same-language pairs: bitext
    is cross-lingual by definition)."""
    d = clusters.join(doclangs, "doc_id").select(
        "cluster_id", "lang", "url", "n_chars"
    )
    a = d.select(
        "cluster_id",
        F.col("lang").alias("lang_src"),
        F.col("url").alias("url_src"),
        F.col("n_chars").alias("src_chars"),
    )
    b = d.select(
        "cluster_id",
        F.col("lang").alias("lang_tgt"),
        F.col("url").alias("url_tgt"),
        F.col("n_chars").alias("tgt_chars"),
    )
    pairs = a.join(b, "cluster_id").filter(F.col("lang_src") < F.col("lang_tgt"))
    ratio = (
        F.when(
            (F.col("src_chars") > 0) & (F.col("tgt_chars") > 0),
            F.expr(
                "10000 * least(src_chars, tgt_chars)"
                " div greatest(src_chars, tgt_chars)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    return pairs.withColumn("len_ratio_bp", ratio).withColumn(
        "keep", F.col("len_ratio_bp") >= _BITEXT_MIN_RATIO_BP
    )


_BITEXT_ORACLE = (
    _HL_ORACLE.rsplit("select doc_id, url, cluster_id, n_alts,", 1)[0].rstrip().rstrip(",")
    + f""",
    hl as (select doc_id, url, cluster_id from r),
    dl as (
      select doc_id, {_HL_LANG_SQL} as lang,
             cast(length(coalesce(text, '')) as bigint) as n_chars
      from documents
    ),
    d as (select cluster_id, lang, url, n_chars from hl join dl using (doc_id)),
    pr as (
      select a.cluster_id,
             a.lang as lang_src, b.lang as lang_tgt,
             a.url as url_src, b.url as url_tgt,
             a.n_chars as src_chars, b.n_chars as tgt_chars
      from d a join d b
        on a.cluster_id = b.cluster_id and a.lang < b.lang
    ),
    rt as (
      select *,
             cast(case when src_chars > 0 and tgt_chars > 0
                       then 10000 * least(src_chars, tgt_chars)
                            // greatest(src_chars, tgt_chars)
                       else 0 end as bigint) as len_ratio_bp
      from pr
    )
    select cluster_id, lang_src, lang_tgt, url_src, url_tgt,
           src_chars, tgt_chars, len_ratio_bp,
           len_ratio_bp >= {_BITEXT_MIN_RATIO_BP} as keep
    from rt
"""
)


@op("page_bitext_candidates", _BITEXT_ORACLE)
def page_bitext_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: the hreflang fixture's en/fr/de translation clusters
    crossed with the documents table's real text lengths — every
    cross-lingual pair scored and banded, bit-exact vs the SQL
    reconstruction (the hreflang CTE chain reused verbatim)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    clusters = page_hreflang_clusters(spark, sf_dir).select(
        "doc_id", "url", "cluster_id"
    )
    doclangs = docs.select(
        "doc_id",
        F.expr(_HL_LANG_SQL).alias("lang"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias("n_chars"),
    )
    out = bitext_candidates(clusters, doclangs)
    return out.select(
        "cluster_id", "lang_src", "lang_tgt", "url_src", "url_tgt",
        "src_chars", "tgt_chars", "len_ratio_bp", "keep",
    )
