"""Redirect-chain resolution: (src -> Location) edges -> terminal URLs.

A crawl frontier stores one hop per fetch (the 3xx Location header);
dedup/canonicalization and the link graph want the TERMINAL url each
chain lands on, with the hop count and a too-many-redirects verdict
(browsers and crawlers cap chains — we use the customary cap of 8; a
redirect LOOP is indistinguishable from an over-long chain under a cap,
exactly as in a real fetcher, and lands in the same verdict).

Scale shape — pointer doubling, not per-hop walking: resolving up to
``2^r`` hops costs ``r`` self-joins of the (node, cur, hops) state
instead of ``2^r`` passes over the edge table, so the 8-hop cap is 3
composition rounds (+1 seed join) of equi-joins AQE can plan; state
stays 3 columns per node at any corpus size. Redirect functions are
deterministic (one Location per src), so composing the partial walk
with itself is exact: ``hops`` adds, terminals compose with hop 0 and
stay put. The DuckDB oracle instead walks hop-by-hop with a recursive
CTE and keeps each chain's deepest row — agreement proves the doubling
algebra, not just the fixture.

The reference has no crawl layer (uploads only); this extends the
acquisition family (sitemap/robots/politeness/recrawl/cache-headers)
with the remaining URL-identity step in front of
``urlops.canonical_url`` (a server redirect is the strongest canonical
vote of all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op

MAX_HOPS = 8  # customary fetcher cap; 2^3 -> 3 doubling rounds
_ROUNDS = 3


def resolve_redirects(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Resolve every url in ``nodes(url)`` through ``edges(src, dst)``
    to (url, final_url, n_hops, status). ``status`` is 'ok' when the
    walk reached a url with no outgoing redirect within MAX_HOPS hops,
    else 'too_many_redirects' (over-long chain or loop — a capped
    fetcher cannot and need not distinguish them)."""
    e = edges.select(F.col("src"), F.col("dst"))
    # walk over the FULL url domain (nodes ∪ edge endpoints): the
    # composition join is inner, so a Location pointing outside the
    # requested node set must still have a state row or its chain would
    # silently vanish; the output is restricted back to `nodes` at the end
    domain = (
        nodes.select("url")
        .union(e.select(F.col("src").alias("url")))
        .union(e.select(F.col("dst").alias("url")))
        .distinct()
    )
    # seed: one step (hop 1), terminals stay at hop 0
    m = (
        domain.select(F.col("url").alias("src_url"))
        .join(e, F.col("src_url") == F.col("src"), "left")
        .select(
            "src_url",
            F.coalesce("dst", "src_url").alias("cur"),
            F.when(F.col("dst").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("hops"),
        )
    )
    # pointer doubling: M_{2k} = M_k ∘ M_k (exact for deterministic chains)
    for _ in range(_ROUNDS):
        b = m.select(
            F.col("src_url").alias("b_src"),
            F.col("cur").alias("b_cur"),
            F.col("hops").alias("b_hops"),
        )
        m = m.join(b, m.cur == b.b_src, "inner").select(
            "src_url",
            F.col("b_cur").alias("cur"),
            (F.col("hops") + F.col("b_hops")).alias("hops"),
        )
    has_out = e.select(F.col("src").alias("cur")).distinct().withColumn(
        "dangling", F.lit(True)
    )
    out = m.join(has_out, "cur", "left").select(
        F.col("src_url").alias("url"),
        F.col("cur").alias("final_url"),
        F.col("hops").alias("n_hops"),
        F.when(F.col("dangling").isNotNull(), F.lit("too_many_redirects"))
        .otherwise(F.lit("ok"))
        .alias("status"),
    )
    return out.join(nodes.select("url").distinct(), "url", "left_semi")


# --- deterministic fixture (twin expressions) --------------------------------
#
# node d = url over doc_id; next(d): d%20==0 -> terminal, d%20==11 ->
# d itself (self-loop), else d-1. Exercises every verdict class:
# hops 0 (terminals), ok 1..7, ok at EXACTLY the cap (d%20==8), finite
# chains past the cap (d%20 in 9,10), a pure loop (11), and chains that
# fall INTO the loop (12..19).

_URL_SQL = (
    "'https://h' || cast(doc_id % 20 as varchar) || '.example.com/p/'"
    " || cast(doc_id as varchar)"
)


def _url_of(expr: str) -> str:
    return _URL_SQL.replace("doc_id", f"({expr})")


_NEXT_SQL = f"""
    case
      when doc_id % 20 = 0 then null
      when doc_id % 20 = 11 then {_URL_SQL}
      else {_url_of('doc_id - 1')}
    end
"""

_ORACLE = f"""
    with recursive nodes as (
      select doc_id, {_URL_SQL} as url from documents
    ),
    edges as (
      select {_URL_SQL} as src, {_NEXT_SQL} as dst
      from documents
      where doc_id % 20 <> 0
    ),
    walk(url, cur, hops) as (
      select url, url, 0 from nodes
      union all
      select w.url, e.dst, w.hops + 1
      from walk w join edges e on w.cur = e.src
      where w.hops < {MAX_HOPS}
    ),
    deepest as (
      select url, max_by(cur, hops) as final_url,
             cast(max(hops) as bigint) as n_hops
      from walk group by url
    )
    select d.url, d.final_url, d.n_hops,
      case when e.src is not null then 'too_many_redirects' else 'ok' end
        as status
    from deepest d
    left join (select distinct src from edges) e on d.final_url = e.src
"""


@op("url_redirect_resolve", _ORACLE)
def url_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.expr(_URL_SQL.replace("as varchar", "as string"))
    nodes = docs.select(url.alias("url"))
    edges = docs.filter(F.expr("doc_id % 20 <> 0")).select(
        url.alias("src"),
        F.expr(_NEXT_SQL.replace("as varchar", "as string")).alias("dst"),
    )
    return resolve_redirects(nodes, edges)


# --- pagination series (rel=next chains) ---------------------------------------
#
# Multi-page articles advertise <link rel="next" href> chains; training
# data wants the pages REASSEMBLED (or at least co-shuffled) per
# series, which needs each page's series head and position. Finding
# the head is the redirect walk RUN BACKWARD: reverse the next-edges
# and resolve — same pointer doubling, same cap semantics (a crawler
# bounds pagination depth exactly like redirect depth; pages deeper
# than MAX_HOPS land in 'chain_too_deep', the honest verdict when the
# walk was cut). Before reversing, multiple pages claiming the SAME
# next page (hostile/malformed annotation) are determinized to the
# lexicographically smallest predecessor — the reversed relation must
# be functional or the doubling join would fan out.
#
# Extraction reuses the head-link discipline (both attribute orders,
# quote styles; a rel="prev" decoy must not match). Fixture: series of
# 12 (pos = doc_id % 12, next -> doc_id+1 while pos < 11), so every
# class appears: heads (page_no 1), ok at exactly the cap, and
# pos 9..11 beyond it. The oracle walks backward hop-by-hop with a
# recursive CTE — agreement again proves the doubling algebra.

_NEXT_RH_PAT = r'(?i)<link[^>]*rel=["\']?next["\']?[^>]*href=["\']?([^"\' >]+)'
_NEXT_HR_PAT = r'(?i)<link[^>]*href=["\']?([^"\' >]+)["\']?[^>]*rel=["\']?next'


def extract_next_links(pages: DataFrame, html_col: str = "html_text",
                       url_col: str = "url") -> DataFrame:
    """(url, html) -> next-link edges (src, dst); pages without a
    rel=next annotation emit no edge."""
    h = F.col(html_col)
    nxt = F.coalesce(
        F.nullif(F.regexp_extract(h, _NEXT_RH_PAT, 1), F.lit("")),
        F.nullif(F.regexp_extract(h, _NEXT_HR_PAT, 1), F.lit("")),
    )
    return (
        pages.select(F.col(url_col).alias("src"), nxt.alias("dst"))
        .where(F.col("dst").isNotNull())
    )


def pagination_series(nodes: DataFrame, next_edges: DataFrame) -> DataFrame:
    """nodes(url) + next_edges(src, dst) -> (url, series_id, page_no,
    status): the series head and 1-based position per page (see section
    comment). status 'ok' | 'chain_too_deep'."""
    rev = next_edges.groupBy(F.col("dst").alias("src")).agg(
        F.min("src").alias("dst")
    )
    r = resolve_redirects(nodes, rev)
    return r.select(
        "url",
        F.col("final_url").alias("series_id"),
        (F.col("n_hops") + 1).alias("page_no"),
        F.when(F.col("status") == "ok", F.lit("ok"))
        .otherwise(F.lit("chain_too_deep"))
        .alias("status"),
    )


_PG_URL_SQL = (
    "'https://s' || cast(doc_id % 7 as varchar) || '.example.com/a/'"
    " || cast(doc_id as varchar)"
)


def _pg_url_of(expr: str) -> str:
    return _PG_URL_SQL.replace("doc_id", f"({expr})")


# head html: a rel=prev decoy always; the next link only while pos < 11,
# with doc_id%2 swapping attribute order and quote style
_PG_HTML_SQL = f"""
    '<head><link rel="prev" href="' || {_pg_url_of('doc_id - 1')} || '">'
    || case
         when doc_id % 12 = 11 then ''
         when doc_id % 2 = 0 then
           '<link rel="next" href="' || {_pg_url_of('doc_id + 1')} || '">'
         else
           '<link href=''' || {_pg_url_of('doc_id + 1')} || ''' rel=''next''>'
       end
    || '</head>'
"""

_PG_ORACLE = f"""
    with recursive fx as (
      select doc_id, {_PG_URL_SQL} as url, {_PG_HTML_SQL} as html_text
      from documents
    ),
    edges as (
      select url as src,
             coalesce(
               nullif(regexp_extract(html_text,
                 '(?i)<link[^>]*rel=["'']?next["'']?[^>]*href=["'']?([^"'' >]+)', 1), ''),
               nullif(regexp_extract(html_text,
                 '(?i)<link[^>]*href=["'']?([^"'' >]+)["'']?[^>]*rel=["'']?next', 1), '')
             ) as dst
      from fx
    ),
    redges as (
      select dst as src, min(src) as dst
      from edges where dst is not null group by dst
    ),
    walk(url, cur, hops) as (
      select url, url, 0 from fx
      union all
      select w.url, e.dst, w.hops + 1
      from walk w join redges e on w.cur = e.src
      where w.hops < {MAX_HOPS}
    ),
    deepest as (
      select url, max_by(cur, hops) as series_id,
             cast(max(hops) as bigint) + 1 as page_no
      from walk group by url
    )
    select d.url, d.series_id, d.page_no,
      case when e.src is not null then 'chain_too_deep' else 'ok' end as status
    from deepest d
    left join (select distinct src from redges) e on d.series_id = e.src
"""


@op("page_pagination_series", _PG_ORACLE)
def page_pagination_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fx = docs.select(
        F.expr(_PG_URL_SQL.replace("as varchar", "as string")).alias("url"),
        F.expr(_PG_HTML_SQL.replace("as varchar", "as string")).alias("html_text"),
    )
    return pagination_series(fx.select("url"), extract_next_links(fx))
