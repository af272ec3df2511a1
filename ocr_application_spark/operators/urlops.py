"""URL canonicalization — the web-corpus identity operator.

A Common-Crawl-scale pipeline dedups and joins on a *canonical* URL:
scheme/host case, default ports, tracking params, param order, and
fragments must not split one logical document into many keys (the
reference keys its per-document artifacts by filename stem the same way
— extraction_service/app/ocr/extractor.py builds one id per source doc;
here url IS the document id per the input_hint, so canonicalization is
the id-hygiene layer in front of dedup_exact / lineage bucketing).

Pure built-in column expressions (codegen'd, no UDF) with an exact
DuckDB oracle. The messy input URLs are derived deterministically from
``documents`` rows in both engines (no RNG, no external data): doc_id
parity drives case noise, :443 ports, utm params, param order, and
fragments, and path uses doc_id//2 so each canonical key appears ~2x —
the canonicalizer must collapse exactly those pairs.

Scale note: canonicalization is a narrow map — no shuffle, fully
pushed into the scan stage; the dedup-count aggregation shuffles on the
canonical key, which is the *intended* partitioning key downstream
(url-hash bucketing, sources/webpages.py), so the exchange is reused.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_application_spark.operators.registry import op


# --- messy-URL synthesis (twin expressions, exact string arithmetic) --------

_RAW_SQL = """
    (case when doc_id % 3 = 0 then 'HTTPS' else 'https' end
     || '://'
     || case when doc_id % 3 = 0 then 'WWW.' else '' end
     || 'Host' || cast((doc_id // 2) % 10 as varchar) || '.Example.COM'
     || case when doc_id % 5 = 0 then ':443' else '' end
     || '/Docs/' || cast(doc_id // 2 as varchar)
     || '?'
     || case when doc_id % 2 = 0
             then 'a=s' || cast((doc_id // 2) % 7 as varchar)
                  || '&b=v' || cast((doc_id // 2) % 11 as varchar)
             else 'b=v' || cast((doc_id // 2) % 11 as varchar)
                  || '&a=s' || cast((doc_id // 2) % 7 as varchar) end
     || case when doc_id % 4 = 0 then '&utm_source=feed' else '' end
     || case when doc_id % 2 = 0
             then '#sec' || cast(doc_id % 7 as varchar) else '' end)
"""


def _raw_url() -> Column:
    d = F.col("doc_id")
    return F.concat(
        F.when(d % 3 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("Host"), (F.floor(d / 2) % 10).cast("string"), F.lit(".Example.COM"),
        F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Docs/"), F.floor(d / 2).cast("string"),
        F.lit("?"),
        F.when(
            d % 2 == 0,
            F.concat(
                F.lit("a=s"), (F.floor(d / 2) % 7).cast("string"),
                F.lit("&b=v"), (F.floor(d / 2) % 11).cast("string"),
            ),
        ).otherwise(
            F.concat(
                F.lit("b=v"), (F.floor(d / 2) % 11).cast("string"),
                F.lit("&a=s"), (F.floor(d / 2) % 7).cast("string"),
            )
        ),
        F.when(d % 4 == 0, F.lit("&utm_source=feed")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.concat(F.lit("#sec"), (d % 7).cast("string"))).otherwise(F.lit("")),
    )


# --- the canonicalizer (generic over any url string) ------------------------

def canonical_url(u: Column) -> Column:
    """Canonical form: lowercase scheme+host, strip www. prefix, drop the
    scheme's default port (https :443 / http :80), drop fragment, drop
    utm_* params, sort the rest. Non-hierarchical urls (no ``://`` —
    mailto:, javascript:, relative paths, junk) pass through unchanged:
    they are already their own identity and must never collapse onto a
    shared constant key (that would let one junk row dedup away every
    other junk row in stream_dedup_urls).

    Generic column expression — used by queries here and reusable in
    front of dedup_exact / bucketing. Path case is preserved (RFC 3986:
    path is case-sensitive, scheme/host are not). The fragment is cut
    FIRST so a '?' living inside an SPA fragment ('#/route?tab=1') can
    never leak into the canonical query string.
    """
    pre = F.regexp_extract(u, r"^([^#]*)", 1)  # drop fragment before anything
    scheme = F.lower(F.regexp_extract(pre, r"^([^:]+)://", 1))
    hostport = F.lower(F.regexp_extract(pre, r"^[^:]+://([^/?]*)", 1))
    nowww = F.regexp_replace(hostport, r"^www\.", "")
    host = (
        F.when(scheme == "https", F.regexp_replace(nowww, r":443$", ""))
        .when(scheme == "http", F.regexp_replace(nowww, r":80$", ""))
        .otherwise(nowww)
    )
    path = F.regexp_extract(pre, r"^[^:]+://[^/?]*([^?]*)", 1)
    qstr = F.regexp_extract(pre, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(qstr, "&"),
            lambda x: (x != "") & (F.substring(x, 1, 4) != "utm_"),
        )
    )
    query = F.when(F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))).otherwise(
        F.lit("")
    )
    return F.when(
        pre.rlike(r"^[^:]+://"), F.concat(scheme, F.lit("://"), host, path, query)
    ).otherwise(u)


_CANON_SQL = """
    (case when regexp_matches(regexp_extract({u}, '^([^#]*)', 1), '^[^:]+://')
     then
       lower(regexp_extract(regexp_extract({u}, '^([^#]*)', 1), '^([^:]+)://', 1))
       || '://'
       || (case lower(regexp_extract(regexp_extract({u}, '^([^#]*)', 1), '^([^:]+)://', 1))
           when 'https' then regexp_replace(regexp_replace(
                lower(regexp_extract(regexp_extract({u}, '^([^#]*)', 1), '^[^:]+://([^/?]*)', 1)),
                '^www\\.', ''), ':443$', '')
           when 'http' then regexp_replace(regexp_replace(
                lower(regexp_extract(regexp_extract({u}, '^([^#]*)', 1), '^[^:]+://([^/?]*)', 1)),
                '^www\\.', ''), ':80$', '')
           else regexp_replace(
                lower(regexp_extract(regexp_extract({u}, '^([^#]*)', 1), '^[^:]+://([^/?]*)', 1)),
                '^www\\.', '') end)
       || regexp_extract(regexp_extract({u}, '^([^#]*)', 1), '^[^:]+://[^/?]*([^?]*)', 1)
       || case when len(list_filter(
                    string_split(regexp_extract(regexp_extract({u}, '^([^#]*)', 1), '\\?(.*)$', 1), '&'),
                    x -> x <> '' and substring(x, 1, 4) <> 'utm_')) > 0
               then '?' || array_to_string(
                      list_sort(list_filter(
                          string_split(regexp_extract(regexp_extract({u}, '^([^#]*)', 1), '\\?(.*)$', 1), '&'),
                          x -> x <> '' and substring(x, 1, 4) <> 'utm_')), '&')
               else '' end
     else {u} end)
"""


@op(
    "url_canonicalize",
    f"""
    with raw as (
      select doc_id, {_RAW_SQL} as url_raw from documents
    )
    select doc_id, url_raw, {_CANON_SQL.format(u='url_raw')} as url_canonical
    from raw
    """,
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row canonicalization of deterministically-messy URLs."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw = d.select("doc_id", _raw_url().alias("url_raw"))
    return raw.select("doc_id", "url_raw", canonical_url(F.col("url_raw")).alias("url_canonical"))


@op(
    "url_canonical_dupes",
    f"""
    with raw as (
      select doc_id, {_RAW_SQL} as url_raw from documents
    ),
    canon as (
      select doc_id, {_CANON_SQL.format(u='url_raw')} as url_canonical from raw
    )
    select url_canonical,
           count(*) as n_raw,
           min(doc_id) as keeper_doc_id
    from canon
    group by url_canonical
    having count(*) > 1
    """,
)
def url_canonical_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Groups the canonicalizer must collapse (doc_id//2 pairs whose raw
    urls differ only in case/port/utm/fragment/param-order noise) with
    the min-doc_id keeper — the exact-dedup front door."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    canon = d.select("doc_id", canonical_url(_raw_url()).alias("url_canonical"))
    return (
        canon.groupBy("url_canonical")
        .agg(F.count("*").alias("n_raw"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_raw") > 1)
    )


# --- leakage-safe train/valid/test holdout split -----------------------------
# Eval contamination begins at SPLIT time: if two raw crawls of the
# same logical document (case/port/utm/param-order noise) can land in
# different splits, the "held-out" set isn't held out. The split is
# therefore a pure function of the CANONICAL url — every raw variant
# of a document deterministically lands in the same split, on any
# engine, any partitioning, any re-run. The coin is the first 8 hex
# chars of md5(canonical url) compared as a fixed-width lowercase hex
# string (binary collation == numeric order, same trick as
# sample_domain_mix): < 'e6666666' -> train (~90%), < 'f3333333' ->
# valid (~5%), else test (~5%). Zero shuffles, zero UDFs — a narrow
# scan projection that runs at full scan speed on 100 TB.
_HOLDOUT_SQL_SPLIT = """
  case when substr(md5({c}), 1, 8) < 'e6666666' then 'train'
       when substr(md5({c}), 1, 8) < 'f3333333' then 'valid'
       else 'test' end
"""


@op(
    "url_holdout_split",
    f"""
    with raw as (
      select doc_id, {_RAW_SQL} as url_raw from documents
    ),
    canon as (
      select doc_id, {_CANON_SQL.format(u='url_raw')} as url_canonical from raw
    )
    select doc_id, url_canonical,
           {_HOLDOUT_SQL_SPLIT.format(c='url_canonical')} as split
    from canon
    """,
)
def url_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url_canonical, split) under the deterministic
    canonical-url holdout coin (see module comment above)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    canon = d.select("doc_id", canonical_url(_raw_url()).alias("url_canonical"))
    u = F.substring(F.md5(F.col("url_canonical")), 1, 8)
    return canon.select(
        "doc_id",
        "url_canonical",
        F.when(u < "e6666666", "train")
        .when(u < "f3333333", "valid")
        .otherwise("test")
        .alias("split"),
    )


# --- crawl-frontier URL filtering (the RefinedWeb §3.1 / C4 discipline:
# kill bad documents by their URL BEFORE fetching or parsing a byte —
# at crawl scale the URL filter is the cheapest gate in the pipeline).
# Four rule families, each its own boolean so kill rates are auditable
# per rule:
#   r_domain  host (after canonicalization's case/www handling) is not
#             on the blocklist (fixture: Host7/Host8 play the role of
#             the spam-domain list; production swaps in the real list —
#             the broadcast-join shape is identical at any list size)
#   r_ext     path does not end in a non-text asset extension
#   r_path    no junk path segments (/tag/, /search, /login, /cart)
#   r_query   no session-id query params (sessionid=, phpsessid=, sid=)
# All string predicates run on the LOWERCASED url — pure scan
# projection except the tiny blocklist broadcast. The fixture url is
# the shared _RAW_SQL synthesis plus deterministic junk injection
# (same engine-identical string building as the PII fixture).
_URLF_JUNK_SQL = """
    (case when doc_id % 11 = 0 then '/tag/archive' else '' end
     || case when doc_id % 13 = 0 then '/img.jpg' else '' end)
"""

_URLF_SESSION_SQL = """
    (case when doc_id % 17 = 0 then '&PHPSESSID=deadbeef' else '' end)
"""

# junk goes INTO THE PATH (before the '?'), session id into the query —
# appending junk after the raw url would bury it in the query string
# where the prequery-based r_ext/r_path rules (correctly) never look,
# leaving those rules constant-true over the fixture and the gate
# vacuous for them
_URLF_URL_SQL = f"""
    (string_split({_RAW_SQL}, '?')[1] || {_URLF_JUNK_SQL} || '?'
     || string_split({_RAW_SQL}, '?')[2] || {_URLF_SESSION_SQL})
"""

_BLOCKED_HOSTS = ("host7.example.com", "host8.example.com")

_URLF_ORACLE = f"""
with u as (
  select doc_id,
         lower({_URLF_URL_SQL}) as url_l
  from documents
),
h as (
  select doc_id, url_l,
         replace(string_split(string_split(url_l, '://')[2], '/')[1],
                 'www.', '') as hostport
  from u
),
r as (
  select doc_id, url_l,
         string_split(hostport, ':')[1] as host,
         string_split(string_split(url_l, '?')[1], '://')[2] as prequery
  from h
)
select doc_id, host,
       host not in ('{_BLOCKED_HOSTS[0]}', '{_BLOCKED_HOSTS[1]}')
         as r_domain,
       not (prequery like '%.jpg' or prequery like '%.png'
            or prequery like '%.gif' or prequery like '%.css'
            or prequery like '%.js' or prequery like '%.zip') as r_ext,
       not (contains(prequery, '/tag/') or contains(prequery, '/search')
            or contains(prequery, '/login') or contains(prequery, '/cart'))
         as r_path,
       not (contains(url_l, 'sessionid=') or contains(url_l, 'phpsessid=')
            or contains(url_l, '&sid=') or contains(url_l, '?sid='))
         as r_query,
       (host not in ('{_BLOCKED_HOSTS[0]}', '{_BLOCKED_HOSTS[1]}'))
         and not (prequery like '%.jpg' or prequery like '%.png'
                  or prequery like '%.gif' or prequery like '%.css'
                  or prequery like '%.js' or prequery like '%.zip')
         and not (contains(prequery, '/tag/') or contains(prequery, '/search')
                  or contains(prequery, '/login')
                  or contains(prequery, '/cart'))
         and not (contains(url_l, 'sessionid=')
                  or contains(url_l, 'phpsessid=')
                  or contains(url_l, '&sid=') or contains(url_l, '?sid='))
         as keep
from r
"""


@op("url_crawl_filter", _URLF_ORACLE)
def url_crawl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-URL crawl-filter rule booleans + keep verdict (see module
    comment: domain blocklist, asset extension, junk path, session id)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    junk = F.concat(
        F.when(did % 11 == 0, F.lit("/tag/archive")).otherwise(F.lit("")),
        F.when(did % 13 == 0, F.lit("/img.jpg")).otherwise(F.lit("")),
    )
    sess = F.when(did % 17 == 0, F.lit("&PHPSESSID=deadbeef")).otherwise(
        F.lit("")
    )
    # junk into the PATH (before '?'), session id into the query — see
    # the oracle comment: query-side junk never reaches the prequery
    # rules and would leave r_ext/r_path constant-true
    raw = _raw_url()
    url_l = F.lower(
        F.concat(
            F.split(raw, r"\?").getItem(0),
            junk,
            F.lit("?"),
            F.split(raw, r"\?").getItem(1),
            sess,
        )
    )
    hostport = F.replace(
        F.split(F.split(url_l, "://").getItem(1), "/").getItem(0),
        F.lit("www."),
        F.lit(""),
    )
    host = F.split(hostport, ":").getItem(0)
    prequery = F.split(F.split(url_l, r"\?").getItem(0), "://").getItem(1)
    r_domain = ~host.isin(*_BLOCKED_HOSTS)
    r_ext = ~(
        prequery.endswith(".jpg")
        | prequery.endswith(".png")
        | prequery.endswith(".gif")
        | prequery.endswith(".css")
        | prequery.endswith(".js")
        | prequery.endswith(".zip")
    )
    r_path = ~(
        prequery.contains("/tag/")
        | prequery.contains("/search")
        | prequery.contains("/login")
        | prequery.contains("/cart")
    )
    r_query = ~(
        url_l.contains("sessionid=")
        | url_l.contains("phpsessid=")
        | url_l.contains("&sid=")
        | url_l.contains("?sid=")
    )
    return d.select(
        "doc_id",
        host.alias("host"),
        r_domain.alias("r_domain"),
        r_ext.alias("r_ext"),
        r_path.alias("r_path"),
        r_query.alias("r_query"),
        (r_domain & r_ext & r_path & r_query).alias("keep"),
    )


# --- politeness scheduler ---------------------------------------------------
#
# The crawl-ops primitive between frontier filtering and fetching: a
# host must not be hit more than ``rate_per_tick`` times per tick, so
# each host's urls pack into consecutive ticks in priority order. At a
# 10^12-url frontier the per-host window is the natural partition and
# the hot host is the SERIAL resource — a host with n urls takes
# ceil(n / rate) ticks BY DESIGN (politeness is the constraint, not a
# skew bug to salt away); distinct hosts schedule independently in
# parallel. Pure integer arithmetic end to end.


def crawl_schedule(
    frontier: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
    priority_col: str | None = None,
    rate_per_tick: int = 2,
    t0_us: int = 0,
    tick_us: int = 1_000_000,
) -> DataFrame:
    """Assign each frontier url a fetch slot respecting per-host rate:
    per host, urls order by (priority DESC, url) — a total order, since
    urls are unique — and url number i (1-based) lands in tick
    ``(i-1) div rate_per_tick``. Adds (fetch_rank, tick_idx,
    scheduled_us = t0_us + tick_idx * tick_us), all int64. One shuffle
    (the per-host window); no UDF."""
    rate_per_tick, t0_us, tick_us = int(rate_per_tick), int(t0_us), int(tick_us)
    if rate_per_tick < 1:
        raise ValueError(f"rate_per_tick must be >= 1, got {rate_per_tick}")
    if tick_us < 1:
        raise ValueError(f"tick_us must be >= 1, got {tick_us}")
    order = (
        [F.col(priority_col).desc(), F.col(url_col).asc()]
        if priority_col
        else [F.col(url_col).asc()]
    )
    w = Window.partitionBy(host_col).orderBy(*order)
    ranked = frontier.withColumn("fetch_rank", F.row_number().over(w).cast("long"))
    tick = F.expr(f"(fetch_rank - 1) div {rate_per_tick}")
    return ranked.withColumn("tick_idx", tick).withColumn(
        "scheduled_us", F.lit(t0_us) + F.col("tick_idx") * tick_us
    )


_SCHED_RATE = 3
_SCHED_T0 = 1_700_000_000_000_000
_SCHED_TICK = 1_000_000

_SCHED_ORACLE = f"""
with frontier as (
  select 'https://h' || cast(doc_id % 7 as varchar) || '/p' || cast(doc_id as varchar) as url,
         'h' || cast(doc_id % 7 as varchar) as host,
         cast(doc_id % 13 as bigint) as priority
  from documents
),
ranked as (
  select url, host, priority,
         cast(row_number() over (partition by host order by priority desc, url) as bigint)
           as fetch_rank
  from frontier
)
select url, host, priority, fetch_rank,
       (fetch_rank - 1) // {_SCHED_RATE} as tick_idx,
       {_SCHED_T0} + ((fetch_rank - 1) // {_SCHED_RATE}) * {_SCHED_TICK} as scheduled_us
from ranked
"""


@op("crawl_politeness_schedule", _SCHED_ORACLE)
def crawl_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness gate: a synthetic 7-host frontier with integer
    priorities, scheduled at 3 fetches/host/tick from a fixed epoch —
    per url, (fetch_rank, tick_idx, scheduled_us), bit-exact."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    frontier = d.select(
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit("/p"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string")).alias("host"),
        (F.col("doc_id") % 13).cast("long").alias("priority"),
    )
    return crawl_schedule(
        frontier,
        priority_col="priority",
        rate_per_tick=_SCHED_RATE,
        t0_us=_SCHED_T0,
        tick_us=_SCHED_TICK,
    )


# --- robots.txt allow/deny filter (RFC 9309 decision rule) -------------------
#
# The REP gate the frontier applies between politeness scheduling and
# fetching: per (host, path), the MOST SPECIFIC matching rule wins —
# specificity is the rule PATTERN's octet length (RFC 9309 §2.2.2, the
# googlebot matchlength rule; '*' and '$' count as octets) — with Allow
# beating Disallow on equal length; a url with no matching rule is
# allowed. Patterns support the RFC's two wildcards: '*' matches any
# span, a TRAILING '$' anchors the end of the path (real robots.txt
# files lean on these constantly, e.g. ``Disallow: /*?sessionid=``).
# The reference has no crawler, but the north-rule input is a table of
# Common-Crawl-style pages — this is the op that decides what may enter
# that table at all.
#
# Scale shape: the rules side is tiny relative to a 10^12-url frontier
# (a robots.txt is a few KB per host), so the match is a BROADCAST
# equi-join on host with a match residual, and the per-url winner is a
# map-side-combinable MAX over a (pattern_len, allow, prefix) struct —
# deliberately NOT a window (a window would sort the whole frontier
# inside one exchange; the struct-max partial-aggregates before it, so
# the exchange carries one row per url per partition). Ordering by the
# struct makes the tie rule explicit: longer pattern first, then
# allow=true over disallow, then pattern text as the deterministic
# final tiebreak. Wildcard rules are translated ONCE, columnar, on the
# tiny broadcast side (escape regex metachars, '*' -> '.*', trailing
# '$' kept as the anchor); wildcard-free rules keep the startswith fast
# path so the residual stays a byte-prefix compare for the common case.


def _robots_rule_regex(prefix: Column) -> Column:
    """Anchored regex for a wildcard rule pattern, NULL for a plain
    prefix (which takes the startswith fast path). Translation mirrors
    the oracle's SQL verbatim: strip a trailing '$', escape every regex
    metachar EXCEPT '*', turn '*' into '.*', re-anchor."""
    ends = prefix.endswith("$")
    body = F.when(ends, F.substring(prefix, 1, F.length(prefix) - 1)).otherwise(prefix)
    esc = F.regexp_replace(body, r"([.\[\]{}()+?^$|\\])", r"\\$1")
    return F.when(
        prefix.contains("*") | ends,
        F.concat(
            F.lit("^"),
            F.replace(esc, F.lit("*"), F.lit(".*")),
            F.when(ends, F.lit("$")).otherwise(F.lit("")),
        ),
    )


def robots_filter(
    frontier: DataFrame,
    rules: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Apply robots rules ``(host, prefix, allow:boolean)`` to a frontier.

    ``prefix`` is an RFC 9309 path pattern: a literal prefix, optionally
    with ``*`` wildcards and a trailing ``$`` end-anchor. Returns the
    frontier columns plus ``allowed`` (boolean; true when no rule
    matches) and ``matched_prefix`` (the winning rule's pattern, or
    NULL). Frontier rows are assumed distinct (url is the identity per
    the input_hint); exact duplicate rows would collapse in the winner
    aggregation.
    """
    r = rules.select(
        F.col(host_col).alias("_r_host"),
        F.col("prefix").alias("_r_prefix"),
        F.col("allow").alias("_r_allow"),
        _robots_rule_regex(F.col("prefix")).alias("_r_rx"),
    )
    match = F.when(
        F.col("_r_rx").isNull(),
        F.col(path_col).startswith(F.col("_r_prefix")),
    ).otherwise(F.regexp_like(F.col(path_col), F.col("_r_rx")))
    j = frontier.join(
        F.broadcast(r),
        (F.col(host_col) == F.col("_r_host")) & match,
        "left",
    )
    # (prefix_len, allow, prefix): struct max == RFC 9309 winner. NULL
    # for unmatched left rows — F.max skips them, so an all-unmatched
    # url aggregates to NULL and coalesces to allowed.
    key = F.when(
        F.col("_r_prefix").isNotNull(),
        F.struct(
            F.length("_r_prefix").alias("l"),
            F.col("_r_allow").alias("allow"),
            F.col("_r_prefix").alias("prefix"),
        ),
    )
    out_cols = frontier.columns
    return (
        j.groupBy(*out_cols)
        .agg(F.max(key).alias("_best"))
        .select(
            *out_cols,
            F.coalesce(F.col("_best.allow"), F.lit(True)).alias("allowed"),
            F.col("_best.prefix").alias("matched_prefix"),
        )
    )


# Synthetic rule card: every host bans /private/ but re-allows the
# /private/pub/ subtree (longest-prefix override); h1 is a whole-host
# ban EXCEPT that subtree; h2 bans assets; h3 carries a redundant
# allow; h4 carries an equal-length allow/disallow conflict on the
# /private/pub/ subtree — the allow must win the tie in both engines.
# Live RFC 9309 wildcard cases: every host bans '/*?sessionid=' (the
# canonical real-world wildcard rule — session-id url variants); h2
# re-allows '/img/*.png$' (wildcard + end-anchor beating the plain
# '/img/' ban on pattern length: 11 > 5); h0 end-anchors a ban on the
# exact path '/p/a0$' (longer than the '/p/' shapes it competes with).
_ROBOTS_RULES = [
    *[(f"h{i}", "/private/", False) for i in range(5)],
    *[(f"h{i}", "/private/pub/", True) for i in range(5)],
    *[(f"h{i}", "/*?sessionid=", False) for i in range(5)],
    ("h1", "/", False),
    ("h2", "/img/", False),
    ("h2", "/img/*.png$", True),
    ("h3", "/p/", True),
    ("h4", "/private/pub/", False),
    ("h0", "/p/a0$", False),
]

_ROBOTS_RULES_SQL = ",\n  ".join(
    f"('{h}', '{p}', {'true' if a else 'false'})" for h, p, a in _ROBOTS_RULES
)

# DuckDB twin of _robots_rule_regex — verbatim the same translation
# (strip trailing '$', escape every RE2 metachar except '*', '*' ->
# '.*', re-anchor). Prototyped side-by-side with the Spark column expr:
# identical output byte-for-byte on wildcard, anchored, metachar-heavy
# and backslash patterns. Plain raw string (not f-string): the char
# class contains '{}'.
_ROBOTS_RX_SQL = r"""
    case when prefix like '%*%' or prefix like '%$' then
      '^' || replace(
        regexp_replace(
          case when prefix like '%$'
               then substr(prefix, 1, length(prefix) - 1)
               else prefix end,
          '([.\[\]{}()+?^$|\\])', '\\\1', 'g'),
        '*', '.*')
      || case when prefix like '%$' then '$' else '' end
    end
"""

_ROBOTS_ORACLE = f"""
with frontier as (
  select doc_id,
         'h' || cast(doc_id % 5 as varchar) as host,
         case cast(doc_id % 8 as integer)
           when 0 then '/p/a' || cast(doc_id as varchar)
           when 1 then '/private/x' || cast(doc_id as varchar)
           when 2 then '/private/pub/y' || cast(doc_id as varchar)
           when 3 then '/img/z' || cast(doc_id as varchar)
           when 4 then '/p/a' || cast(doc_id as varchar) || '?sessionid=1'
           when 5 then '/img/z' || cast(doc_id as varchar) || '.png'
           when 6 then '/private/pub/y' || cast(doc_id as varchar) || '?sessionid=2'
           else '/img/n' || cast(doc_id as varchar) || '.png?sessionid=3'
         end as path
  from documents
),
rules(host, prefix, allow) as (values
  {_ROBOTS_RULES_SQL}
),
rx as (
  select host, prefix, allow, {_ROBOTS_RX_SQL} as rxp
  from rules
),
j as (
  select f.doc_id, f.host, f.path, r.prefix, r.allow
  from frontier f
  left join rx r
    on f.host = r.host
   and case when r.rxp is null then starts_with(f.path, r.prefix)
            else regexp_matches(f.path, r.rxp) end
),
best as (
  select doc_id, host, path, prefix, allow,
         row_number() over (
           partition by doc_id
           order by length(prefix) desc nulls last,
                    allow desc nulls last,
                    prefix desc nulls last) as rn
  from j
)
select doc_id, host, path,
       coalesce(allow, true) as allowed,
       prefix as matched_prefix
from best where rn = 1
"""


@op("crawl_robots_filter", _ROBOTS_ORACLE)
def crawl_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REP gate: a synthetic 5-host frontier against the rule card above
    — per url, (allowed, matched_prefix) under longest-pattern-wins /
    allow-beats-disallow-on-ties, with live RFC 9309 wildcard traffic:
    mod-8 shapes 4/6/7 carry ?sessionid= urls (the wildcard ban fires;
    shape 6 is a deliberate LENGTH TIE — '/private/pub/' allow vs
    '/*?sessionid=' ban, both 13 octets, allow must win), shape 5 is
    .png urls (h2's '/img/*.png$' re-allow outranks the '/img/' ban),
    and shape 7 puts a query string AFTER '.png' so the end-anchored
    rule must NOT fire. The oracle states the same rule as a per-url
    rank-1 window over the same regex translation; the Spark plan is
    the broadcast-join + struct-max aggregation (no frontier-wide
    sort)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    pm = did % 8
    sid = did.cast("string")
    frontier = d.select(
        "doc_id",
        F.concat(F.lit("h"), (did % 5).cast("string")).alias("host"),
        F.when(pm == 0, F.concat(F.lit("/p/a"), sid))
        .when(pm == 1, F.concat(F.lit("/private/x"), sid))
        .when(pm == 2, F.concat(F.lit("/private/pub/y"), sid))
        .when(pm == 3, F.concat(F.lit("/img/z"), sid))
        .when(pm == 4, F.concat(F.lit("/p/a"), sid, F.lit("?sessionid=1")))
        .when(pm == 5, F.concat(F.lit("/img/z"), sid, F.lit(".png")))
        .when(pm == 6, F.concat(F.lit("/private/pub/y"), sid, F.lit("?sessionid=2")))
        .otherwise(F.concat(F.lit("/img/n"), sid, F.lit(".png?sessionid=3")))
        .alias("path"),
    )
    rules = spark.createDataFrame(_ROBOTS_RULES, ["host", "prefix", "allow"])
    return robots_filter(frontier, rules)


# --- robots.txt PARSER (fetched bytes -> the rules table) --------------------
#
# robots_filter consumes (host, prefix, allow) rows; THIS op produces
# them from raw fetched robots.txt text — the missing first half of the
# REP gate. RFC 9309 grammar, the parts that decide real crawls:
#   * lines are `field: value`, case-insensitive field names, optional
#     whitespace around the colon, '#' comments stripped anywhere;
#   * consecutive User-agent lines form ONE group header (the rules
#     after them bind to every listed agent); a User-agent line after
#     at least one rule starts a NEW group;
#   * unknown fields (Crawl-delay, Sitemap, ...) are ignored and must
#     NOT split a group;
#   * an empty Allow/Disallow value is a no-op rule (dropped);
#   * the crawler picks the group(s) whose user-agent token matches
#     its own most specifically — match = '*' (specificity 0) or the
#     rule's token is a case-insensitive PREFIX of the crawler's
#     product token (specificity = token length); ALL groups tied at
#     the max specificity are combined (RFC 9309 §2.2.1: groups with
#     identical matched agents merge); no matching group at all means
#     no restrictions.
#
# Scale shape: one posexplode over per-host text (a robots.txt is
# RFC-capped at 500 KiB, typically < 10 KB — per-host line counts are
# BOUNDED, so the per-host windows here are politeness-class, never
# corpus-class), two host-partitioned windows (lag to find group
# starts, running sum to number them), then tiny per-host aggregates
# for agent selection. Output feeds robots_filter's broadcast side
# directly.


def robots_parse(
    robots: DataFrame,
    agent: str,
    host_col: str = "host_id",
    text_col: str = "robots_txt",
) -> DataFrame:
    """Parse raw robots.txt text into the (host, prefix, allow) rules
    robots_filter consumes, for the given crawler product token.

    ``agent`` must be the bare lowercase product token (e.g.
    ``sparkbot``), not a full UA string. Returns one row per effective
    rule: (host_col, src_line, prefix, allow) — src_line is the
    1-based line number in the file, kept so output rows are unique
    and auditable back to the source bytes.
    """
    if agent != agent.lower():
        raise ValueError("agent must be a lowercase product token")
    h, t = F.col(host_col), F.col(text_col)
    lines = robots.select(
        h.alias("_host"),
        F.posexplode(F.split(t, "\r\n")).alias("_p", "_raw"),
    ).select(
        "_host",
        (F.col("_p") + 1).alias("src_line"),
        F.trim(F.regexp_replace("_raw", "#.*$", "")).alias("_line"),
    )
    rec = lines.select(
        "_host",
        "src_line",
        F.lower(F.regexp_extract("_line", r"^([A-Za-z-]+)\s*:", 1)).alias("_field"),
        F.trim(F.regexp_extract("_line", r"^[A-Za-z-]+\s*:\s*(.*)$", 1)).alias(
            "_value"
        ),
    ).filter(F.col("_field").isin("user-agent", "allow", "disallow"))
    w = Window.partitionBy("_host").orderBy("src_line")
    marks = rec.withColumn(
        "_new_grp",
        (
            (F.col("_field") == "user-agent")
            & (F.coalesce(F.lag("_field").over(w), F.lit("")) != "user-agent")
        ).cast("int"),
    )
    grp = marks.withColumn(
        "_grp",
        F.sum("_new_grp").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # Agent selection stays INSIDE the host-partitioned stream: group
    # spec and host max-spec are windows whose partition keys extend the
    # exchange the grouping windows already paid (hash(host) satisfies
    # clustering on (host, grp)), so the whole parse is ONE exchange,
    # zero joins, a single pass over the bytes — a spec/best join
    # formulation (how the oracle states it) re-parsed the file three
    # times. Rules with _grp = 0 (before any user-agent line) bind to
    # nothing: their group has no UA rows, _spec stays NULL, filtered.
    ua_spec = F.when(F.col("_field") != "user-agent", F.lit(None)).otherwise(
        F.when(F.col("_value") == "*", F.lit(0)).when(
            F.lit(agent).startswith(F.lower("_value")), F.length("_value")
        )
    )
    wg = Window.partitionBy("_host", "_grp")
    wh = Window.partitionBy("_host")
    scored = grp.select(
        "_host",
        "src_line",
        "_field",
        "_value",
        F.max(ua_spec).over(wg).alias("_spec"),
    ).withColumn("_host_spec", F.max("_spec").over(wh))
    return (
        scored.filter(
            F.col("_field").isin("allow", "disallow")
            & (F.col("_value") != "")
            & F.col("_spec").isNotNull()
            & (F.col("_spec") == F.col("_host_spec"))
        )
        .select(
            F.col("_host").alias(host_col),
            "src_line",
            F.col("_value").alias("prefix"),
            (F.col("_field") == "allow").alias("allow"),
        )
    )


def robots_group_directive(
    robots: DataFrame,
    agent: str,
    directive: str,
    host_col: str = "host_id",
    text_col: str = "robots_txt",
) -> DataFrame:
    """Value of a group-scoped non-rule directive (``crawl-delay``,
    ``request-rate``, ...) from the agent's WINNING group(s) — the same
    specificity selection as ``robots_parse``, because a crawl-delay in
    somebody else's group does not apply to us. When tied winning
    groups both carry the directive, the first occurrence (lowest line)
    wins. Returns (host_col, src_line, value) for hosts that have one;
    absent hosts emit nothing (callers left-join their host domain).
    Same single-exchange one-pass shape as robots_parse."""
    if agent != agent.lower():
        raise ValueError("agent must be a lowercase product token")
    if directive in ("user-agent", "allow", "disallow"):
        raise ValueError("directive must be a non-rule field")
    h, t = F.col(host_col), F.col(text_col)
    lines = robots.select(
        h.alias("_host"),
        F.posexplode(F.split(t, "\r\n")).alias("_p", "_raw"),
    ).select(
        "_host",
        (F.col("_p") + 1).alias("src_line"),
        F.trim(F.regexp_replace("_raw", "#.*$", "")).alias("_line"),
    )
    rec = lines.select(
        "_host",
        "src_line",
        F.lower(F.regexp_extract("_line", r"^([A-Za-z-]+)\s*:", 1)).alias("_field"),
        F.trim(F.regexp_extract("_line", r"^[A-Za-z-]+\s*:\s*(.*)$", 1)).alias(
            "_value"
        ),
    ).filter(F.col("_field").isin("user-agent", directive))
    w = Window.partitionBy("_host").orderBy("src_line")
    marks = rec.withColumn(
        "_new_grp",
        (
            (F.col("_field") == "user-agent")
            & (F.coalesce(F.lag("_field").over(w), F.lit("")) != "user-agent")
        ).cast("int"),
    )
    grp = marks.withColumn(
        "_grp",
        F.sum("_new_grp").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ua_spec = F.when(F.col("_field") != "user-agent", F.lit(None)).otherwise(
        F.when(F.col("_value") == "*", F.lit(0)).when(
            F.lit(agent).startswith(F.lower("_value")), F.length("_value")
        )
    )
    wg = Window.partitionBy("_host", "_grp")
    wh = Window.partitionBy("_host")
    scored = grp.select(
        "_host",
        "src_line",
        "_field",
        "_value",
        F.max(ua_spec).over(wg).alias("_spec"),
    ).withColumn("_host_spec", F.max("_spec").over(wh))
    winners = scored.filter(
        (F.col("_field") == directive)
        & (F.col("_value") != "")
        & F.col("_spec").isNotNull()
        & (F.col("_spec") == F.col("_host_spec"))
    )
    return winners.groupBy(F.col("_host").alias(host_col)).agg(
        F.min("src_line").alias("src_line"),
        F.min_by("_value", "src_line").alias("value"),
    )


# Deterministic per-host robots.txt fixture (host_id = doc_id % 16),
# built as an EXACT string twin in both engines then parsed back — the
# roundtrip pins the PARSER, same discipline as url_sitemap_extract.
# Host classes exercise every decision path for agent 'sparkbot':
#   * every host: a '*' group (/private/ ban + /private/pub/ allow) and
#     a 'sparkbot-news' group (whole-host ban) that must NOT match
#     ('sparkbot' is not prefixed by 'sparkbot-news');
#   * h % 4 != 3: a two-agent group (SparkBot + OtherBot; mixed-case
#     field names) with a wildcard ban, an ignored Crawl-delay line,
#     an allow, and an EMPTY Disallow (dropped);
#   * h % 2 == 0: a SECOND SparkBot group — ties the max specificity,
#     so RFC group-combining must union both groups' rules;
#   * h % 4 == 3: NO sparkbot group at all — the host falls back to
#     the '*' group and the per-doc tail rules (which land in the
#     sparkbot-news group) must NOT appear;
#   * per-doc tail lines appended to the LAST group: an end-anchored
#     ban (doc%3=0), an allow (doc%3=1), or a pure comment (doc%3=2).
_ROBOTS_TXT_HDR_SQL = """
    '# robots for host' || cast(host_id as varchar) || chr(13) || chr(10)
    || 'User-agent: *' || chr(13) || chr(10)
    || 'Disallow: /private/' || chr(13) || chr(10)
    || 'Allow: /private/pub/' || chr(13) || chr(10)
    || chr(13) || chr(10)
    || 'user-agent: sparkbot-news' || chr(13) || chr(10)
    || 'Disallow: /' || chr(13) || chr(10)
    || case when host_id % 4 <> 3 then
         chr(13) || chr(10)
         || 'USER-AGENT: SparkBot' || chr(13) || chr(10)
         || 'User-agent: OtherBot' || chr(13) || chr(10)
         || 'Disallow: /*?sessionid=' || chr(13) || chr(10)
         || 'Crawl-delay: ' || case when host_id % 8 = 1 then 'fast'
                                    when host_id % 8 = 5 then '0.5'
                                    else cast(2 + host_id % 5 as varchar) end
         || chr(13) || chr(10)
         || 'Allow: /dl/' || chr(13) || chr(10)
         || 'Disallow:' || chr(13) || chr(10)
       else '' end
    || case when host_id % 2 = 0 then
         chr(13) || chr(10)
         || 'User-agent: SparkBot' || chr(13) || chr(10)
         || 'Disallow: /extra/' || chr(13) || chr(10)
       else '' end
"""

_ROBOTS_TXT_DOCLINE_SQL = """
    case cast(doc_id % 3 as integer)
      when 0 then 'Disallow: /gen/' || cast(doc_id as varchar) || '$'
      when 1 then 'Allow: /gen/' || cast(doc_id as varchar) || '/pub'
      else '# note ' || cast(doc_id as varchar) end
    || chr(13) || chr(10)
"""

_ROBOTS_PARSE_ORACLE = f"""
with doc_lines as (
  select doc_id % 16 as host_id, doc_id, {_ROBOTS_TXT_DOCLINE_SQL} as dl
  from documents
),
files as (
  select host_id,
         {_ROBOTS_TXT_HDR_SQL} || string_agg(dl, '' order by doc_id) as txt
  from doc_lines group by host_id
),
ls as (
  select host_id, string_split(txt, chr(13) || chr(10)) as l from files
),
lines as (
  select host_id, generate_subscripts(l, 1) as idx,
         trim(regexp_replace(unnest(l), '#.*$', '')) as line
  from ls
),
rec as (
  select host_id, idx,
         lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1)) as field,
         trim(regexp_extract(line, '^[A-Za-z-]+\\s*:\\s*(.*)$', 1)) as value
  from lines
  where lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1))
        in ('user-agent','allow','disallow')
),
marks as (
  select *, case when field = 'user-agent'
                  and coalesce(lag(field) over (partition by host_id order by idx), '')
                      <> 'user-agent'
                 then 1 else 0 end as new_grp
  from rec
),
grp as (
  select *, sum(new_grp) over (partition by host_id order by idx
                rows between unbounded preceding and current row) as group_id
  from marks
),
spec as (
  select host_id, group_id,
         max(case when value = '*' then 0
                  when starts_with('sparkbot', lower(value)) then length(value)
             end) as spec
  from grp where field = 'user-agent'
  group by 1, 2
),
best as (
  select host_id, max(spec) as host_spec from spec group by 1
)
select cast(g.host_id as bigint) as host_id,
       cast(g.idx as bigint) as src_line,
       g.value as prefix,
       g.field = 'allow' as allow
from grp g
join spec s using (host_id, group_id)
join best b using (host_id)
where g.field in ('allow','disallow') and g.value <> ''
  and s.spec is not null and s.spec = b.host_spec
"""


def _robots_fixture_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-host robots.txt fixture frame (host_id, robots_txt) —
    shared by the parse and crawl-delay gate queries; the exact string
    twin of the oracle-side {_ROBOTS_TXT_HDR_SQL} + doc-line tail."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    crlf = F.lit("\r\n")
    hid = F.col("host_id")
    hdr = F.concat(
        F.lit("# robots for host"), hid.cast("string"), crlf,
        F.lit("User-agent: *"), crlf,
        F.lit("Disallow: /private/"), crlf,
        F.lit("Allow: /private/pub/"), crlf,
        crlf,
        F.lit("user-agent: sparkbot-news"), crlf,
        F.lit("Disallow: /"), crlf,
        F.when(
            hid % 4 != 3,
            F.concat(
                crlf,
                F.lit("USER-AGENT: SparkBot"), crlf,
                F.lit("User-agent: OtherBot"), crlf,
                F.lit("Disallow: /*?sessionid="), crlf,
                F.lit("Crawl-delay: "),
                F.when(hid % 8 == 1, F.lit("fast"))
                .when(hid % 8 == 5, F.lit("0.5"))
                .otherwise((2 + hid % 5).cast("string")),
                crlf,
                F.lit("Allow: /dl/"), crlf,
                F.lit("Disallow:"), crlf,
            ),
        ).otherwise(F.lit("")),
        F.when(
            hid % 2 == 0,
            F.concat(
                crlf,
                F.lit("User-agent: SparkBot"), crlf,
                F.lit("Disallow: /extra/"), crlf,
            ),
        ).otherwise(F.lit("")),
    )
    dm = F.col("doc_id") % 3
    dl = F.concat(
        F.when(
            dm == 0,
            F.concat(F.lit("Disallow: /gen/"), F.col("doc_id").cast("string"), F.lit("$")),
        )
        .when(
            dm == 1,
            F.concat(F.lit("Allow: /gen/"), F.col("doc_id").cast("string"), F.lit("/pub")),
        )
        .otherwise(F.concat(F.lit("# note "), F.col("doc_id").cast("string"))),
        crlf,
    )
    files = (
        d.select((F.col("doc_id") % 16).alias("host_id"), "doc_id", dl.alias("dl"))
        .groupBy("host_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "dl"))),
                    lambda s: s["dl"],
                ),
                "",
            ).alias("tail")
        )
        .select("host_id", F.concat(hdr, F.col("tail")).alias("robots_txt"))
    )
    return files


@op("crawl_robots_parse", _ROBOTS_PARSE_ORACLE)
def crawl_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roundtrip fixture for robots_parse: build the per-host robots.txt
    files above deterministically from `documents` (exact string twin in
    both engines), parse them back for agent 'sparkbot', return the
    effective rules table. Agreement with the oracle pins every grammar
    path: grouping, case folding, comments, unknown fields, empty
    values, specificity selection, multi-group combining, '*' fallback.
    """
    return robots_parse(_robots_fixture_files(spark, sf_dir), "sparkbot")


# --- crawl-delay: the politeness directive in the winning group ------------------
# Crawl-delay applies only when it sits in OUR group (a delay in
# another crawler's group is not ours to obey), so extraction reuses
# the full specificity selection. Value classes in the fixture:
# integer seconds (obeyed), 'fast' and '0.5' (non-integer garbage a
# real parser must NULL, not crash — try_cast twins), and hosts with
# no sparkbot group at all (no row -> NULL via the host-domain left
# join). This output is the per-host delay the politeness scheduler
# (`crawl_politeness_schedule`) consumes in place of its default.

_CRAWL_DELAY_ORACLE = f"""
with doc_lines as (
  select doc_id % 16 as host_id, doc_id, {_ROBOTS_TXT_DOCLINE_SQL} as dl
  from documents
),
files as (
  select host_id,
         {_ROBOTS_TXT_HDR_SQL} || string_agg(dl, '' order by doc_id) as txt
  from doc_lines group by host_id
),
ls as (
  select host_id, string_split(txt, chr(13) || chr(10)) as l from files
),
lines as (
  select host_id, generate_subscripts(l, 1) as idx,
         trim(regexp_replace(unnest(l), '#.*$', '')) as line
  from ls
),
rec as (
  select host_id, idx,
         lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1)) as field,
         trim(regexp_extract(line, '^[A-Za-z-]+\\s*:\\s*(.*)$', 1)) as value
  from lines
  where lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1))
        in ('user-agent','crawl-delay')
),
marks as (
  select *, case when field = 'user-agent'
                  and coalesce(lag(field) over (partition by host_id order by idx), '')
                      <> 'user-agent'
                 then 1 else 0 end as new_grp
  from rec
),
grp as (
  select *, sum(new_grp) over (partition by host_id order by idx
                rows between unbounded preceding and current row) as group_id
  from marks
),
spec as (
  select host_id, group_id,
         max(case when value = '*' then 0
                  when starts_with('sparkbot', lower(value)) then length(value)
             end) as spec
  from grp where field = 'user-agent'
  group by 1, 2
),
best as (
  select host_id, max(spec) as host_spec from spec group by 1
),
found as (
  select g.host_id,
         min_by(g.value, g.idx) as value
  from grp g
  join spec s using (host_id, group_id)
  join best b using (host_id)
  where g.field = 'crawl-delay' and g.value <> ''
    and s.spec is not null and s.spec = b.host_spec
  group by g.host_id
)
select cast(f.host_id as bigint) as host_id,
       case when regexp_matches(fo.value, '^[0-9]+$')
            then cast(fo.value as bigint) end as crawl_delay_s
from (select distinct host_id from files) f
left join found fo on fo.host_id = f.host_id
"""
# ^ the integer-pattern guard is load-bearing: DuckDB CASTS '0.5' to
# bigint by ROUNDING (-> 1) while Spark's try_cast nulls it — only an
# explicit digits-only test gives both engines (and the RFC's
# "seconds" reading) the same semantics.


@op("crawl_delay_directives", _CRAWL_DELAY_ORACLE)
def crawl_delay_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl-delay from the winning robots group: integer
    seconds, NULL for garbage values or hosts without a matching
    group (see section comment)."""
    files = _robots_fixture_files(spark, sf_dir)
    found = robots_group_directive(files, "sparkbot", "crawl-delay")
    return (
        files.select(F.col("host_id").cast("long").alias("host_id"))
        .distinct()
        .join(
            found.select(
                F.col("host_id").cast("long").alias("host_id"),
                # digits-only guard, NOT try_cast: DuckDB would round
                # '0.5' where Spark nulls it (see oracle note)
                F.when(
                    F.col("value").rlike("^[0-9]+$"),
                    F.col("value").cast("long"),
                ).alias("crawl_delay_s"),
            ),
            "host_id",
            "left",
        )
    )


# --- SURT keys + the CDX lookup index ----------------------------------------
#
# Common Crawl's per-url lookup layer is the CDX index: every capture
# keyed by the SURT (Sort-friendly URI Reordering Transform) of its
# canonical url — host labels reversed and comma-joined so one domain's
# subtree is one contiguous key range ("com,example)/path",
# "com,example,blog)/post"), which turns "every page under
# example.com/docs" into a sorted-range scan instead of a table scan.
# Here the transform runs on top of canonical_url (case/port/utm/
# fragment hygiene first), and the index is a snapshot table range-
# partitioned and sorted by SURT key.
#
# Zone maps deliberately store NO string stats (CLAUDE invariant), so
# prefix pruning rides an ORDER-PRESERVING integer projection instead:
# the first 8 bytes of the key packed big-endian into an int64
# (``surt_pk``). For ASCII keys (urls are %-encoded on the wild web;
# the canonicalizer never introduces non-ASCII) byte order == string
# order, so every key with prefix P lives in
# [pack(P), pack(P) + 256^(8-len(P)) - 1] and plan_scan prunes on that
# range; the string ``startswith`` residual ALWAYS runs on the
# survivors, so a non-ASCII key that packs coarsely can only cost a
# false file read, never a wrong row. Same packing discipline as the
# winnowing select keys (dedup.py): decode with integer ``div``, never
# float ``/``.

_SURT_PACK_BYTES = 8


def surt_key(u: Column) -> Column:
    """SURT of a canonical url: reversed comma-joined host labels,
    ``:port`` only when the canonicalizer kept a non-default port, then
    ``)`` + path + query ('/' when both are empty). Non-hierarchical
    urls (no ``://``) pass through unchanged — same identity stance as
    ``canonical_url``."""
    hostport = F.regexp_extract(u, r"^[^:]+://([^/?]*)", 1)
    host = F.regexp_extract(hostport, r"^([^:]*)", 1)
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    pathq = F.regexp_extract(u, r"^[^:]+://[^/?]*(.*)$", 1)
    key = F.concat(
        rev,
        F.when(port == "", F.lit("")).otherwise(F.concat(F.lit(":"), port)),
        F.lit(")"),
        F.when(pathq == "", F.lit("/")).otherwise(pathq),
    )
    return F.when(u.rlike(r"^[^:]+://"), key).otherwise(u)


def surt_pack64(k: Column) -> Column:
    """Order-preserving int64 of the first 8 bytes of an ASCII key
    (big-endian; missing bytes pack as 0, so a short key sorts before
    every extension — exactly string order). Codepoints are clamped —
    the FIRST position to 127, the rest to 255 — so a stray non-ASCII
    char degrades to a coarser (never wrong) zone-map range: clamping
    is monotone per position, and 127*256^7 + 255*(256^6+..+1) is
    exactly 2^63-1, so the pack can never overflow int64 (a first
    codepoint >= 128 at coefficient 256^7 otherwise would, aborting
    the index write under Spark 4's default ANSI mode)."""
    terms = [
        F.when(
            F.length(k) >= i,
            F.least(
                F.ascii(F.substring(k, i, 1)),
                F.lit(127 if i == 1 else 255),
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        * F.lit(256 ** (_SURT_PACK_BYTES - i)).cast("long")
        for i in range(1, _SURT_PACK_BYTES + 1)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def surt_prefix_range(prefix: str) -> tuple[int, int]:
    """[lo, hi] of ``surt_pack64`` over every key starting with
    ``prefix`` (ASCII, <= 8 chars used — longer prefixes resolve their
    tail in the string residual)."""
    head = prefix[:_SURT_PACK_BYTES]
    if any(ord(c) > 127 for c in head):
        raise ValueError(f"prefix must be ASCII in its first 8 chars: {prefix!r}")
    lo = 0
    for i, c in enumerate(head):
        lo += ord(c) * 256 ** (_SURT_PACK_BYTES - 1 - i)
    # cap at int64 max: pack64 clamps its first byte to 127, so no key
    # packs above 2^63-1 (an empty prefix's naive hi of 256^8-1 would)
    hi = min(lo + 256 ** (_SURT_PACK_BYTES - len(head)) - 1, 2**63 - 1)
    return lo, hi


def build_cdx_index(
    df: DataFrame,
    path: str,
    url_col: str = "url_canonical",
    target_files: int = 16,
) -> int:
    """Write a CDX-style lookup index as a snapshot table: the input
    columns plus (surt_key, surt_pk), range-partitioned and sorted by
    key so each file owns one contiguous SURT range and the zone maps
    on ``surt_pk`` localize it. Returns the committed version. At
    10^12 captures the range partitioning is the whole point: a domain
    lookup opens the few files whose [min, max] pk range intersects the
    prefix — O(result), not O(table)."""
    from ocr_application_spark.sources.snapshots import commit

    keyed = df.withColumn("surt_key", surt_key(F.col(url_col))).withColumn(
        "surt_pk", surt_pack64(F.col("surt_key"))
    )
    laid = keyed.repartitionByRange(target_files, "surt_key").sortWithinPartitions(
        "surt_key"
    )
    return commit(laid, path, op_label="cdx_index")


def cdx_lookup(spark: SparkSession, path: str, prefix: str) -> DataFrame:
    """All index rows whose SURT key starts with ``prefix``: zone-map
    range scan on the packed projection, then the exact string residual
    (which also resolves prefix bytes past the 8 packed ones)."""
    from ocr_application_spark.sources.snapshots import scan_snapshot

    lo, hi = surt_prefix_range(prefix)
    return scan_snapshot(spark, path, {"surt_pk": (lo, hi)}).filter(
        F.col("surt_key").startswith(prefix)
    )


_SURT_SQL = """
    (case when regexp_matches({c}, '^[^:]+://')
     then
       array_to_string(list_reverse(string_split(
           regexp_extract(regexp_extract({c}, '^[^:]+://([^/?]*)', 1),
                          '^([^:]*)', 1), '.')), ',')
       || case when regexp_extract(regexp_extract({c}, '^[^:]+://([^/?]*)', 1),
                                   ':(\\d+)$', 1) = ''
               then ''
               else ':' || regexp_extract(
                      regexp_extract({c}, '^[^:]+://([^/?]*)', 1),
                      ':(\\d+)$', 1) end
       || ')'
       || case when regexp_extract({c}, '^[^:]+://[^/?]*(.*)$', 1) = ''
               then '/'
               else regexp_extract({c}, '^[^:]+://[^/?]*(.*)$', 1) end
     else {c} end)
"""

# first-position clamp is 127 (overflow-proof), mirroring surt_pack64
_SURT_PACK_SQL = " + ".join(
    f"""(case when length({{k}}) >= {i}
         then cast(least(ascii(substr({{k}}, {i}, 1)), {127 if i == 1 else 255}) as bigint)
         else cast(0 as bigint) end) * {256 ** (_SURT_PACK_BYTES - i)}"""
    for i in range(1, _SURT_PACK_BYTES + 1)
)


@op(
    "url_surt_index",
    f"""
    with raw as (
      select doc_id, {_RAW_SQL} as url_raw from documents
    ),
    canon as (
      select doc_id, {_CANON_SQL.format(u='url_raw')} as url_canonical from raw
    ),
    keyed as (
      select doc_id, url_canonical,
             {_SURT_SQL.format(c='url_canonical')} as surt_key
      from canon
    )
    select doc_id, url_canonical, surt_key,
           {_SURT_PACK_SQL.format(k='surt_key')} as surt_pk
    from keyed
    """,
)
def url_surt_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX key material per document: canonical url -> SURT key -> the
    order-preserving packed int64 the index prunes on. Pure scan
    projection (no shuffle); the index *write* (range partition + sort
    + snapshot commit) and the pruned prefix lookup are exercised in
    tests/test_urlops.py against a brute-force filter."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    canon = d.select("doc_id", canonical_url(_raw_url()).alias("url_canonical"))
    keyed = canon.withColumn("surt_key", surt_key(F.col("url_canonical")))
    return keyed.withColumn("surt_pk", surt_pack64(F.col("surt_key")))


# --- sitemap URL discovery ---------------------------------------------------
# The crawl-frontier's third discovery input next to robots_filter and
# crawl_politeness_schedule: parse sitemap.xml payloads into (url,
# lastmod, priority) seed rows (sitemaps.org protocol; the reference's
# ingestion has no analog — this is the web-scale acquisition layer the
# north rule's Common-Crawl shape implies). The sitemap XML itself is
# built deterministically from ``documents`` in BOTH engines (one
# sitemap per host, entries ordered by doc_id — exact string twin, no
# RNG), then parsed back with regexp_extract_all: the roundtrip pins
# the parser, not the builder. 256 hosts keeps each synthetic sitemap
# under the protocol's 50,000-URL cap at bench scale and gives the
# parse stage real parallelism (one task per sitemap string).
#
# Scale shape: building groups on host (one bounded exchange keyed on
# the natural per-host sitemap boundary — in production this column IS
# the fetched sitemap file, no aggregation at all); parsing is a narrow
# map + explode (one output row per discovered URL), no UDF, no window.
# Priority surfaces in exact basis points (single digit * 1000) — never
# a parsed float (CLAUDE.md float invariant).

# the deterministic lastmod grid — ONE definition feeding the sitemap
# builder (below), the standalone recrawl op and the acquisition chain;
# edits here propagate to every consumer in both engines
_LASTMOD_SQL = "'2024-01-' || lpad(cast(1 + doc_id % 28 as varchar), 2, '0')"


def _lastmod_grid():
    return F.concat(
        F.lit("2024-01-"),
        F.lpad((1 + F.col("doc_id") % 28).cast("string"), 2, "0"),
    )


_SMAP_ENTRY_SQL = f"""
    '<url><loc>https://host' || cast(doc_id % 256 as varchar)
      || '.example/doc/' || cast(doc_id as varchar) || '</loc>'
      || '<lastmod>' || {_LASTMOD_SQL} || '</lastmod>'
      || '<priority>0.' || cast(doc_id % 10 as varchar) || '</priority></url>'
"""

_SITEMAP_ORACLE = f"""
    with entries as (
      select doc_id % 256 as host_id, {_SMAP_ENTRY_SQL} as entry, doc_id
      from documents
    ),
    maps as (
      select host_id,
             '<?xml version="1.0"?><urlset>'
               || string_agg(entry, '' order by doc_id) || '</urlset>' as xml
      from entries group by host_id
    ),
    parsed as (
      select host_id,
             unnest(regexp_extract_all(xml, '<url>(.*?)</url>', 1)) as e
      from maps
    )
    select cast(host_id as bigint) as host_id,
           regexp_extract(e, '<loc>(.*?)</loc>', 1) as url,
           regexp_extract(e, '<lastmod>(.*?)</lastmod>', 1) as lastmod,
           cast(regexp_extract(e, '<priority>0\\.(.)</priority>', 1) as bigint)
             * 1000 as priority_bp
    from parsed
"""


@op("url_sitemap_extract", _SITEMAP_ORACLE)
def url_sitemap_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parsing: per-host sitemap.xml -> one (url, lastmod,
    priority_bp) row per <url> entry (see section comment)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    entry = F.concat(
        F.lit("<url><loc>https://host"),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".example/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("</loc><lastmod>"),
        _lastmod_grid(),
        F.lit("</lastmod><priority>0."),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("</priority></url>"),
    )
    maps = (
        d.select((F.col("doc_id") % 256).alias("host_id"), "doc_id", entry.alias("e"))
        .groupBy("host_id")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "e"))),
                        lambda s: s["e"],
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    parsed = maps.select(
        "host_id",
        F.explode(F.regexp_extract_all("xml", F.lit("<url>(.*?)</url>"), 1)).alias("e"),
    )
    return parsed.select(
        F.col("host_id").cast("long").alias("host_id"),
        F.regexp_extract("e", "<loc>(.*?)</loc>", 1).alias("url"),
        F.regexp_extract("e", "<lastmod>(.*?)</lastmod>", 1).alias("lastmod"),
        (
            F.regexp_extract("e", r"<priority>0\.(.)</priority>", 1).cast("long")
            * 1000
        ).alias("priority_bp"),
    )


# --- sitemap INDEX nesting (sitemaps.org two-level layout) ----------------------
# Real sitemaps nest: the 50k-entry/50MB caps force large sites to ship
# a <sitemapindex> of child sitemap files, so discovery is a two-level
# walk — parse the index, fetch each child, parse its <urlset>. The
# fixture builds both levels deterministically from `documents`
# (host = doc_id % 256, child section = doc_id % 4; the child's
# index-advertised lastmod is the max of its entries), then walks them
# back: index parse -> child-url equi-join -> entry parse. Every fifth
# host's index also advertises a child that does NOT exist (the fetch
# that 404'd) — it must surface as one 'missing-child' row, never
# vanish (explode_outer / left-join discipline), because a crawler
# that silently drops dead children under-counts its frontier.
# Build-then-parse in BOTH engines: agreement pins the two parsers and
# the resolve join, not the fixture. Scale shape: two keyed
# aggregations + one equi-join on child_url (globally unique, no skew);
# regexp work is per-row, plan-asserted no cartesian / no Python.

_SITEMAP_INDEX_ORACLE = f"""
    with e as (
      select doc_id, doc_id % 256 as host_id, doc_id % 4 as sec,
             {_SMAP_ENTRY_SQL} as entry, {_LASTMOD_SQL} as lastmod
      from documents
    ),
    ch as (
      select host_id, sec,
             'https://host' || cast(host_id as varchar) || '.example/sitemap-'
               || cast(sec as varchar) || '.xml' as child_url,
             '<?xml version="1.0"?><urlset>'
               || string_agg(entry, '' order by doc_id) || '</urlset>' as xml,
             max(lastmod) as child_lastmod
      from e group by host_id, sec
    ),
    ix as (
      select host_id,
             '<?xml version="1.0"?><sitemapindex>'
             || string_agg('<sitemap><loc>' || child_url || '</loc><lastmod>'
                           || child_lastmod || '</lastmod></sitemap>',
                           '' order by sec)
             || case when host_id % 5 = 0
                     then '<sitemap><loc>https://host' || cast(host_id as varchar)
                          || '.example/sitemap-9.xml</loc>'
                          || '<lastmod>2024-01-01</lastmod></sitemap>'
                     else '' end
             || '</sitemapindex>' as ixml
      from ch group by host_id
    ),
    refp as (
      select host_id,
             regexp_extract(r, '<loc>(.*?)</loc>', 1) as child_url,
             regexp_extract(r, '<lastmod>(.*?)</lastmod>', 1) as child_lastmod
      from (
        select host_id,
               unnest(regexp_extract_all(ixml, '<sitemap>(.*?)</sitemap>', 1)) as r
        from ix
      )
    ),
    joined as (
      select rp.host_id, rp.child_url, rp.child_lastmod, ch.xml
      from refp rp left join ch on ch.child_url = rp.child_url
    )
    select cast(host_id as bigint) as host_id, child_url, child_lastmod,
           regexp_extract(u, '<loc>(.*?)</loc>', 1) as url,
           regexp_extract(u, '<lastmod>(.*?)</lastmod>', 1) as lastmod,
           'ok' as status
    from (
      select host_id, child_url, child_lastmod,
             unnest(regexp_extract_all(xml, '<url>(.*?)</url>', 1)) as u
      from joined where xml is not null
    )
    union all
    select cast(host_id as bigint), child_url, child_lastmod,
           cast(null as varchar), cast(null as varchar), 'missing-child'
    from joined where xml is null
"""


@op("url_sitemap_index", _SITEMAP_INDEX_ORACLE)
def url_sitemap_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level sitemap discovery: <sitemapindex> -> child <urlset>s
    -> one row per page url, with dead child refs surfaced as
    'missing-child' rows (see section comment)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    entry = F.concat(
        F.lit("<url><loc>https://host"),
        (did % 256).cast("string"),
        F.lit(".example/doc/"),
        did.cast("string"),
        F.lit("</loc><lastmod>"),
        _lastmod_grid(),
        F.lit("</lastmod><priority>0."),
        (did % 10).cast("string"),
        F.lit("</priority></url>"),
    )
    e = d.select(
        did.alias("doc_id"),
        (did % 256).alias("host_id"),
        (did % 4).alias("sec"),
        entry.alias("entry"),
        _lastmod_grid().alias("lastmod"),
    )
    ch = (
        e.groupBy("host_id", "sec")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "entry"))),
                        lambda s: s["entry"],
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("xml"),
            F.max("lastmod").alias("child_lastmod"),
        )
        .withColumn(
            "child_url",
            F.concat(
                F.lit("https://host"),
                F.col("host_id").cast("string"),
                F.lit(".example/sitemap-"),
                F.col("sec").cast("string"),
                F.lit(".xml"),
            ),
        )
    )
    ref = F.concat(
        F.lit("<sitemap><loc>"), F.col("child_url"),
        F.lit("</loc><lastmod>"), F.col("child_lastmod"),
        F.lit("</lastmod></sitemap>"),
    )
    ix = (
        ch.select("host_id", "sec", ref.alias("ref"))
        .groupBy("host_id")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><sitemapindex>'),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("sec", "ref"))),
                        lambda s: s["ref"],
                    ),
                    "",
                ),
                F.when(
                    F.col("host_id") % 5 == 0,
                    F.concat(
                        F.lit("<sitemap><loc>https://host"),
                        F.col("host_id").cast("string"),
                        F.lit(".example/sitemap-9.xml</loc>"),
                        F.lit("<lastmod>2024-01-01</lastmod></sitemap>"),
                    ),
                ).otherwise(F.lit("")),
                F.lit("</sitemapindex>"),
            ).alias("ixml")
        )
    )
    refp = ix.select(
        "host_id",
        F.explode(
            F.regexp_extract_all("ixml", F.lit("<sitemap>(.*?)</sitemap>"), 1)
        ).alias("r"),
    ).select(
        "host_id",
        F.regexp_extract("r", "<loc>(.*?)</loc>", 1).alias("child_url"),
        F.regexp_extract("r", "<lastmod>(.*?)</lastmod>", 1).alias("child_lastmod"),
    )
    joined = refp.join(ch.select("child_url", "xml"), "child_url", "left")
    out = joined.select(
        F.col("host_id").cast("long").alias("host_id"),
        "child_url",
        "child_lastmod",
        F.explode_outer(
            F.regexp_extract_all("xml", F.lit("<url>(.*?)</url>"), 1)
        ).alias("u"),
    )
    return out.select(
        "host_id",
        "child_url",
        "child_lastmod",
        F.regexp_extract("u", "<loc>(.*?)</loc>", 1).alias("url"),
        F.regexp_extract("u", "<lastmod>(.*?)</lastmod>", 1).alias("lastmod"),
        F.when(F.col("u").isNull(), F.lit("missing-child"))
        .otherwise(F.lit("ok"))
        .alias("status"),
    )


# --- lastmod-driven recrawl selection -----------------------------------------
# Closes the acquisition loop the three ops above open: sitemap says
# when a page last changed (lastmod), the crawl store says when we last
# fetched it — recrawl exactly the urls whose sitemap lastmod is newer
# than the stored crawl day (or that we never fetched). The sitemap
# side reuses url_sitemap_extract's deterministic lastmod grid; the
# stored side is the latest event timestamp per crawl bucket
# (user_id = doc_id % 50 — a stand-in for the per-host fetch log).
# Dates cross the engine boundary as yyyy-MM-dd STRINGS and compare
# lexicographically (CLAUDE.md invariant: never raw timestamps).
#
# Scale shape: the fetch log aggregates to O(buckets) rows map-side
# (one exchange), then BROADCASTS onto the documents scan — no doc-side
# shuffle at any corpus size; the verdict is a narrow projection.

_LAST_FETCH_SQL = """
      select user_id as bucket,
             strftime(max(ts), '%Y-%m-%d') as last_crawl_day
      from events group by 1
"""

_RECRAWL_ORACLE = f"""
    with last_fetch as (
      {_LAST_FETCH_SQL}
    ),
    smap as (
      select doc_id, doc_id % 50 as bucket,
             {_LASTMOD_SQL} as lastmod
      from documents
    )
    select s.doc_id,
           s.lastmod,
           f.last_crawl_day,
           (f.last_crawl_day is null or s.lastmod > f.last_crawl_day)
             as recrawl
    from smap s left join last_fetch f on s.bucket = f.bucket
"""


def _last_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, last_crawl_day) — the fetch log aggregated to
    O(buckets) rows, ready to broadcast; twin of _LAST_FETCH_SQL."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy(F.col("user_id").alias("bucket")).agg(
        F.date_format(F.max("ts"), "yyyy-MM-dd").alias("last_crawl_day")
    )


def _recrawl_pred():
    """The single definition of 'needs a refetch': never fetched, or
    the sitemap says it changed after the stored crawl day."""
    return F.col("last_crawl_day").isNull() | (
        F.col("lastmod") > F.col("last_crawl_day")
    )


@op("crawl_recrawl_candidates", _RECRAWL_ORACLE)
def crawl_recrawl_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl selection: sitemap lastmod vs the stored last-fetch day
    per crawl bucket (see section comment)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    smap = d.select(
        "doc_id",
        (F.col("doc_id") % 50).alias("bucket"),
        _lastmod_grid().alias("lastmod"),
    )
    j = smap.join(F.broadcast(_last_fetch(spark, sf_dir)), "bucket", "left")
    return j.select(
        "doc_id",
        "lastmod",
        "last_crawl_day",
        _recrawl_pred().alias("recrawl"),
    )


# --- the acquisition chain, composed -------------------------------------------
# What a crawl coordinator actually ships (the acquisition analog of
# the tarification chain): sitemap-discovered urls -> lastmod recrawl
# gate -> RFC 9309 robots gate -> per-host politeness schedule, as ONE
# plan whose downstream stages consume only the PARSED url strings
# (host, path, doc id are all re-derived from the url the parser
# emitted, never smuggled from the fixture). The rule card bans the
# /doc/ tree on every 16th host and re-allows ids starting with '1'
# via a longer prefix — the longest-prefix override is exercised
# in-chain, not just in the standalone robots query.
#
# Scale shape: events aggregate to O(buckets) then BROADCAST; the rule
# card BROADCASTS; the robots winner is the same map-side-combinable
# struct-max as robots_filter; the only data-sized exchanges are that
# winner aggregation and the per-host politeness window — the window
# is the politeness SERIAL resource by design (see crawl_schedule).

_ACQ_RULES = [
    *[(f"host{k}.example", "/doc/", False) for k in range(0, 256, 16)],
    *[(f"host{k}.example", "/doc/1", True) for k in range(0, 256, 16)],
]

_ACQ_RULES_SQL = ",\n  ".join(
    f"('{h}', '{p}', {'true' if a else 'false'})" for h, p, a in _ACQ_RULES
)

_ACQ_ORACLE = f"""
    with entries as (
      select doc_id % 256 as host_id, {_SMAP_ENTRY_SQL} as entry, doc_id
      from documents
    ),
    maps as (
      select host_id,
             '<?xml version="1.0"?><urlset>'
               || string_agg(entry, '' order by doc_id) || '</urlset>' as xml
      from entries group by host_id
    ),
    parsed as (
      select unnest(regexp_extract_all(xml, '<url>(.*?)</url>', 1)) as e
      from maps
    ),
    fr as (
      select regexp_extract(e, '<loc>(.*?)</loc>', 1) as url,
             regexp_extract(e, '<lastmod>(.*?)</lastmod>', 1) as lastmod,
             cast(regexp_extract(e, '<priority>0\\.(.)</priority>', 1)
                  as bigint) * 1000 as priority_bp
      from parsed
    ),
    keyed as (
      select url, lastmod, priority_bp,
             regexp_extract(url, 'https://([^/]+)/', 1) as host,
             regexp_extract(url, '(/doc/[0-9]+)$', 1) as path,
             cast(regexp_extract(url, '/doc/([0-9]+)$', 1) as bigint) as did
      from fr
    ),
    last_fetch as (
      {_LAST_FETCH_SQL}
    ),
    rec as (
      select k.* from keyed k
      left join last_fetch f on k.did % 50 = f.bucket
      where f.last_crawl_day is null or k.lastmod > f.last_crawl_day
    ),
    rules(host, prefix, allow) as (values
      {_ACQ_RULES_SQL}
    ),
    j as (
      select r.url, r.host, r.lastmod, r.priority_bp, u.prefix, u.allow
      from rec r
      left join rules u
        on r.host = u.host and starts_with(r.path, u.prefix)
    ),
    best as (
      select url, host, lastmod, priority_bp, allow,
             row_number() over (
               partition by url
               order by length(prefix) desc nulls last,
                        allow desc nulls last,
                        prefix desc nulls last) as rn
      from j
    ),
    allowed as (
      select url, host, lastmod, priority_bp
      from best where rn = 1 and coalesce(allow, true)
    ),
    sched as (
      select url, host, lastmod, priority_bp,
             cast(row_number() over (
               partition by host
               order by priority_bp desc, url) as bigint) as fetch_rank
      from allowed
    )
    select url, host, lastmod, priority_bp, fetch_rank,
           (fetch_rank - 1) // {_SCHED_RATE} as tick_idx,
           {_SCHED_T0} + ((fetch_rank - 1) // {_SCHED_RATE}) * {_SCHED_TICK}
             as scheduled_us
    from sched
"""


@op("crawl_acquisition_pipeline", _ACQ_ORACLE)
def crawl_acquisition_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap -> recrawl -> robots -> politeness as one plan over the
    parsed url strings (see section comment). Reuses the library ops:
    url_sitemap_extract's parser output, robots_filter, crawl_schedule."""
    rows = url_sitemap_extract(spark, sf_dir)
    keyed = rows.select(
        "url",
        "lastmod",
        "priority_bp",
        F.regexp_extract("url", "https://([^/]+)/", 1).alias("host"),
        F.regexp_extract("url", "(/doc/[0-9]+)$", 1).alias("path"),
        # try_cast: regexp_extract yields '' on non-match and the session
        # runs ANSI mode, so a plain cast would abort the whole chain on
        # the first url outside the /doc/<n> shape; null keeps the row
        # flowing through the left join like any never-fetched url
        F.expr("try_cast(regexp_extract(url, '/doc/([0-9]+)$', 1) as bigint)").alias("did"),
    )
    rec = (
        keyed.join(
            F.broadcast(_last_fetch(spark, sf_dir)),
            keyed["did"] % 50 == F.col("bucket"),
            "left",
        )
        .filter(_recrawl_pred())
        .select("url", "host", "path", "lastmod", "priority_bp")
    )
    rules = spark.createDataFrame(_ACQ_RULES, "host string, prefix string, allow boolean")
    gated = robots_filter(rec, rules, host_col="host", path_col="path")
    allowed = gated.filter(F.col("allowed")).select(
        "url", "host", "lastmod", "priority_bp"
    )
    sched = crawl_schedule(
        allowed,
        host_col="host",
        url_col="url",
        priority_col="priority_bp",
        rate_per_tick=_SCHED_RATE,
        t0_us=_SCHED_T0,
        tick_us=_SCHED_TICK,
    )
    return sched.select(
        "url", "host", "lastmod", "priority_bp",
        "fetch_rank", "tick_idx", "scheduled_us",
    )


# --- frontier prioritization (what to fetch FIRST) ---------------------------
#
# The missing step between recrawl selection (WHAT to fetch) and the
# politeness scheduler (WHEN a host allows it): a total priority over
# the frontier so the rate-limited slots go to the most valuable urls.
# Signals, all exact integers:
#   * host prior — any (host, score) table; production plugs in
#     kernels/links.host_pagerank's integer ranks (same shape), the
#     gate derives a frontier-mass prior (capped per-host url count)
#     so the composition is self-contained;
#   * staleness — days since last fetch vs the advertised lastmod,
#     capped (a page 3 years stale is not 36x more urgent than one
#     month);
#   * depth penalty — deep paths are archive/pagination tails; shallow
#     pages carry hub value.
# priority_micro = host_score + 500*staleness - 250*depth, then the
# standard per-host politeness window assigns slots in priority order.
#
# Scale shape: ONE hash agg for the prior (O(hosts) rows out), one
# hash join back (host key — never broadcast-assumed: hosts are 10^8
# at corpus scale), one per-host window (the politeness partition,
# serial per host BY DESIGN). No driver-side data.

_FP_STALE_CAP = 30
_FP_STALE_W = 500
_FP_DEPTH_W = 250
_FP_HOST_CAP = 100
_FP_HOST_W = 1000


def frontier_priority(
    frontier: DataFrame,
    host_scores: DataFrame,
    rate_per_tick: int = _SCHED_RATE,
    t0_us: int = _SCHED_T0,
    tick_us: int = _SCHED_TICK,
) -> DataFrame:
    """frontier(url, host, depth, last_fetch_day, lastmod_day) +
    host_scores(host, host_score) -> politeness-scheduled frontier with
    (priority_micro, fetch_rank, tick_idx, scheduled_us). Urls whose
    host has no score row get prior 0 (a cold host is not a reason to
    drop the url)."""
    stale = F.greatest(
        F.lit(0),
        F.least(F.col("lastmod_day") - F.col("last_fetch_day"), F.lit(_FP_STALE_CAP)),
    )
    scored = (
        frontier.join(host_scores, "host", "left")
        .withColumn(
            "priority_micro",
            (
                F.coalesce(F.col("host_score"), F.lit(0))
                + F.lit(_FP_STALE_W) * stale
                - F.lit(_FP_DEPTH_W) * F.col("depth")
            ).cast("long"),
        )
        .drop("host_score")
    )
    return crawl_schedule(
        scored,
        host_col="host",
        url_col="url",
        priority_col="priority_micro",
        rate_per_tick=rate_per_tick,
        t0_us=t0_us,
        tick_us=tick_us,
    )


_FP_ORACLE = f"""
with frontier as (
  select
    'https://h' || cast(doc_id % 7 as varchar) || '/s'
      || repeat('/x', cast(doc_id % 4 as int)) || '/p'
      || cast(doc_id as varchar) as url,
    'h' || cast(doc_id % 7 as varchar) as host,
    cast(1 + doc_id % 4 as bigint) as depth,
    cast(doc_id % 11 as bigint) as last_fetch_day,
    cast(doc_id % 47 as bigint) as lastmod_day
  from documents
  where doc_id % 5 <> 0
),
prior as (
  select host,
         least(cast(count(*) as bigint), {_FP_HOST_CAP}) * {_FP_HOST_W}
           as host_score
  from frontier group by host
),
scored as (
  select f.url, f.host, f.depth, f.last_fetch_day, f.lastmod_day,
         cast(coalesce(p.host_score, 0)
              + {_FP_STALE_W} * greatest(0, least(f.lastmod_day - f.last_fetch_day,
                                                  {_FP_STALE_CAP}))
              - {_FP_DEPTH_W} * f.depth as bigint) as priority_micro
  from frontier f left join prior p using (host)
),
ranked as (
  select url, host, priority_micro,
         cast(row_number() over (partition by host
                                 order by priority_micro desc, url) as bigint)
           as fetch_rank
  from scored
)
select url, host, priority_micro, fetch_rank,
       (fetch_rank - 1) // {_SCHED_RATE} as tick_idx,
       {_SCHED_T0} + ((fetch_rank - 1) // {_SCHED_RATE}) * {_SCHED_TICK}
         as scheduled_us
from ranked
"""


@op("crawl_frontier_priority", _FP_ORACLE)
def crawl_frontier_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: derive a 7-host frontier with varying depth and stale/
    fresh day grids (doc_id%5==0 urls withheld so one host's mass
    differs), build the capped frontier-mass prior, score, and run the
    politeness window — (url, host, priority_micro, fetch_rank,
    tick_idx, scheduled_us), bit-exact."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    frontier = d.filter(F.col("doc_id") % 5 != 0).select(
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 7).cast("string"), F.lit("/s"),
            F.expr("repeat('/x', cast(doc_id % 4 as int))"),
            F.lit("/p"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string")).alias("host"),
        (F.lit(1) + F.col("doc_id") % 4).cast("long").alias("depth"),
        (F.col("doc_id") % 11).cast("long").alias("last_fetch_day"),
        (F.col("doc_id") % 47).cast("long").alias("lastmod_day"),
    )
    prior = frontier.groupBy("host").agg(
        (F.least(F.count("*").cast("long"), F.lit(_FP_HOST_CAP)) * _FP_HOST_W).alias(
            "host_score"
        )
    )
    out = frontier_priority(frontier, prior)
    return out.select(
        "url", "host", "priority_micro", "fetch_rank", "tick_idx", "scheduled_us"
    )


# --- composed crawl-priority chain (PageRank prior -> frontier -> slots) -----
#
# frontier_priority accepts ANY (host, score) table; the gate above
# feeds it a derived frontier-mass prior. This op composes the chain a
# crawl operator actually runs — host_pagerank over the link graph ->
# frontier_priority -> politeness slots — as ONE oracle-checked query
# (VERDICT r04 #5), mirroring crawl_acquisition_pipeline's composition
# discipline: the oracle embeds the unrolled integer-exact PageRank
# CTEs verbatim, so a key/type mismatch anywhere in the seam is a
# hash mismatch, not a silent coercion. Hosts h97-h100 sit outside the
# 97-host link graph, pinning the cold-host (prior 0) path end-to-end.


def _priority_pipeline_oracle() -> str:
    from ocr_application_spark.operators.kernels_entry import _pagerank_oracle_sql

    # the pagerank oracle is "with <ctes> select host, ... from r4";
    # keep the CTE chain, swap the final select for the frontier chain
    pr_ctes = _pagerank_oracle_sql().rsplit("select host,", 1)[0].rstrip().rstrip(",")
    return f"""
    {pr_ctes},
    prior as (select host, cast(rank as bigint) as host_score from r4),
    frontier as (
      select
        'https://h' || printf('%02d', cast(doc_id % 101 as int)) || '/s'
          || repeat('/x', cast(doc_id % 4 as int)) || '/p'
          || cast(doc_id as varchar) as url,
        printf('h%02d', cast(doc_id % 101 as int)) as host,
        cast(1 + doc_id % 4 as bigint) as depth,
        cast(doc_id % 11 as bigint) as last_fetch_day,
        cast(doc_id % 47 as bigint) as lastmod_day
      from documents
    ),
    scored as (
      select f.url, f.host,
             cast(coalesce(p.host_score, 0)
                  + {_FP_STALE_W} * greatest(0, least(f.lastmod_day - f.last_fetch_day,
                                                      {_FP_STALE_CAP}))
                  - {_FP_DEPTH_W} * f.depth as bigint) as priority_micro
      from frontier f left join prior p using (host)
    ),
    ranked as (
      select url, host, priority_micro,
             cast(row_number() over (partition by host
                                     order by priority_micro desc, url) as bigint)
               as fetch_rank
      from scored
    )
    select url, host, priority_micro, fetch_rank,
           (fetch_rank - 1) // {_SCHED_RATE} as tick_idx,
           {_SCHED_T0} + ((fetch_rank - 1) // {_SCHED_RATE}) * {_SCHED_TICK}
             as scheduled_us
    from ranked
    """


@op("crawl_priority_pipeline", _priority_pipeline_oracle())
def crawl_priority_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real crawl-priority chain end-to-end: integer-exact
    host_pagerank over the 97-host doc_id-arithmetic link graph (the
    link_host_pagerank gate's fixture) becomes the host prior,
    frontier_priority scores a 101-host frontier against it (4 hosts
    cold — prior 0), and the politeness window assigns slots.
    Bit-exact: the oracle unrolls the same PageRank iterations."""
    from ocr_application_spark.kernels.links import host_pagerank
    from ocr_application_spark.operators.kernels_entry import _synth_host_edges

    prior = host_pagerank(_synth_host_edges(spark, sf_dir), iterations=4).select(
        "host", F.col("rank").cast("long").alias("host_score")
    )
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    host = F.format_string("h%02d", (F.col("doc_id") % 101).cast("int"))
    frontier = d.select(
        F.concat(
            F.lit("https://"), host, F.lit("/s"),
            F.expr("repeat('/x', cast(doc_id % 4 as int))"),
            F.lit("/p"), F.col("doc_id").cast("string"),
        ).alias("url"),
        host.alias("host"),
        (F.lit(1) + F.col("doc_id") % 4).cast("long").alias("depth"),
        (F.col("doc_id") % 11).cast("long").alias("last_fetch_day"),
        (F.col("doc_id") % 47).cast("long").alias("lastmod_day"),
    )
    out = frontier_priority(frontier, prior)
    return out.select(
        "url", "host", "priority_micro", "fetch_rank", "tick_idx", "scheduled_us"
    )


# --- sitemap discovery from robots.txt ---------------------------------------
#
# The missing hop in the acquisition chain: url_sitemap_extract parses
# sitemap XML it is HANDED; real crawlers learn the sitemap urls from
# robots.txt `Sitemap:` directives (sitemaps.org / RFC 9309 §2.3 —
# a GLOBAL field: valid anywhere in the file, NOT scoped to any
# user-agent group, so discovery deliberately bypasses the group
# machinery robots_parse needs). Per host: every Sitemap line, in
# file order, case-insensitive field name, comments stripped, bare
# or whitespace-padded values tolerated, non-absolute values dropped
# (the spec requires a full URL).
#
# Scale shape: one posexplode over per-host robots text (RFC-capped
# files — politeness-class volume), a scan filter, zero joins, zero
# windows.


def robots_sitemaps(
    robots: DataFrame, host_col: str = "host_id", text_col: str = "robots_txt"
) -> DataFrame:
    """(host, src_line, sitemap_url) for every valid Sitemap directive."""
    h, t = F.col(host_col), F.col(text_col)
    lines = robots.select(
        h.alias(host_col),
        F.posexplode(F.split(t, "\r\n")).alias("_p", "_raw"),
    ).select(
        host_col,
        (F.col("_p") + 1).alias("src_line"),
        F.trim(F.regexp_replace("_raw", "#.*$", "")).alias("_line"),
    )
    val = F.regexp_extract("_line", r"(?i)^sitemap[ \t]*:[ \t]*([^ \t]+)[ \t]*$", 1)
    return (
        lines.select(host_col, "src_line", val.alias("sitemap_url"))
        .filter(F.col("sitemap_url").rlike("(?i)^https?://"))
    )


# fixture variants (host_id % 5): 0 = none; 1 = one plain directive;
# 2 = two (second inside a UA group — global field, still discovered)
# + a relative url that must be DROPPED; 3 = mixed case + padding +
# trailing comment; 4 = uppercase field with query-carrying url
_SMD_TXT_SQL = """
    'User-agent: *' || chr(13) || chr(10)
    || 'Disallow: /tmp/' || chr(13) || chr(10)
    || case cast(host_id % 5 as int)
         when 0 then ''
         when 1 then 'Sitemap: https://h' || cast(host_id as varchar)
           || '.example.com/sitemap.xml' || chr(13) || chr(10)
         when 2 then 'Sitemap: https://h' || cast(host_id as varchar)
           || '.example.com/sm-a.xml' || chr(13) || chr(10)
           || 'User-agent: OtherBot' || chr(13) || chr(10)
           || 'Sitemap: https://h' || cast(host_id as varchar)
           || '.example.com/sm-b.xml' || chr(13) || chr(10)
           || 'Sitemap: /relative-dropped.xml' || chr(13) || chr(10)
         when 3 then '  siTemap :   https://h' || cast(host_id as varchar)
           || '.example.com/deep/sm.xml   # primary' || chr(13) || chr(10)
         else 'SITEMAP: http://h' || cast(host_id as varchar)
           || '.example.com/sm.xml?v=2' || chr(13) || chr(10)
       end
"""

_SMD_ORACLE = f"""
    with hosts as (
      select distinct cast(doc_id % 32 as bigint) as host_id from documents
    ),
    files as (select host_id, {_SMD_TXT_SQL} as robots_txt from hosts),
    lines as (
      select host_id, cast(u.i as bigint) as src_line,
             trim(regexp_replace(string_split(robots_txt, chr(13) || chr(10))[i],
                                 '#.*$', '')) as line
      from files, unnest(range(1, len(string_split(robots_txt,
                                                   chr(13) || chr(10))) + 1)) u(i)
    )
    select host_id, src_line,
           regexp_extract(line, '(?i)^sitemap[ \t]*:[ \t]*([^ \t]+)[ \t]*$', 1)
             as sitemap_url
    from lines
    where regexp_matches(
            regexp_extract(line, '(?i)^sitemap[ \t]*:[ \t]*([^ \t]+)[ \t]*$', 1),
            '(?i)^https?://')
"""


@op("crawl_sitemap_discovery", _SMD_ORACLE)
def crawl_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: 32 synthetic hosts' robots files (variants above) ->
    discovered sitemap urls; whitespace-padded and mixed-case
    directives survive, relative urls drop, group membership is
    ignored (global field)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hosts = d.select((F.col("doc_id") % 32).cast("long").alias("host_id")).distinct()
    files = hosts.select(
        "host_id",
        F.expr(_SMD_TXT_SQL.replace("as varchar", "as string")).alias("robots_txt"),
    )
    return robots_sitemaps(files).withColumn(
        "src_line", F.col("src_line").cast("long")
    )
