"""HTTP cache-header freshness: response headers -> next-fetch schedule.

The header-driven leg of recrawl planning. ``crawl_recrawl_candidates``
(urlops) answers "the SITEMAP says it changed"; this op answers "the
SERVER'S OWN cache metadata says when to come back" — the RFC 9111
freshness model every polite recrawler runs over its fetch log:

- ``Cache-Control: no-store`` -> zero lifetime;
- else ``max-age=N`` (comma-list token, case-insensitive) -> N seconds;
- else ``Expires`` -> its delta from fetch time (clamped at 0);
- else the Last-Modified heuristic -> 10% of the page's age at fetch
  (RFC 9111 §4.2.2's canonical suggestion);
- ``no-cache`` additionally forces revalidation before reuse.

Plus the conditional-request plan: revalidate by ETag when the server
sent one (strongest validator), else ``If-Modified-Since``, else an
unconditional refetch.

Everything is exact int64 epoch-microsecond arithmetic (the CLAUDE.md
timestamp invariant): lifetimes multiply whole seconds, the heuristic
divides with integer division (Spark ``div`` / DuckDB ``//`` — both
floor, operands clamped non-negative so floor == truncate), and the
schedule is ``fetched + lifetime``. Zero exchanges, zero UDFs — a
narrow scan projection over the fetch log at any corpus size
(plan-asserted).

The reference has no crawl layer at all (it consumes uploads —
extraction_service/app/main.py); this extends the acquisition family
(sitemap/robots/politeness/recrawl in urlops.py) that a Common-Crawl
pipeline needs in front of extraction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op


def _sql_quote(pat: str) -> str:
    return "'" + pat.replace("'", "''") + "'"


# --- shared patterns (one constant, two engines) -----------------------------

def _tok_pat(token: str) -> str:
    """One comma-separated Cache-Control token, whitespace-tolerant,
    boundary-anchored so 'no-storefront' can never match 'no-store'."""
    return f"(^|,)[ ]*{token}[ ]*(,|$)"


_NO_STORE_PAT = _tok_pat("no-store")
_NO_CACHE_PAT = _tok_pat("no-cache")
_MAX_AGE_PAT = r"(^|,)[ ]*max-age=([0-9]+)[ ]*(,|$)"


def cache_freshness(
    df: DataFrame,
    fetched_col: str = "fetched_epoch_us",
    cc_col: str = "cache_control",
    expires_col: str = "expires_epoch_us",
    lm_col: str = "last_modified_epoch_us",
    etag_col: str = "etag",
) -> DataFrame:
    """Append the RFC 9111 freshness verdict to a fetch log:
    (no_store, no_cache, max_age_s, lifetime_us, next_fetch_epoch_us,
    revalidate_mode). Timestamp inputs are int64 epoch micros (NULL =
    header absent); ``cache_control``/``etag`` are strings ('' = absent).
    """
    cc = F.lower(F.trim(F.col(cc_col)))
    fetched = F.col(fetched_col)
    no_store = cc.rlike(_NO_STORE_PAT)
    no_cache = cc.rlike(_NO_CACHE_PAT)
    max_age_s = F.expr(
        f"try_cast(regexp_extract(lower(trim({cc_col})), "
        f"{_sql_quote(_MAX_AGE_PAT)}, 2) as bigint)"
    )
    heur = F.expr(
        f"div(greatest({fetched_col} - {lm_col}, 0), 10)"
    )
    lifetime: Column = (
        F.when(no_store, F.lit(0).cast("bigint"))
        .when(max_age_s.isNotNull(), max_age_s * F.lit(1000000).cast("bigint"))
        .when(
            F.col(expires_col).isNotNull(),
            F.greatest(F.col(expires_col) - fetched, F.lit(0).cast("bigint")),
        )
        .when(F.col(lm_col).isNotNull(), heur)
        .otherwise(F.lit(0).cast("bigint"))
    )
    mode = (
        F.when(F.col(etag_col) != "", F.lit("etag"))
        .when(F.col(lm_col).isNotNull(), F.lit("last-modified"))
        .otherwise(F.lit("unconditional"))
    )
    df = df.withColumns(
        {
            "no_store": no_store,
            "no_cache": no_cache,
            "max_age_s": max_age_s,
            "lifetime_us": lifetime,
        }
    )
    return df.withColumns(
        {
            "next_fetch_epoch_us": fetched + F.col("lifetime_us"),
            "revalidate_mode": mode,
        }
    )


# --- deterministic fixture (twin expressions) --------------------------------
#
# fetched = 2024-03-01T00:00:00Z + doc_id hours, as a literal int64.
# doc_id % 6 drives Cache-Control (absent / max-age / no-store /
# list-with-max-age / no-cache+max-age / private-only); doc_id % 4 == 1
# adds Expires (+2h); doc_id % 3 != 0 adds Last-Modified (doc_id%100
# days old); even doc_ids carry an ETag.

_FETCHED_SQL = "1709251200000000 + doc_id * 3600000000"

_CC_SQL = """
    case cast(doc_id % 6 as int)
      when 0 then ''
      when 1 then 'max-age=3600'
      when 2 then 'No-Store'
      when 3 then 'public, max-age=86400, immutable'
      when 4 then 'no-cache, max-age=60'
      else 'private'
    end
"""

_EXPIRES_SQL = f"case when doc_id % 4 = 1 then ({_FETCHED_SQL}) + 7200000000 end"
_LM_SQL = f"case when doc_id % 3 <> 0 then ({_FETCHED_SQL}) - (doc_id % 100) * 86400000000 end"
_ETAG_SQL = (
    "case when doc_id % 2 = 0 then '\"W' || cast(doc_id as varchar) || '\"' else '' end"
)

_ORACLE = f"""
    with fx as (
      select doc_id,
        {_FETCHED_SQL} as fetched_epoch_us,
        {_CC_SQL} as cache_control,
        {_EXPIRES_SQL} as expires_epoch_us,
        {_LM_SQL} as last_modified_epoch_us,
        {_ETAG_SQL} as etag
      from documents
    ),
    v as (
      select *,
        regexp_matches(lower(trim(cache_control)), {_sql_quote(_NO_STORE_PAT)}) as no_store,
        regexp_matches(lower(trim(cache_control)), {_sql_quote(_NO_CACHE_PAT)}) as no_cache,
        try_cast(regexp_extract(lower(trim(cache_control)),
                 {_sql_quote(_MAX_AGE_PAT)}, 2) as bigint) as max_age_s
      from fx
    ),
    w as (
      select *,
        case
          when no_store then cast(0 as bigint)
          when max_age_s is not null then max_age_s * cast(1000000 as bigint)
          when expires_epoch_us is not null
            then greatest(expires_epoch_us - fetched_epoch_us, cast(0 as bigint))
          when last_modified_epoch_us is not null
            then greatest(fetched_epoch_us - last_modified_epoch_us, cast(0 as bigint)) // 10
          else cast(0 as bigint)
        end as lifetime_us
      from v
    )
    select doc_id, no_store, no_cache, max_age_s, lifetime_us,
      fetched_epoch_us + lifetime_us as next_fetch_epoch_us,
      case when etag <> '' then 'etag'
           when last_modified_epoch_us is not null then 'last-modified'
           else 'unconditional' end as revalidate_mode
    from w
"""


def _fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = lambda e: F.expr(e.replace("as varchar", "as string"))  # noqa: E731
    return docs.select(
        "doc_id",
        s(_FETCHED_SQL).alias("fetched_epoch_us"),
        s(_CC_SQL).alias("cache_control"),
        s(_EXPIRES_SQL).alias("expires_epoch_us"),
        s(_LM_SQL).alias("last_modified_epoch_us"),
        s(_ETAG_SQL).alias("etag"),
    )


@op("crawl_cache_headers", _ORACLE)
def crawl_cache_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    fx = _fixture(spark, sf_dir)
    return cache_freshness(fx).select(
        "doc_id", "no_store", "no_cache", "max_age_s", "lifetime_us",
        "next_fetch_epoch_us", "revalidate_mode",
    )
