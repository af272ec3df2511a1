"""URL parameter mining: learn content-neutral query params from data.

``urlops.canonical_url`` strips a STATIC junk-param list (utm_*) — the
industry default, but every large crawl meets site-specific session/
tracking params (``sessionid``, ``ref``, ``phpsessid``, ...) that no
static list knows. This operator learns them from crawl evidence: a
param key is content-neutral when, across every URL group that differs
only in that key, the fetched content digest never changes — i.e.
removing the key merges URLs without ever merging two DIFFERENT
documents. (The same evidence rule crawl dedup systems apply to URL
rewrite discovery; the reference has no crawl tier at all — its inputs
are one-file uploads, extraction_service/app/main.py.)

Per key the miner reports exact integer evidence, not a score:
  n_urls            distinct URLs carrying the key
  n_groups          distinct (url-minus-key) residual groups
  n_merged_groups   groups where removing the key actually merged >=2
                    URLs (the only groups that carry information)
  n_conflict_groups merged groups holding >1 distinct digest — proof
                    the key changes content
  neutral           n_conflict_groups = 0 AND n_merged_groups > 0
                    (conflict-free AND positively evidenced; a key with
                    no merge evidence stays NOT neutral — absence of
                    evidence is not a license to strip)

Engine discipline: built-in higher-order array functions only (split /
filter / array_sort / array_join — codegen-adjacent, no UDF). Three
shuffles, all designed: the (key, residual) group needs TWO distinct
counts (urls AND digests), which Catalyst plans as one Expand (2x the
exploded stream, each half partially aggregated map-side before its
exchange) — the standard exact multi-distinct plan; the third exchange
is the per-key fold, O(distinct keys) — tiny. Fan-out is bounded by
params-per-URL. Counts stay BIGINT in both engines
(`count FILTER`, never `sum(case)` — DuckDB sum(BIGINT) is HUGEINT,
the r03 failure class).

The fixture derives (url, digest) deterministically from ``documents``:
doc_id//4 is the page identity, ``sess`` (2 values) never changes the
digest, ``v`` (2 values) always does — so the miner must prove ``sess``
neutral by merge evidence and convict ``v`` by digest conflict.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op


# --- the miner (generic over any (url, digest) frame) ------------------------

def mine_neutral_params(
    df: DataFrame, url_col: str = "url", digest_col: str = "digest"
) -> DataFrame:
    """Per query-param-key neutrality evidence over (url, digest) rows.

    Returns (param_key, n_urls, n_groups, n_merged_groups,
    n_conflict_groups, neutral) — see module docstring for semantics.
    URLs without a query string contribute nothing (no keys to judge).
    """
    u, g = F.col(url_col), F.col(digest_col)
    parts = df.select(
        u.alias("_url"),
        g.alias("_digest"),
        F.regexp_extract(u, r"^([^?#]*)", 1).alias("_path"),
        F.filter(
            F.split(F.regexp_extract(u, r"\?([^#]*)", 1), "&"),
            lambda p: p != F.lit(""),
        ).alias("_params"),
    )
    exploded = parts.select(
        "_url",
        "_digest",
        "_path",
        "_params",
        F.explode("_params").alias("_p"),
    ).withColumn("_key", F.split(F.col("_p"), "=").getItem(0))
    # residual identity = path + every param whose KEY differs, sorted
    # (order-insensitive: ?a=1&b=2 and ?b=2&a=1 share a residual)
    residual = exploded.withColumn(
        "_residual",
        F.concat(
            F.col("_path"),
            F.lit("?"),
            F.array_join(
                F.array_sort(
                    F.filter(
                        F.col("_params"),
                        lambda p: F.split(p, "=").getItem(0) != F.col("_key"),
                    )
                ),
                "&",
            ),
        ),
    )
    groups = residual.groupBy("_key", "_residual").agg(
        F.count_distinct(F.col("_url")).alias("_n_urls"),
        F.count_distinct(F.col("_digest")).alias("_n_digests"),
    )
    per_key = groups.groupBy(F.col("_key").alias("param_key")).agg(
        F.sum("_n_urls").cast("bigint").alias("n_urls"),
        F.count(F.lit(1)).alias("n_groups"),
        F.count_if(F.col("_n_urls") > 1).alias("n_merged_groups"),
        F.count_if(F.col("_n_digests") > 1).alias("n_conflict_groups"),
    )
    return per_key.withColumn(
        "neutral",
        (F.col("n_conflict_groups") == 0) & (F.col("n_merged_groups") > 0),
    )


# --- deterministic fixture (twin expressions) --------------------------------
#
# base = doc_id//4; per base the 4 docs carry (sess, v) =
# (s0,0) (s0,1) (s1,0) (s1,1); digest depends on (base, v) only.

_FIX_SQL = """
    select
      'https://example.com/d/' || cast(doc_id // 4 as varchar)
        || '?sess=s' || cast((doc_id % 4) // 2 as varchar)
        || '&v=' || cast(doc_id % 2 as varchar) as url,
      md5('c' || cast(doc_id // 4 as varchar) || ':'
          || cast(doc_id % 2 as varchar)) as digest
    from documents
"""

_MINE_ORACLE = f"""
    with fx as ({_FIX_SQL}),
    parts as (
      select url, digest,
             regexp_extract(url, '^([^?#]*)', 1) as path,
             list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1),
                                      '&'), p -> p <> '') as params
      from fx
    ),
    exploded as (
      select url, digest, path, params, unnest(params) as p
      from parts
    ),
    residual as (
      select url, digest,
             string_split(p, '=')[1] as key,
             path || '?' || array_to_string(
               list_sort(list_filter(params,
                 q -> string_split(q, '=')[1] <> string_split(p, '=')[1])),
               '&') as residual
      from exploded
    ),
    groups as (
      select key, residual,
             count(distinct url) as n_urls,
             count(distinct digest) as n_digests
      from residual
      group by key, residual
    )
    select key as param_key,
           cast(sum(n_urls) as bigint) as n_urls,
           count(*) as n_groups,
           count(*) filter (where n_urls > 1) as n_merged_groups,
           count(*) filter (where n_digests > 1) as n_conflict_groups,
           (count(*) filter (where n_digests > 1)) = 0
             and (count(*) filter (where n_urls > 1)) > 0 as neutral
    from groups
    group by key
"""


@op("url_param_mining", _MINE_ORACLE)
def url_param_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://example.com/d/"),
        F.floor(d / 4).cast("bigint").cast("string"),
        F.lit("?sess=s"),
        F.floor((d % 4) / 2).cast("bigint").cast("string"),
        F.lit("&v="),
        (d % 2).cast("string"),
    )
    digest = F.md5(
        F.concat(
            F.lit("c"),
            F.floor(d / 4).cast("bigint").cast("string"),
            F.lit(":"),
            (d % 2).cast("string"),
        )
    )
    fx = docs.select(url.alias("url"), digest.alias("digest"))
    return mine_neutral_params(fx)
