"""Mergeable integer quantile sketch (HDR-histogram style).

Completes the mergeable-sketch family (Bloom / Count-Min / KMV in
`sketches.py`) with the quantile member: percentiles over trillions of
rows with O(groups x buckets) state instead of an exact per-group sort.
`groupstats.group_percentiles` is the exact path; this is the sketch
path a 100 TB corpus actually runs — per-partition histograms combine
map-side, the merged state is a few hundred rows per group, and two
states merge by summing counts (associative + commutative, so the
sketch is a pure function of the input MULTISET — order- and
partitioning-independent, which is what makes the merged==direct test
bit-exact rather than approximate).

Bucketing (published basis: HDR Histogram, Gil Tene; same
exponent-plus-mantissa idea as DDSketch, Masson et al., VLDB 2019 —
chosen over DDSketch's log-gamma buckets because floor(log) is a
cross-engine float landmine while bit arithmetic is exact):

    x      = max(value, 1)                   -- positive integers
    msb    = length(bin(x)) - 1              -- floor(log2 x), exact
    shift  = max(msb - S, 0)                 -- S = SUB_BITS = 5
    base   = x >> shift                      -- mantissa, in [1, 64)
    bucket = shift * 64 + base               -- monotone in x
    rep    = base << shift                   -- bucket lower bound

Every operation is integer bit arithmetic available verbatim in both
Spark SQL and DuckDB (`bin`, `>>`, `<<`) — no floats anywhere, so the
oracle is exact to the last bit. Relative error: all x in a bucket
share base, so x is in [rep, rep * (1 + 2^-S)); quantile estimates
(the rep of the first bucket whose cumulative count reaches ceil(q*n),
ceil done in integer arithmetic) are lower bounds within 1/32 relative
error, exact for x < 64. Guarantee pinned by `test_quantile_sketch.py`
against the exact percentiles.

Scale: build is one partial-agg shuffle on (group, bucket); merge is a
sum; the only window runs over the merged state (<= ~64 buckets per
level x ~10 levels per group), never over raw rows — plan-asserted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op

SUB_BITS = 5
_BASE_SPAN = 1 << (SUB_BITS + 1)  # 64: bucket = shift * span + base


def _bucket_expr(value_sql: str) -> str:
    """The bucket formula as a SQL fragment over ``value_sql`` —
    shared verbatim between the Spark selectExpr and the DuckDB oracle
    (only ``div`` vs ``//`` differs downstream)."""
    x = f"greatest(coalesce(cast({value_sql} as bigint), 1), 1)"
    shift = f"greatest(length(bin({x})) - 1 - {SUB_BITS}, 0)"
    return f"({shift} * {_BASE_SPAN}) + ({x} >> cast({shift} as int))"


def hdr_build(df: DataFrame, group: list[str], value_sql: str) -> DataFrame:
    """(group..., bucket_id, cnt) histogram state — one partial-agg
    shuffle; rep is NOT stored (pure function of bucket_id)."""
    b = df.selectExpr(*group, f"{_bucket_expr(value_sql)} as bucket_id")
    return b.groupBy(*group, "bucket_id").agg(F.count(F.lit(1)).alias("cnt"))


def hdr_merge(states: DataFrame, group: list[str]) -> DataFrame:
    """Merge any number of states: sum counts per bucket (associative)."""
    return states.groupBy(*group, "bucket_id").agg(F.sum("cnt").alias("cnt"))


_REP = f"(bucket_id % {_BASE_SPAN}) << cast(bucket_id div {_BASE_SPAN} as int)"


def hdr_quantiles(state: DataFrame, group: list[str]) -> DataFrame:
    """p50/p90/p99 estimates from a state: cumulative counts over the
    (tiny) bucket table, first bucket reaching ceil(q*n) in exact
    integer arithmetic; estimates are bucket lower bounds."""
    w = (
        Window.partitionBy(*group)
        .orderBy("bucket_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy(*group)
    c = (
        state.withColumn("rep", F.expr(_REP))
        .withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(wn))
    )
    return c.groupBy(*group).agg(
        F.max("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.min(F.when(F.expr("cum >= (n + 1) div 2"), F.col("rep"))).alias("p50_est"),
        F.min(F.when(F.expr("cum >= (9 * n + 9) div 10"), F.col("rep"))).alias(
            "p90_est"
        ),
        F.min(F.when(F.expr("cum >= (99 * n + 99) div 100"), F.col("rep"))).alias(
            "p99_est"
        ),
    )


_ORACLE = f"""
    with b as (
      select lang, source,
             {_bucket_expr("n_chars")} as bucket_id,
             count(*) as cnt
      from documents
      group by 1, 2, 3
    ), merged as (
      select lang, bucket_id, sum(cnt) as cnt
      from b group by 1, 2
    ), c as (
      select lang, bucket_id, cnt,
             (bucket_id % {_BASE_SPAN}) << cast(bucket_id // {_BASE_SPAN} as int) as rep,
             sum(cnt) over (partition by lang order by bucket_id) as cum,
             sum(cnt) over (partition by lang) as n
      from merged
    )
    select lang,
           cast(max(n) as bigint) as n_docs,
           cast(count(*) as bigint) as n_buckets,
           cast(min(case when cum >= (n + 1) // 2 then rep end) as bigint) as p50_est,
           cast(min(case when cum >= (9 * n + 9) // 10 then rep end) as bigint) as p90_est,
           cast(min(case when cum >= (99 * n + 99) // 100 then rep end) as bigint) as p99_est
    from c
    group by lang
"""


@op("sketch_hdr_quantiles", _ORACLE)
def sketch_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language n_chars percentiles via build -> merge -> query:
    per-(lang, source) states built independently (as shards would be),
    merged by count-sum, quantiles read off the merged state."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    shard_states = hdr_build(docs, ["lang", "source"], "n_chars")
    merged = hdr_merge(shard_states.drop("source"), ["lang"])
    out = hdr_quantiles(merged, ["lang"])
    return out.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.col("p50_est").cast("long").alias("p50_est"),
        F.col("p90_est").cast("long").alias("p90_est"),
        F.col("p99_est").cast("long").alias("p99_est"),
    )
