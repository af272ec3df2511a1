"""Skew handling: salted repartition/aggregation for hot keys.

North-rule requirement: "salted repartitioning for skewed hosts". The
synthetic corpus has Zipf hosts (a few own ~30% of rows — webgen),
exactly the pattern that makes a plain groupBy(host) put one giant
partition on one executor at 10^12 rows.

``host_doc_stats`` is the oracle-checked demonstration: a two-phase
salted aggregation (group on (host, salt) -> partial results -> re-group
on host) whose RESULT is identical to the naive groupBy — the oracle SQL
is the naive form, proving the physical rewrite is semantics-preserving.
AQE's skew-join splitting covers joins; salting covers aggregations and
deliberate repartitioning before kernel stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op

_N_SALT = 16


def _salt(n_salt: int):
    """Per-row salt that spreads DUPLICATE rows too.

    A hash of the row's columns looks deterministic but fails on the
    exact corpora skew guards exist for: a hot key whose rows are
    largely identical (replayed records, boilerplate) hashes every copy
    to ONE salt value, re-creating the straggler. The row's physical
    position (monotonically_increasing_id = partition_id << 33 | row#)
    spreads copies uniformly; the salted aggregation's RESULT is
    salt-invariant (proven by the naive-form oracle), so salt stability
    across runs is not required — only uniformity within a run.
    """
    return F.pmod(F.monotonically_increasing_id(), F.lit(n_salt))


def salted_repartition(df: DataFrame, key: str, n_partitions: int, n_salt: int = _N_SALT) -> DataFrame:
    """Repartition on (key, salt) so a hot key spreads over n_salt
    partitions (use in front of a per-partition kernel stage when one
    key dominates the input)."""
    return df.repartition(n_partitions, F.col(key), _salt(n_salt))


def salted_group_sum(df: DataFrame, key: str, aggs: dict[str, str], n_salt: int = _N_SALT) -> DataFrame:
    """Two-phase skew-safe aggregation: phase 1 groups on (key, salt)
    (hot key split n_salt ways across executors), phase 2 merges the
    n_salt partials per key — a shuffle of O(keys * n_salt) rows only.

    aggs: {out_name: col} summed; count handled via a literal 1 col.
    """
    salt = _salt(n_salt).alias("_salt")
    phase1 = df.select(key, salt, *[F.col(c).alias(f"_v_{o}") for o, c in aggs.items()]).groupBy(
        key, "_salt"
    )
    p1 = phase1.agg(
        F.count("*").alias("_cnt"),
        *[F.sum(f"_v_{o}").alias(f"_p_{o}") for o in aggs],
    )
    return p1.groupBy(key).agg(
        F.sum("_cnt").alias("n_rows"),
        *[F.sum(f"_p_{o}").alias(o) for o in aggs],
    )


# --- oracle-checked query ----------------------------------------------------
_ORACLE = """
    with hosts as (
      select 'src' || cast(l_suppkey % 100 as varchar) as host,
             cast(l_extendedprice as decimal(18,2)) as price
      from lineitem
    )
    select host, count(*) as n_rows,
           cast(sum(price) as double) as total_price
    from hosts group by host
"""


def skew_salted_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase sum grouped by a skewed synthetic host key;
    result provably identical to the naive groupBy (the oracle)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    hosts = li.select(
        F.concat(F.lit("src"), (F.col("l_suppkey") % 100).cast("string")).alias("host"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    out = salted_group_sum(hosts, "host", {"total_price": "price"})
    return out.select("host", "n_rows", F.col("total_price").cast("double").alias("total_price"))


op("skew_salted_host_stats", _ORACLE)(skew_salted_host_stats)
