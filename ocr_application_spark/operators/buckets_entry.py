"""Bucketed co-located join demonstrator (the 100 TB join lever).

Bucketing orders and lineitem on orderkey makes their join
co-located; this module proves it in an executed plan. Both sides are written once with
``bucketBy(N, key)`` (Spark's hash-bucketed table layout — the same
contract Iceberg bucket partition transforms give a real warehouse),
then the fact-fact join runs as a SortMergeJoin with ZERO exchanges:
each task reads bucket i of both tables, because the bucketing function
already co-partitioned them at write time. At 10^12 rows this converts
the single biggest shuffle in the plan (both sides huge, neither
broadcastable) into a scan-local merge — pay the shuffle once at write,
amortize it over every subsequent join.

Engine demonstrator: no reference analog (the reference joins nothing
at this scale); oracle-checked by the local parity suite and
plan-pinned by test_plan_audit.

The bucketed tables live under ``default_scratch()`` via a
scratch-located database; each invocation overwrites them, so the
query is idempotent in a long-lived session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op
from ocr_application_spark.sources.webpages import default_scratch


_N_BUCKETS = 8
_DEC = "decimal(18,2)"


def write_bucketed(df: DataFrame, key: str, table: str, n_buckets: int = _N_BUCKETS) -> None:
    """Write ``df`` hash-bucketed (and per-file sorted) on ``key``.

    Sorting inside each bucket file lets the merge join skip its Sort
    when Spark can prove one file per bucket; the Exchange elimination
    never depends on it.

    Idempotent across SESSIONS, not just within one: the in-memory
    catalog forgets managed tables on restart while their directories
    persist, and saveAsTable refuses to adopt an existing location —
    so drop the stale catalog entry AND the orphaned directory first.
    """
    import shutil

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    db, _, name = table.rpartition(".")
    if db:
        loc = spark.sql(f"DESCRIBE DATABASE {db}").where("info_name = 'Location'")
        base = loc.collect()[0]["info_value"].removeprefix("file:")
        shutil.rmtree(f"{base}/{name}", ignore_errors=True)
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        "CREATE DATABASE IF NOT EXISTS bucket_demo "
        f"LOCATION '{default_scratch()}/bucket_demo_db'"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    write_bucketed(orders.select("o_orderkey", "o_orderpriority"), "o_orderkey", "bucket_demo.orders_b")
    write_bucketed(lineitem, "l_orderkey", "bucket_demo.lineitem_b")
    ob = spark.table("bucket_demo.orders_b")
    lb = spark.table("bucket_demo.lineitem_b")
    # merge hint: the point is the exchange-free SortMergeJoin, not a
    # size-estimated broadcast that only works because the test data is
    # tiny — at target scale neither side broadcasts
    joined = lb.hint("merge").join(ob, lb.l_orderkey == ob.o_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(
            F.col("l_extendedprice").cast(_DEC) * (F.lit(1) - F.col("l_discount").cast(_DEC))
        )
        .cast("double")
        .alias("revenue"),
    )


@op(
    "bucketed_colocated_join",
    """
    select o.o_orderpriority,
           count(*) as n_items,
           cast(sum(cast(l.l_extendedprice as decimal(18,2))
                    * (1 - cast(l.l_discount as decimal(18,2)))) as double) as revenue
    from lineitem l join orders o on l.l_orderkey = o.o_orderkey
    group by o.o_orderpriority
    """,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over bucketed tables: zero-exchange SortMergeJoin
    (plan-asserted), values identical to the plain join the oracle runs."""
    return bucketed_join(spark, sf_dir)
