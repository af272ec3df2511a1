"""Per-group distribution statistics — exact percentiles and rollups.

``group_percentiles`` is the EXACT nearest-rank percentile (the value
at rank ``ceil(p*n/100)`` of the ascending sort), chosen over Spark's
interpolating ``percentile``/approximating ``percentile_approx``
because it is integer-exact by spec: rank arithmetic is
``(p*n + 99) div 100`` in int64 and the selected value is an element
OF the data (never a synthetic interpolation), so the result is
bit-identical across engines and tie orders — equal values make the
rank-r element unique even though row numbering among ties is
arbitrary. At 100 TB the exact op is one sort-shuffle per group (the
honest cost of exact order statistics); ``percentile_approx`` is the
documented approximate escape hatch when that sort is too expensive
(not oracle-able: its GK-sketch internals are engine-private, the same
reason sketches.py uses KMV over HLL++).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_application_spark.operators.registry import op


def group_percentiles(
    df: DataFrame, group: str, value: str, pcts: list[int] = (50, 90, 99)
) -> DataFrame:
    """(group, pct, value) rows: for each percentile p in ``pcts``, the
    nearest-rank order statistic of ``value`` within each group (NULL
    values excluded — they have no rank). One exchange on the group key;
    row_number and the group count share the same window partitioning,
    and the tiny pct list explodes AFTER the windows so the sort pays
    once."""
    pcts = [int(p) for p in pcts]
    if not pcts or any(not 1 <= p <= 100 for p in pcts):
        raise ValueError(f"pcts must be non-empty, each in [1, 100]: {pcts}")
    if len(set(pcts)) != len(pcts):
        raise ValueError(f"duplicate percentiles: {pcts}")
    reserved = {"_rn", "_n", "pct"} & {group, value}
    if reserved:
        # withColumn would silently REPLACE a user column of the same
        # name with the working rank/count (wrong values, no error)
        raise ValueError(
            f"column names {sorted(reserved)} are reserved by "
            "group_percentiles' working columns; rename them first"
        )
    wo = Window.partitionBy(group).orderBy(value)
    wc = Window.partitionBy(group)
    return (
        df.select(group, value)
        .filter(F.col(value).isNotNull())
        .withColumn("_rn", F.row_number().over(wo))
        .withColumn("_n", F.count("*").over(wc))
        .select(
            group,
            F.explode(F.array(*[F.lit(p) for p in pcts])).alias("pct"),
            F.col("_rn"),
            F.col("_n"),
            F.col(value),
        )
        .filter(F.expr("_rn = (pct * _n + 99) div 100"))
        .select(group, "pct", value)
    )


_PCT_ORACLE = """
    with ranked as (
      select source, n_chars,
             row_number() over (partition by source order by n_chars) as rn,
             count(*) over (partition by source) as n
      from documents where n_chars is not null
    ),
    pcts as (select unnest([50, 90, 99]) as pct)
    select r.source, cast(p.pct as int) as pct, r.n_chars
    from ranked r join pcts p on r.rn = (p.pct * r.n + 99) // 100
    """


@op("group_percentiles_chars", _PCT_ORACLE)
def group_percentiles_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length p50/p90/p99 per source — the corpus-quality
    distribution card. Integer column, integer rank arithmetic: the
    oracle must match bit-for-bit."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return group_percentiles(docs, "source", "n_chars", [50, 90, 99])


# floor(value*100) -> cents: one IEEE multiply + floor, identical in
# both engines. (A double->bigint CAST would diverge: Spark truncates
# toward zero, DuckDB rounds half-even.)
_ROLLUP_ORACLE = """
    select strftime(ts, '%Y-%m-%d') as day, event_type,
           cast(count(*) as bigint) as n_events,
           cast(sum(cast(floor(value * 100) as bigint)) as bigint) as cents,
           cast(grouping(strftime(ts, '%Y-%m-%d'))
                + 2 * grouping(event_type) as bigint) as gid
    from events
    group by rollup (strftime(ts, '%Y-%m-%d'), event_type)
    """


@op("events_rollup_daily", _ROLLUP_ORACLE)
def events_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP demonstrator: (day, type) -> (day) -> grand-total event
    counts and cent-exact value sums in one pass (Spark expands the
    grouping sets inside a single aggregate — no self-union). gid
    disambiguates NULL-as-data from NULL-as-subtotal. Money through
    integer cents per the cross-engine invariant."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("day"),
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    return ev.rollup("day", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("v_cents").alias("cents"),
        # Spark's grouping_id() bit order is (first col = MSB); rebuild
        # the oracle's explicit grouping(day) + 2*grouping(event_type)
        (F.grouping("day") + F.grouping("event_type") * 2)
        .cast("long")
        .alias("gid"),
    )
