"""As-of join — event-time join to the latest dimension version.

The operator Spark lacks natively (pandas ``merge_asof`` / kdb ``aj``):
for every left row, attach the single right row with the same key and
the greatest right timestamp <= the left timestamp (backward-inclusive
as-of). A crawl pipeline hits this constantly — join an event/metrics
stream to the page or profile version *in effect at that moment*, join
a fetch log to the robots snapshot that governed it.

Implemented as the UNION + ORDERED-WINDOW shape, not a range join: tag
right rows, union both sides, sort each key group by (ts, right-first),
and carry the last seen right payload forward with
``last(..., ignorenulls)``. One shuffle on the key and one sort —
O(n log n) per key — where the naive equi-join-then-filter-then-argmax
plan materializes O(|left_k| * |right_k|) candidate pairs per key and
dies on hot keys at 100 TB. No UDF, no collect, no cartesian.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_application_spark.operators.registry import op


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    payload: list[str],
    tolerance: int | None = None,
) -> DataFrame:
    """Backward-inclusive as-of join: all ``left`` columns, plus for each
    left row the ``payload`` columns and ``right_ts`` of the latest
    right row with equal ``on`` key(s) and ``right_ts`` <= ``left_ts``
    (NULLs when no such row). ``tolerance`` (same units as the ts
    columns, e.g. microseconds for the unix_micros convention) bounds
    the lookback: matches older than ``left_ts - tolerance`` null out.

    Semantics pinned by tests/test_asof.py's randomized differential vs
    a pure-Python scan twin:

    * equal timestamps match (right row AT the left ts is visible);
    * several right rows on the same (key, right_ts) resolve
      deterministically to the one with the greatest payload tuple
      (the whole struct is the final sort key);
    * ts columns must share an orderable type — the caller converts
      timestamps to integer microseconds per the cross-engine
      convention (never compare raw floats).

    The right row travels as ONE struct (ts + payload), so genuinely
    NULL payload *fields* inside a matched version survive — only the
    absence of any matching version yields the all-NULL extension.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if not payload:
        raise ValueError("payload must name at least one right column")
    clash = (set(payload) | {right_ts}) & set(left.columns)
    if clash:
        raise ValueError(f"right columns collide with left columns: {sorted(clash)}")
    reserved = {"_ats", "_ar", "_as", "_m", "_ts"} & (
        set(left.columns) | set(keys) | set(payload) | {right_ts}
    )
    if reserved:
        raise ValueError(
            f"column names {sorted(reserved)} are reserved by asof_join's "
            "internal working columns; rename them first"
        )
    if tolerance is not None and int(tolerance) < 0:
        raise ValueError(f"tolerance must be >= 0, got {tolerance}")

    # a version with NULL right_ts is "published at no time": it can
    # never satisfy right_ts <= left_ts, and left un-dropped it would
    # sort NULLS-FIRST into every key group and become a phantom
    # fallback match (payload with vts NULL)
    right = right.filter(F.col(right_ts).isNotNull())
    rstruct = F.struct(F.col(right_ts).alias("_ts"), *[F.col(p) for p in payload])
    rt = right.select(
        *[F.col(c) for c in keys],
        F.col(right_ts).alias("_ats"),
        F.lit(1).alias("_ar"),
        rstruct.alias("_as"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns if c not in keys],
    )
    lt = left.select(
        *[F.col(c) for c in keys],
        F.col(left_ts).alias("_ats"),
        F.lit(0).alias("_ar"),
        F.lit(None).cast(rt.schema["_as"].dataType).alias("_as"),
        *[F.col(c) for c in left.columns if c not in keys],
    )
    # right rows sort before left rows at the same ts (desc on the tag)
    # so the equal-ts version is already visible; the struct tiebreak
    # makes duplicate (key, right_ts) rows resolve deterministically
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_ats").asc(), F.col("_ar").desc(), F.col("_as").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last("_as", ignorenulls=True).over(w)
    out = (
        rt.unionByName(lt)
        .withColumn("_m", matched)
        .filter(F.col("_ar") == 0)
    )
    if tolerance is not None:
        out = out.withColumn(
            "_m",
            F.when(
                F.col("_ats") - F.col("_m._ts") <= int(tolerance), F.col("_m")
            ),
        )
    return out.select(
        *[F.col(c) for c in left.columns],
        F.col("_m._ts").alias(right_ts),
        *[F.col(f"_m.{p}").alias(p) for p in payload],
    )


# deterministic per-user profile history: user u has versions
# v = 0 .. (u mod 3) at ver_ts_us = 2024-01-01T00:00Z micros
# + (u mod 11) days + v * 7 days, payload plan_id = u*10 + v.
# Events span Jan 1-30, so early events precede their user's first
# version (NULL extension exercised) and later ones cross upgrades.
_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_DAY_US = 86_400_000_000

_ASOF_ORACLE = f"""
    with u as (select distinct user_id from events),
    vers as (
      select u.user_id,
             {_EPOCH_US} + (u.user_id % 11) * {_DAY_US}
                         + v.v * 7 * {_DAY_US} as ver_ts_us,
             u.user_id * 10 + v.v as plan_id
      from u join (values (0), (1), (2)) v(v) on v.v <= u.user_id % 3
    ),
    ev as (select event_id, user_id, epoch_us(ts) as ts_us from events),
    cand as (
      select ev.event_id, vers.ver_ts_us, vers.plan_id,
             row_number() over (
               partition by ev.event_id
               order by vers.ver_ts_us desc, vers.plan_id desc) as rn
      from ev join vers on vers.user_id = ev.user_id
                       and vers.ver_ts_us <= ev.ts_us
    )
    select ev.event_id, ev.user_id, ev.ts_us,
           c.ver_ts_us, c.plan_id
    from ev left join (select * from cand where rn = 1) c
      on c.event_id = ev.event_id
    """


@op("events_asof_profile", _ASOF_ORACLE)
def events_asof_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join gate: every event picks up the profile version in
    effect at its timestamp, from a version history synthesized with
    pure user_id arithmetic (identical in both engines). The oracle is
    a DELIBERATELY different formulation — range join + per-event
    argmax — so agreement checks the semantics, not the plan. Compared
    as integer microseconds per the cross-engine convention."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "user_id",
        # NTZ parquet ts -> exact integer micros
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    users = ev.select("user_id").distinct()
    vers = (
        users.select(
            "user_id", F.explode(F.sequence(F.lit(0), (F.col("user_id") % 3).cast("int"))).alias("v")
        )
        .select(
            "user_id",
            (
                F.lit(_EPOCH_US)
                + (F.col("user_id") % 11) * _DAY_US
                + F.col("v") * 7 * _DAY_US
            ).cast("long").alias("ver_ts_us"),
            (F.col("user_id") * 10 + F.col("v")).cast("long").alias("plan_id"),
        )
    )
    return asof_join(
        ev, vers, on="user_id", left_ts="ts_us", right_ts="ver_ts_us",
        payload=["plan_id"],
    )


# --- bin-bucketized interval overlap join ----------------------------------

def interval_overlap_join(
    a: DataFrame,
    b: DataFrame,
    on: list[str],
    a_start: str,
    a_end: str,
    b_start: str,
    b_end: str,
    bucket: int,
) -> DataFrame:
    """Interval overlap join at shuffle-join cost — the bin-bucketized
    range-join plan (the technique behind Databricks' RANGE_JOIN hint;
    vanilla Spark would execute the raw theta predicate as a per-key
    nested loop that dies on hot keys at 100 TB).

    Both sides explode their [start, end] interval (CLOSED, integer
    units — callers use the unix_micros convention) into coarse bins of
    width ``bucket``; the join is a plain equi-join on (*on, bin), so it
    hash-partitions and AQE-skew-splits like any other shuffle join.
    The residual predicate keeps (1) truly overlapping pairs and (2)
    only the CANONICAL bin — the one containing max(a_start, b_start),
    which every overlapping pair shares exactly once — so duplicate
    emission is impossible by construction and no distinct/dedup
    shuffle is ever needed.

    All bin math is integer division (``div``), never float: a double
    s/W near a bin boundary can round across it and silently LOSE a
    pair; ``div`` is exact and identical in both engines for the
    non-negative epoch range. Intervals longer than ``bucket`` emit
    ceil(len/bucket)+1 copies — size ``bucket`` to the typical interval
    length (the recall/cost dial of the plan; correctness never depends
    on it). Start/end columns must be non-negative integers; end >=
    start is required (F.sequence would silently DESCEND otherwise).
    """
    if bucket <= 0:
        raise ValueError(f"bucket must be a positive integer, got {bucket}")

    def bins(s: str, e: str):
        return F.sequence(
            F.expr(f"{s} div {int(bucket)}"), F.expr(f"{e} div {int(bucket)}")
        )

    clash = (set(a.columns) & set(b.columns)) - set(on)
    if clash:
        raise ValueError(f"non-key columns collide across sides: {sorted(clash)}")
    if "_bin" in set(a.columns) | set(b.columns):
        raise ValueError("column name '_bin' is reserved by interval_overlap_join")
    ae = a.withColumn("_bin", F.explode(bins(a_start, a_end)))
    be = b.withColumn("_bin", F.explode(bins(b_start, b_end)))
    canonical = F.expr(
        f"greatest({a_start}, {b_start}) div {int(bucket)}"
    )
    return (
        ae.join(be, [*on, "_bin"])
        .where(
            (F.col(a_start) <= F.col(b_end))
            & (F.col(b_start) <= F.col(a_end))
            & (F.col("_bin") == canonical)
        )
        .drop("_bin")
    )


# click attention window: 2 h; view dwell window: 90 min — the bins
# are sized to the longer one so each interval spans at most 2 bins
# (lengths chosen so the sf0.01 fixture yields ~150 pairs — enough to
# exercise the canonical-bin dedup across bin boundaries)
_OVL_A_US = 7_200_000_000
_OVL_B_US = 5_400_000_000

_OVERLAP_ORACLE = f"""
    with e as (
      select event_id, user_id, event_type, epoch_us(ts) as us from events
    ),
    a as (
      select event_id as a_id, user_id, us as a_s, us + {_OVL_A_US} as a_e
      from e where event_type = 'click'
    ),
    b as (
      select event_id as b_id, user_id, us as b_s, us + {_OVL_B_US} as b_e
      from e where event_type = 'view'
    )
    select a.user_id, a_id, b_id,
           least(a_e, b_e) - greatest(a_s, b_s) as overlap_us
    from a join b on a.user_id = b.user_id
                 and a.a_s <= b.b_e and b.b_s <= a.a_e
"""


@op("events_interval_overlap", _OVERLAP_ORACLE)
def events_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for :func:`interval_overlap_join`: every (click-attention,
    view-dwell) interval pair per user that overlaps in time, with the
    exact integer overlap length. The oracle is the raw theta join —
    a DELIBERATELY different plan (fine at sf, fatal at scale), so
    agreement proves the bucketized rewrite loses and invents nothing.
    """
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    a = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("a_id"),
        "user_id",
        F.col("us").alias("a_s"),
        (F.col("us") + _OVL_A_US).alias("a_e"),
    )
    b = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("b_id"),
        "user_id",
        F.col("us").alias("b_s"),
        (F.col("us") + _OVL_B_US).alias("b_e"),
    )
    pairs = interval_overlap_join(
        a, b, on=["user_id"], a_start="a_s", a_end="a_e",
        b_start="b_s", b_end="b_e", bucket=_OVL_A_US,
    )
    return pairs.select(
        "user_id",
        "a_id",
        "b_id",
        (
            F.least(F.col("a_e"), F.col("b_e"))
            - F.greatest(F.col("a_s"), F.col("b_s"))
        ).alias("overlap_us"),
    )
