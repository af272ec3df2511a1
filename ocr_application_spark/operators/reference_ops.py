"""SURVEY §2 operators (F/W/J/A) as DataFrame ops with DuckDB oracles.

Each operator is the Spark-first re-expression of a reference behavior
(file:line cited per function) over the deterministic fixtures in
``fixtures.py``. The paired SQL string in ``ORACLES`` is run by the
driver on DuckDB; names/aliases match column-for-column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_application_spark.operators.fixtures import (
    REGIONS_CTE,
    TABLES_CTE,
    regions,
    tables,
)
from ocr_application_spark.operators.registry import op

_DEC = "decimal(18,2)"


# --- F1+F3+F4+F5: record-level filter chain --------------------------------
@op(
    "f_record_filters",
    f"""
    with {REGIONS_CTE}
    select doc_id, region_id, text, conf
    from regions
    where conf >= 0.7
      and not regexp_matches(text, '[؀-ۿ]')
      and length(text) >= 2
      and (x1 - x0) >= 15 and (y1 - y0) >= 10
      and (x1 - x0) * (y1 - y0) >= 150
    """,
)
def f_record_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 conf>=0.7 (layout_detector.py:258), F3 Arabic drop (:260),
    F4 len>=2 (:262), F5 geometry (config.py:19-21). Pure built-ins —
    Catalyst reorders the predicate chain and pushes what it can to the
    scan; no UDF anywhere."""
    r = regions(spark, sf_dir)
    return r.filter(
        (F.col("conf") >= 0.7)
        & (~F.col("text").rlike("[؀-ۿ]"))
        & (F.length("text") >= 2)
        & ((F.col("x1") - F.col("x0")) >= 15)
        & ((F.col("y1") - F.col("y0")) >= 10)
        & ((F.col("x1") - F.col("x0")) * (F.col("y1") - F.col("y0")) >= 150)
    ).select("doc_id", "region_id", "text", "conf")


# --- F6: field-name keyword classifier filter -------------------------------
@op(
    "f6_field_keywords",
    """
    select p_partkey, p_name
    from part
    where (contains(upper(p_name), 'RED') or contains(upper(p_name), 'BLUE')
           or contains(upper(p_name), 'SMALL') or contains(upper(p_name), 'HOT'))
      and not contains(upper(p_name), 'COPPER')
      and length(p_name) <= 50
      and length(p_name) - length(replace(p_name, ' ', '')) + 1 <= 6
    """,
)
def f6_field_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: keyword allow-list + banned-phrase deny-list + word-count<=6 +
    len<=50 (layout_detector.py:143-171), as chained built-in predicates.
    Word count via length arithmetic (portable, no regex dialects)."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    up = F.upper(F.col("p_name"))
    wc = F.length("p_name") - F.length(F.replace(F.col("p_name"), F.lit(" "), F.lit(""))) + 1
    allow = (
        up.contains("RED") | up.contains("BLUE") | up.contains("SMALL") | up.contains("HOT")
    )
    return (
        p.filter(allow & ~up.contains("COPPER") & (F.length("p_name") <= 50) & (wc <= 6))
        .select("p_partkey", "p_name")
    )


# --- W1: reading-order text reassembly --------------------------------------
@op(
    "w1_reading_order",
    f"""
    with {REGIONS_CTE}
    select doc_id,
           string_agg(text, ' ' order by y0, x0, region_id, text) as reading_text
    from regions
    group by doc_id
    """,
)
def w1_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: sort regions by (y, x) and reassemble text per document
    (structurer.py:46-49) — the core of bounding-box-ordered text. Done
    shuffle-once with sort_array(collect_list(struct)) so no window +
    second agg pass; explicit region_id tie-breaker keeps it
    deterministic under parallel collection."""
    r = regions(spark, sf_dir)
    packed = F.array_sort(
        F.collect_list(F.struct(F.col("y0"), F.col("x0"), F.col("region_id"), F.col("text")))
    )
    return (
        r.groupBy("doc_id")
        .agg(
            F.array_join(F.transform(packed, lambda s: s.text), " ").alias("reading_text")
        )
    )


# --- W2: gap-based line sessionization ---------------------------------------
@op(
    "w2_line_sessionize",
    f"""
    with {REGIONS_CTE},
    cy as (
      select doc_id, region_id, x0,
             cast(y0 + y1 as double) / 2.0 as cy
      from regions
    ),
    gaps as (
      select doc_id, region_id, cy, x0,
             case when lag(cy) over w is null then 1
                  when cy - lag(cy) over w > 15.0 then 1 else 0 end as new_line
      from cy
      window w as (partition by doc_id order by cy, x0, region_id)
    )
    select doc_id, region_id,
           cast(sum(new_line) over (partition by doc_id
                                    order by cy, x0, region_id
                                    rows unbounded preceding) as bigint) as line_id
    from gaps
    """,
)
def w2_line_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: new line when the y-center gap exceeds 15px
    (layout_detector.py:371-424, tolerance config.py:22) — classic
    lag + running-sum sessionization, one shuffle on doc_id reused by
    both window passes (same partition key)."""
    r = regions(spark, sf_dir).withColumn(
        "cy", (F.col("y0") + F.col("y1")).cast("double") / 2.0
    )
    w = Window.partitionBy("doc_id").orderBy("cy", "x0", "region_id")
    gaps = r.withColumn(
        "new_line",
        F.when(F.lag("cy").over(w).isNull(), 1)
        .when(F.col("cy") - F.lag("cy").over(w) > 15.0, 1)
        .otherwise(0),
    )
    w2 = (
        Window.partitionBy("doc_id")
        .orderBy("cy", "x0", "region_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return gaps.select(
        "doc_id", "region_id", F.sum("new_line").over(w2).alias("line_id")
    )


# --- W3: top-k by area per document ------------------------------------------
@op(
    "w3_topk_area",
    f"""
    with {REGIONS_CTE}
    select doc_id, region_id, area, rn from (
      select doc_id, region_id, (x1 - x0) * (y1 - y0) as area,
             row_number() over (partition by doc_id
                                order by (x1 - x0) * (y1 - y0) desc, region_id) as rn
      from regions) t
    where rn <= 3
    """,
)
def w3_topk_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: sort contours by area desc, keep top-k
    (layout_detector.py:107). WindowGroupLimit prunes to k rows per key
    before the sort completes at scale."""
    r = regions(spark, sf_dir).withColumn(
        "area", (F.col("x1") - F.col("x0")) * (F.col("y1") - F.col("y0"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("area"), "region_id")
    return (
        r.select("doc_id", "region_id", "area", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


# --- W4: top-1 argmax over a score vector -------------------------------------
@op(
    "w4_top1_argmax",
    """
    select vec_id,
           list_indexof(embedding, list_aggregate(embedding, 'max')) as top_idx,
           cast(list_aggregate(embedding, 'max') as double) as top_val
    from embeddings
    """,
)
def w4_top1_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: probs.top1 + confidence (classifier.py:22-24) as pure array
    ops — array_position(arr, array_max(arr)), no UDF, fully codegen'd."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return e.select(
        "vec_id",
        F.array_position(F.col("embedding"), F.array_max("embedding"))
        .cast("bigint")
        .alias("top_idx"),
        F.array_max("embedding").cast("double").alias("top_val"),
    )


# --- J1: fuzzy similarity join (broadcast + top-1 + threshold) ----------------
@op(
    "j1_fuzzy_catalog_match",
    """
    with probe as (select p_partkey, p_name from part where p_partkey % 20 = 11),
    catalog as (select p_partkey as cat_key, p_name as cat_name from part where p_partkey % 20 = 1),
    scored as (
      select p.p_partkey, p.p_name, c.cat_name,
             round(100.0 * (1.0 - cast(levenshtein(p.p_name, c.cat_name) as double)
                   / greatest(length(p.p_name), length(c.cat_name))), 2) as score,
             row_number() over (partition by p.p_partkey
                                order by 100.0 * (1.0 - cast(levenshtein(p.p_name, c.cat_name) as double)
                                          / greatest(length(p.p_name), length(c.cat_name))) desc,
                                         c.cat_name) as rn
      from probe p cross join catalog c
    )
    select p_partkey, p_name,
           case when score >= 60.0 then cat_name else null end as matched_name,
           case when score >= 60.0 then score else null end as match_score
    from scored where rn = 1
    """,
)
def j1_fuzzy_catalog_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: the reference's only real join — fuzzywuzzy extractOne of each
    invoice med name against a catalog, accept >= threshold else null
    (tarification_pipeline.py:159-199, threshold :168). Spark-first:
    broadcast nested-loop theta join + levenshtein score + row_number
    top-1 + left-outer-via-null — the catalog (small dimension) ships to
    every executor exactly like the meds CSV should have."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    probe = p.filter(F.col("p_partkey") % 20 == 11).select("p_partkey", "p_name")
    cat = (
        p.filter(F.col("p_partkey") % 20 == 1)
        .select(F.col("p_partkey").alias("cat_key"), F.col("p_name").alias("cat_name"))
    )
    la, lb = F.length("p_name"), F.length("cat_name")
    # a sub-threshold candidate can never surface (both output columns
    # null out below 60), so pairs provably below threshold are pruned
    # BEFORE the levenshtein + window: the integer length bound
    # (lev >= |la-lb|) is a safe superset of score >= 60, and lines
    # whose candidates all fall below rejoin by left-join null-extension
    # — the window ingests only >=60 pairs instead of |catalog|x rows
    # (same scale shape as analytics/tarification.fuzzy_match_catalog)
    length_bound = 100 * F.abs(la - lb) <= 40 * F.greatest(la, lb) + 100
    lev = F.levenshtein(F.col("p_name"), F.col("cat_name"))
    # extractOne maximizes the length-normalized ratio, not raw distance;
    # the unrounded ratio is a division of identical ints -> cross-engine
    # stable order; the exposed score rounds to 2dp like the reference
    score_raw = 100.0 * (1.0 - lev.cast("double") / F.greatest(la, lb))
    w = Window.partitionBy("p_partkey").orderBy(F.desc(score_raw), F.col("cat_name"))
    top1 = (
        probe.join(F.broadcast(cat), length_bound)
        .withColumn("score_raw", score_raw)
        # threshold applies to the ROUNDED score (59.996 -> 60.00 passes,
        # matching the oracle's round-then-compare); ordering stays raw
        .filter(F.round(F.col("score_raw"), 2) >= 60.0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey",
            F.col("cat_name").alias("matched_name"),
            F.round(F.col("score_raw"), 2).alias("match_score"),
        )
    )
    return probe.join(top1, "p_partkey", "left").select(
        "p_partkey", "p_name", "matched_name", "match_score"
    )


# --- J3: box-inside-table range anti-join -------------------------------------
@op(
    "j3_region_table_antijoin",
    f"""
    with {REGIONS_CTE},
    {TABLES_CTE}
    select r.doc_id, r.region_id from regions r
    where not exists (
      select 1 from tables t
      where t.doc_id = r.doc_id
        and cast(r.x0 + r.x1 as double) / 2.0 between t.tx0 and t.tx1
        and cast(r.y0 + r.y1 as double) / 2.0 between t.ty0 and t.ty1)
    """,
)
def j3_region_table_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: exclude text boxes whose center falls inside any detected
    table bbox (layout_detector.py:426-451, applied :497) — a range
    anti-join: equi on doc_id + between predicates, so Spark executes a
    hash anti-join on doc_id with the range as a residual filter (no
    cartesian)."""
    r = regions(spark, sf_dir)
    t = tables(spark, sf_dir)
    cx = (F.col("x0") + F.col("x1")).cast("double") / 2.0
    cy = (F.col("y0") + F.col("y1")).cast("double") / 2.0
    cond = (
        (r.doc_id == t.doc_id)
        & cx.between(F.col("tx0"), F.col("tx1"))
        & cy.between(F.col("ty0"), F.col("ty1"))
    )
    return r.join(t, cond, "left_anti").select("doc_id", "region_id")


# --- J4: IoU>0.5 overlap dedup -------------------------------------------------
_IOU_ORACLE_BODY = """
    select a.doc_id, a.region_id from regions a
    where not exists (
      select 1 from regions b
      where b.doc_id = a.doc_id and b.region_id < a.region_id
        and cast(greatest(0, least(a.x1, b.x1) - greatest(a.x0, b.x0))
                 * greatest(0, least(a.y1, b.y1) - greatest(a.y0, b.y0)) as double)
            / ((a.x1-a.x0)*(a.y1-a.y0) + (b.x1-b.x0)*(b.y1-b.y0)
               - greatest(0, least(a.x1, b.x1) - greatest(a.x0, b.x0))
                 * greatest(0, least(a.y1, b.y1) - greatest(a.y0, b.y0))) > 0.5)
"""


@op(
    "j4_iou_dedup",
    f"""
    with {REGIONS_CTE}
    {_IOU_ORACLE_BODY}
    """,
)
def j4_iou_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: drop a box if IoU>0.5 with any already-accepted box
    (layout_detector.py:217-233, extraction_service/app/ocr/utils.py:12-23).
    Canonical order = region_id asc (paddle-before-craft analog of
    layout_detector.py:494), so 'accepted' = lower region_id: a
    doc_id-equi self-anti-join with the IoU predicate as residual —
    per-document work only, never cross-document."""
    a = regions(spark, sf_dir).alias("a")
    b = regions(spark, sf_dir).alias("b")
    ax0, ax1, ay0, ay1 = (F.col(f"a.{c}") for c in ("x0", "x1", "y0", "y1"))
    bx0, bx1, by0, by1 = (F.col(f"b.{c}") for c in ("x0", "x1", "y0", "y1"))
    iw = F.greatest(F.lit(0), F.least(ax1, bx1) - F.greatest(ax0, bx0))
    ih = F.greatest(F.lit(0), F.least(ay1, by1) - F.greatest(ay0, by0))
    inter = iw * ih
    union = (ax1 - ax0) * (ay1 - ay0) + (bx1 - bx0) * (by1 - by0) - inter
    cond = (
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("b.region_id") < F.col("a.region_id"))
        & (inter.cast("double") / union > 0.5)
    )
    return a.join(b, cond, "left_anti").select("a.doc_id", "a.region_id")


# --- A1+A2: totals + ratio-of-sums --------------------------------------------
@op(
    "a1_a2_tarification_totals",
    """
    select cast(sum(cast(l_extendedprice as decimal(18,2))) as double) as total_facture,
           cast(sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(18,2)))) as double) as total_rembourse,
           case when sum(cast(l_extendedprice as decimal(18,2))) > 0 then
             round(100.0 * cast(sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(18,2)))) as double)
                   / cast(sum(cast(l_extendedprice as decimal(18,2))) as double), 2)
           else null end as taux_couverture
    from lineitem
    """,
)
def a1_a2_tarification_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 sum totals + A2 ratio-of-sums with zero guard
    (tarification_pipeline.py:205-207). Decimal-exact sums, double only
    at the surface."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    f_sum = F.sum(F.col("l_extendedprice").cast(_DEC))
    r_sum = F.sum(F.col("l_extendedprice").cast(_DEC) * (F.lit(1) - F.col("l_discount").cast(_DEC)))
    return li.agg(
        f_sum.cast("double").alias("total_facture"),
        r_sum.cast("double").alias("total_rembourse"),
        F.when(
            f_sum > 0, F.round(100.0 * r_sum.cast("double") / f_sum.cast("double"), 2)
        ).alias("taux_couverture"),
    )


# --- A3: mean excluding zeros ---------------------------------------------------
@op(
    "a3_mean_nonzero",
    """
    select cast(sum(case when l_discount != 0 then cast(l_discount as decimal(18,2)) end) as double)
             / count(case when l_discount != 0 then 1 end) as mean_nonzero_discount,
           count(case when l_discount != 0 then 1 end) as n_nonzero
    from lineitem
    """,
)
def a3_mean_nonzero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: mean with zero->NA (tarification_pipeline.py:229) — null-skip
    avg via when(); exact decimal sum / bigint count, divided as doubles
    so both engines agree bit-for-bit."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    nz = F.when(F.col("l_discount") != 0, F.col("l_discount").cast(_DEC))
    cnt = F.count(F.when(F.col("l_discount") != 0, F.lit(1)))
    return li.agg(
        (F.sum(nz).cast("double") / cnt).alias("mean_nonzero_discount"),
        cnt.alias("n_nonzero"),
    )


# --- F11: JSON-block regex extraction --------------------------------------------
@op(
    "f11_json_block_extract",
    r"""
    with raw as (
      select l_orderkey as doc_id, l_linenumber as line_id,
             'model says: ```json {"mont": ' || cast(l_partkey as varchar)
               || ', "qte": ' || cast(cast(l_quantity as int) as varchar)
               || '} ``` end' as reply
      from lineitem
    ),
    blk as (
      select doc_id, line_id,
             regexp_extract(reply, '```json\s*(\{.*?\})\s*```', 1) as block
      from raw
    )
    select doc_id, line_id,
           cast(json_extract(block, '$.mont') as bigint) as montant,
           cast(json_extract(block, '$.qte') as int) as quantite
    from blk
    """,
)
def f11_json_block_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: pull the ```json {...}``` block out of freeform model output
    with a regex, then parse it against a fixed schema
    (tarification_pipeline.py:138-142) — regexp_extract + from_json,
    both codegen'd built-ins; the fixture reply string is rebuilt
    identically in both engines from lineitem columns."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    reply = F.concat(
        F.lit('model says: ```json {"mont": '),
        F.col("l_partkey").cast("string"),
        F.lit(', "qte": '),
        F.col("l_quantity").cast("int").cast("string"),
        F.lit("} ``` end"),
    )
    block = F.regexp_extract(reply, r"```json\s*(\{.*?\})\s*```", 1)
    parsed = F.from_json(block, "mont bigint, qte int")
    # parse once, THEN project fields: two field references on the same
    # from_json expression in one projection duplicate the parse subtree
    # (regex + JSON decode per field — measured 37x slower); CollapseProject
    # keeps a non-cheap multi-referenced alias in its own projection
    return li.select(
        F.col("l_orderkey").alias("doc_id"),
        F.col("l_linenumber").alias("line_id"),
        parsed.alias("p"),
    ).select(
        "doc_id",
        "line_id",
        F.col("p")["mont"].alias("montant"),
        F.col("p")["qte"].alias("quantite"),
    )


# --- A4: monthly group-by sum ----------------------------------------------------
@op(
    "a4_monthly_sums",
    """
    select strftime(date_trunc('month', ts), '%Y-%m-%d') as month,
           cast(sum(cast(value as decimal(18,2))) as double) as month_value,
           count(*) as n_events
    from events
    group by 1
    """,
)
def a4_monthly_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: groupby(period('M')).sum (tarification_pipeline.py:245-249) as
    date_trunc + agg — partial aggregation makes the shuffle O(months)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.date_format(F.date_trunc("month", "ts"), "yyyy-MM-dd").alias("month"))
        .agg(
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("month_value"),
            F.count("*").alias("n_events"),
        )
    )


# --- A5: count metrics (lineage analog) -------------------------------------------
@op(
    "a5_corpus_counts",
    """
    select lang, source, count(*) as n_docs,
           cast(sum(n_chars) as bigint) as total_chars
    from documents group by lang, source
    """,
)
def a5_corpus_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: len(tables)/len(lines) observability counters
    (layout_detection_service/app/main.py:29-35) generalized to corpus
    metrics — the same shape our lineage table aggregates."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


# --- A6: per-line bounding-box aggregate --------------------------------------------
@op(
    "a6_doc_bbox",
    f"""
    with {REGIONS_CTE}
    select doc_id, min(x0) as bb_x0, min(y0) as bb_y0,
           max(x1) as bb_x1, max(y1) as bb_y1, count(*) as n_boxes
    from regions group by doc_id
    """,
)
def a6_doc_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-group min/max bounding box (layout_detector.py:505-512)."""
    r = regions(spark, sf_dir)
    return r.groupBy("doc_id").agg(
        F.min("x0").alias("bb_x0"),
        F.min("y0").alias("bb_y0"),
        F.max("x1").alias("bb_x1"),
        F.max("y1").alias("bb_y1"),
        F.count("*").alias("n_boxes"),
    )


# --- J2: label<->value spatial pairing ------------------------------------------
@op(
    "j2_label_value_pairing",
    f"""
    with {REGIONS_CTE},
    labels as (
      select doc_id, region_id as lid, text as label_text,
             x1 as lx1, cast(y0 + y1 as double) / 2.0 as lcy
      from regions where region_id % 2 = 1
    ),
    vals as (
      select doc_id, region_id as vid, text as value_text,
             x0 as vx0, cast(y0 + y1 as double) / 2.0 as vcy
      from regions
    ),
    cand as (
      select l.doc_id, l.lid, l.label_text, v.vid, v.value_text,
             row_number() over (partition by l.doc_id, l.lid
                                order by v.vx0 - l.lx1, v.vid) as rn
      from labels l join vals v
        on v.doc_id = l.doc_id and v.vid != l.lid
       and abs(v.vcy - l.lcy) <= 15.0 and v.vx0 >= l.lx1
    )
    select l.doc_id, l.lid as label_region_id, l.label_text,
           c.vid as value_region_id, c.value_text
    from labels l left join (select * from cand where rn = 1) c
      on c.doc_id = l.doc_id and c.lid = l.lid
    """,
)
def j2_label_value_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: pair each field label with the nearest value region to its
    right on the same line (the deterministic replacement for the
    reference's llama3 spatial-pairing prompt, structurer.py:61-100,
    rules :91-97) — an as-of/range join: equi on doc_id, band predicate
    on line proximity, nearest-right pick via top-1 window, left-outer
    so unmatched labels survive with null values."""
    r = regions(spark, sf_dir)
    cy = (F.col("y0") + F.col("y1")).cast("double") / 2.0
    labels = r.filter(F.col("region_id") % 2 == 1).select(
        "doc_id",
        F.col("region_id").alias("lid"),
        F.col("text").alias("label_text"),
        F.col("x1").alias("lx1"),
        cy.alias("lcy"),
    )
    vals = r.select(
        F.col("doc_id").alias("v_doc_id"),
        F.col("region_id").alias("vid"),
        F.col("text").alias("value_text"),
        F.col("x0").alias("vx0"),
        cy.alias("vcy"),
    )
    cand = (
        labels.join(
            vals,
            (F.col("v_doc_id") == F.col("doc_id"))
            & (F.col("vid") != F.col("lid"))
            & (F.abs(F.col("vcy") - F.col("lcy")) <= 15.0)
            & (F.col("vx0") >= F.col("lx1")),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id", "lid").orderBy(
                    F.col("vx0") - F.col("lx1"), F.col("vid")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "lid", "vid", "value_text")
    )
    return (
        labels.select("doc_id", "lid", "label_text")
        .join(cand, ["doc_id", "lid"], "left")
        .select(
            "doc_id",
            F.col("lid").alias("label_region_id"),
            "label_text",
            F.col("vid").alias("value_region_id"),
            "value_text",
        )
    )


# --- F7: table-size filter --------------------------------------------------------
@op(
    "f7_table_size_filter",
    f"""
    with {TABLES_CTE}
    select doc_id, tx0, ty0, tx1, ty1
    from tables
    where cast((tx1 - tx0) * (ty1 - ty0) as double) / (1000.0 * 800.0) < 0.9
    """,
)
def f7_table_size_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: drop detected 'tables' covering >= 90% of the page area
    (layout_detector.py:474-483) — a false-positive full-page grid is not
    a table. Pure column arithmetic against the page dimensions."""
    t = tables(spark, sf_dir)
    area_ratio = ((F.col("tx1") - F.col("tx0")) * (F.col("ty1") - F.col("ty0"))).cast(
        "double"
    ) / (1000.0 * 800.0)
    return t.filter(area_ratio < 0.9).select("doc_id", "tx0", "ty0", "tx1", "ty1")
