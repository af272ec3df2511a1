"""Driver-gate query for the END-TO-END tarification chain.

The golden pytest (tests/test_tarification.py) checks the chain on a
hand-written fixture; this module puts the same production composition —
S9 catalog parse (comma decimals) -> J1 fuzzy match -> per-line
tarification -> A1/A2 totals -> A3 reserve -> A4 monthly rollup
(reference flow: Tarification_service isoler/app/main.py:40-123) —
under the driver's DuckDB oracle as ONE query over a deterministic
fixture derived from the ``part`` table.

Cross-engine exactness: catalog prices are built as integer cents and
formatted to comma-decimal STRINGS with integer ops (never double->
string formatting, which differs between engines); all money flows
through DECIMAL; the fuzzy score is a division of identical ints; the
reserve mean is sum(decimal)/count (see analytics/tarification).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op
from ocr_application_spark.session import bounded_cache

_DEC = "decimal(18,5)"

# catalog price in cents: deterministic, strictly positive
_CENTS_SQL = "(p_partkey % 1000 + 100)"
_REMB_CENTS_SQL = f"((p_partkey * 7) % {_CENTS_SQL})"


def _comma_str_sql(cents: str) -> str:
    return (
        f"cast({cents} // 100 as varchar) || ',' || "
        f"lpad(cast({cents} % 100 as varchar), 2, '0')"
    )


_ORACLE = f"""
    with lines as (
      select 'inv://' || cast(p_partkey % 7 as varchar) as url,
             cast(p_partkey as int) as line_id,
             p_name as nom,
             case when p_partkey % 3 = 0 then null
                  else cast(p_partkey % 5 + 1 as int) end as quantite,
             cast(p_retailprice as double) as prix_total,
             printf('%02d/%02d/2023', cast(p_partkey % 28 + 1 as int),
                    cast(p_partkey % 12 + 1 as int)) as date_facture
      from part where p_partkey % 20 = 11
    ),
    cat_raw as (
      -- the partkey suffix makes cat_name UNIQUE: p_name values repeat
      -- across partkeys, and two identical names with different prices
      -- would leave the top-1 tie-break (score desc, cat_name) non-total
      -- -> engine-dependent row choice
      select p_name || ' ' || cast(p_partkey as varchar) as name,
             {_comma_str_sql(_CENTS_SQL)} as price,
             {_comma_str_sql(_REMB_CENTS_SQL)} as remboursement
      from part where p_partkey % 20 = 1
    ),
    catalog as (
      select lower(trim(name)) as cat_name,
             cast(replace(trim(price), ',', '.') as double) as cat_price,
             cast(replace(trim(remboursement), ',', '.') as double)
               as cat_remboursement
      from cat_raw
    ),
    scored as (
      select l.*, c.cat_name, c.cat_remboursement,
             100.0 * (1.0
               - cast(levenshtein(lower(trim(l.nom)), c.cat_name) as double)
                 / greatest(length(lower(trim(l.nom))), length(c.cat_name)))
               as match_score,
             row_number() over (
               partition by l.url, l.line_id
               order by 100.0 * (1.0
                 - cast(levenshtein(lower(trim(l.nom)), c.cat_name) as double)
                   / greatest(length(lower(trim(l.nom))), length(c.cat_name)))
                 desc, c.cat_name) as rn
      from lines l cross join catalog c
    ),
    tarified as (
      select url, line_id, quantite, prix_total, date_facture,
             case when match_score >= 90.0 then cat_name end as matched_name,
             case when match_score >= 90.0 then cat_remboursement end
               as remboursement_unitaire
      from scored where rn = 1
    ),
    tar2 as (
      select *,
             cast(cast(coalesce(quantite, 1) as decimal(18,5))
                  * cast(remboursement_unitaire as decimal(18,5)) as double)
               as remboursement_total
      from tarified
    ),
    fsums as (
      select sum(cast(prix_total as decimal(18,5))) as f,
             sum(cast(remboursement_total as decimal(18,5))) as r,
             count(*) as n_lignes,
             count(matched_name) as n_matched
      from tar2
    ),
    summary as (
      select cast(f as double) as total_facture,
             cast(r as double) as total_rembourse,
             case when f > 0
                  then round(100.0 * cast(r as double) / cast(f as double), 2)
             end as taux_couverture,
             n_lignes, n_matched
      from fsums
    ),
    rstats as (
      select sum(case when remboursement_total is not null
                       and remboursement_total != 0
                      then cast(remboursement_total as decimal(18,5)) end) as s,
             count(case when remboursement_total is not null
                         and remboursement_total != 0 then 1 end) as n
      from tar2
    ),
    reserve as (
      select case when n > 0 then cast(s as double) / n end
               as mean_remboursement,
             case when n > 0 then (cast(s as double) / n * n) * 1.1 end
               as reserve_simple
      from rstats
    ),
    monthly as (
      select strftime(date_trunc('month', strptime(date_facture, '%d/%m/%Y')),
                      '%Y-%m-%d') as mois,
             sum(cast(remboursement_total as decimal(18,5))) as total_mois
      from tar2 where remboursement_total is not null
      group by 1
    ),
    mstats as (
      select count(*) as n_months, min(mois) as first_mois,
             max(mois) as last_mois,
             cast(sum(total_mois) as double) as total_all_months
      from monthly
    )
    select s.*, r.*, m.*
    from summary s cross join reserve r cross join mstats m
"""


def _fixture_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    k = F.col("p_partkey")
    return p.filter(k % 20 == 11).select(
        F.concat(F.lit("inv://"), (k % 7).cast("string")).alias("url"),
        k.cast("int").alias("line_id"),
        F.col("p_name").alias("nom"),
        F.when(k % 3 == 0, F.lit(None))
        .otherwise(k % 5 + 1)
        .cast("int")
        .alias("quantite"),
        F.col("p_retailprice").cast("double").alias("prix_total"),
        F.format_string(
            "%02d/%02d/2023", (k % 28 + 1).cast("int"), (k % 12 + 1).cast("int")
        ).alias("date_facture"),
    )


def _fixture_catalog_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    k = F.col("p_partkey")
    cents = k % 1000 + 100
    remb_cents = (k * 7) % cents

    def comma(c):
        # integer cents -> 'units,cc' string: NEVER double->string
        # formatting, which is engine-specific
        return F.concat(
            F.floor(c / 100).cast("long").cast("string"),
            F.lit(","),
            F.lpad((c % 100).cast("string"), 2, "0"),
        )

    # partkey suffix -> unique cat_name (see oracle comment)
    return p.filter(k % 20 == 1).select(
        F.concat(F.col("p_name"), F.lit(" "), k.cast("string")).alias("name"),
        comma(cents).alias("price"),
        comma(remb_cents).alias("remboursement"),
    )


def tarification_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production chain end-to-end, one row out: parse_catalog (S9)
    -> tarify (J1 + enrich) -> summarize (A1/A2) x reserve_estimate (A3)
    x monthly_series rollup stats (A4)."""
    from ocr_application_spark.analytics.tarification import (
        monthly_series,
        parse_catalog,
        reserve_estimate,
        summarize,
        tarify,
    )

    lines = _fixture_lines(spark, sf_dir)
    catalog = parse_catalog(_fixture_catalog_raw(spark, sf_dir))
    # three aggregate branches consume tarified; persist so the fuzzy
    # join + top-1 window run once, not per branch (the cached set is a
    # few thousand matched lines, not the pair fan-out). The slot frees
    # the previous call's copy: the returned plan references it, so
    # nothing else would, and a long-lived session would keep one per call
    tarified = bounded_cache(tarify(lines, catalog), "tarification_pipeline")
    ms = monthly_series(tarified).agg(
        F.count("*").alias("n_months"),
        F.min("mois").alias("first_mois"),
        F.max("mois").alias("last_mois"),
        F.sum(F.col("total_mois").cast(_DEC)).cast("double").alias("total_all_months"),
    )
    return summarize(tarified).crossJoin(reserve_estimate(tarified)).crossJoin(ms)


op("tarification_pipeline", _ORACLE)(tarification_pipeline)
