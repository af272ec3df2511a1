"""HTML table extraction: <table> markup -> (table, row, col, text) cells.

The webtext analog of the reference's table-detection kernel
(layout_detection_service/app/models/layout_detector.py:39-137: line
masks -> contour bboxes -> joint grid -> per-cell centers; SURVEY.md §2
K3 maps it to "<table> DOM subtree detection"). Where the reference
recovers a cell grid from pixels, web pages carry the grid in markup —
so the extraction-tier operator is: every ``<table>`` in the document
becomes rows of ``(doc_id, table_idx, row_idx, col_idx, cell_text,
is_header)``, the normalized relational form the downstream J2/J3
(label-value pairing, box-in-table) analogs and any
table-to-training-text serializer consume.

Shape: three nested ``regexp_extract_all`` + ``posexplode`` levels
(tables in doc, ``<tr>`` in table, ``<td>/<th>`` in row) — all narrow,
zero exchanges, zero UDFs; the fan-out is data-proportional (cells in
the corpus), exactly how an explode should spend its rows. Inner markup
is stripped and whitespace collapsed; ``is_header`` records whether the
cell was a ``<th>``.

Engine discipline: every pattern is ONE Python constant shared verbatim
(RE2-safe AND Java-regex-safe: no lookaround, no backrefs — RE2 has
neither, so ``<thead>/<tbody>`` are excluded from the cell pattern by
the ``(?:>|[^a-z>][^>]*>)`` tag-name terminator, not a lookahead). The
DuckDB oracle rebuilds the same three levels with lateral
``unnest(range(len(arr)))`` ordinality joins. Known regex-extraction
limits, documented not hidden: a nested ``<table>`` inside a cell
truncates the outer table at the inner ``</table>`` (non-greedy), and
``colspan``/``rowspan`` are not expanded — ``col_idx`` is the cell
ordinal within its row, not the visual grid column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op


def _sql_quote(pat: str) -> str:
    return "'" + pat.replace("'", "''") + "'"


# --- shared patterns (one constant, two engines) -----------------------------

_TABLE_PAT = r"(?is)<table[^>]*>(.*?)</table[^>]*>"
_TR_PAT = r"(?is)<tr(?:>|[^a-z>][^>]*>)(.*?)</tr[^>]*>"
# full-match (group 0) so the tag name survives for is_header; the
# (?:>|[^a-z>][^>]*>) terminator keeps <thead>/<tbody> from matching
_CELL_PAT = r"(?is)<t[dh](?:>|[^a-z>][^>]*>).*?</t[dh][^>]*>"
_STRIP_PAT = r"(?s)<[^>]*>"
_WS_PAT = r"[ \t\r\n]+"


def extract_html_tables(df: DataFrame, html_col: str = "html_text") -> DataFrame:
    """Explode every <table> in an HTML string column into one row per
    cell: (<carried columns>, table_idx, row_idx, col_idx, cell_text,
    is_header). Documents without tables produce no rows (explode
    semantics); indices are 0-based bigints."""
    carried = [c for c in df.columns if c != html_col]
    tabs = df.select(
        *carried,
        F.posexplode(
            F.expr(
                f"regexp_extract_all({html_col}, {_sql_quote(_TABLE_PAT)}, 1)"
            )
        ).alias("table_idx", "thtml"),
    )
    rows = tabs.select(
        *carried,
        "table_idx",
        F.posexplode(
            F.expr(f"regexp_extract_all(thtml, {_sql_quote(_TR_PAT)}, 1)")
        ).alias("row_idx", "rhtml"),
    )
    cells = rows.select(
        *carried,
        "table_idx",
        "row_idx",
        F.posexplode(
            F.expr(f"regexp_extract_all(rhtml, {_sql_quote(_CELL_PAT)}, 0)")
        ).alias("col_idx", "cell_full"),
    )
    return cells.select(
        *carried,
        F.col("table_idx").cast("bigint").alias("table_idx"),
        F.col("row_idx").cast("bigint").alias("row_idx"),
        F.col("col_idx").cast("bigint").alias("col_idx"),
        F.trim(
            F.regexp_replace(
                F.regexp_replace("cell_full", _STRIP_PAT, ""), _WS_PAT, " "
            )
        ).alias("cell_text"),
        F.lower(F.col("cell_full")).like("<th%").alias("is_header"),
    )


# --- deterministic fixture (twin expressions) --------------------------------
#
# doc_id % 4 variants:
#   0: 2x2 table, <th> header row, double-quoted attrs
#   1: TWO tables — UPPERCASE tags + inner markup in a cell, then a 1x1
#   2: no table at all (must contribute zero rows)
#   3: thead/tbody wrapped, attr'd cells, whitespace between elements

_FIX_SQL = """
    case cast(doc_id % 4 as int)
      when 0 then '<html><body><table class="t"><tr><th>name</th><th>id</th></tr>'
        || '<tr><td>' || source || '</td><td>' || cast(doc_id as varchar)
        || '</td></tr></table></body></html>'
      when 1 then '<BODY><TABLE><TR><TD>A' || cast(doc_id as varchar)
        || '</TD><TD><b>bold</b> text</TD></TR></TABLE>'
        || '<table><tr><td>solo ' || lang || '</td></tr></table></BODY>'
      when 2 then '<html><body><p>' || source || ' has no table</p></body></html>'
      else '<table id=x>' || chr(10) || '  <thead><tr><th scope=col>k</th></tr></thead>'
        || chr(10) || '  <tbody><tr>' || chr(10) || '    <td align=left> v'
        || cast(doc_id as varchar) || ' </td>' || chr(10)
        || '  </tr></tbody>' || chr(10) || '</table>'
    end
"""

_ORACLE = f"""
    with fx as (
      select doc_id, {_FIX_SQL} as html_text from documents
    ),
    tabs as (
      select doc_id,
        regexp_extract_all(html_text, {_sql_quote(_TABLE_PAT)}, 1) as tarr
      from fx
    ),
    t1 as (
      select doc_id, r.i as table_idx, tarr[r.i + 1] as thtml
      from tabs, lateral (select unnest(range(len(tarr))) as i) r
    ),
    r0 as (
      select doc_id, table_idx,
        regexp_extract_all(thtml, {_sql_quote(_TR_PAT)}, 1) as rarr
      from t1
    ),
    r1 as (
      select doc_id, table_idx, r.i as row_idx, rarr[r.i + 1] as rhtml
      from r0, lateral (select unnest(range(len(rarr))) as i) r
    ),
    c0 as (
      select doc_id, table_idx, row_idx,
        regexp_extract_all(rhtml, {_sql_quote(_CELL_PAT)}, 0) as carr
      from r1
    ),
    c1 as (
      select doc_id, table_idx, row_idx, r.i as col_idx, carr[r.i + 1] as cell_full
      from c0, lateral (select unnest(range(len(carr))) as i) r
    )
    select doc_id, table_idx, row_idx, col_idx,
      trim(regexp_replace(
        regexp_replace(cell_full, {_sql_quote(_STRIP_PAT)}, '', 'g'),
        {_sql_quote(_WS_PAT)}, ' ', 'g')) as cell_text,
      (lower(cell_full) like '<th%') as is_header
    from c1
"""


@op("html_table_extract", _ORACLE)
def html_table_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fx = docs.select(
        "doc_id",
        F.expr(_FIX_SQL.replace("as varchar", "as string")).alias("html_text"),
    )
    return extract_html_tables(fx)
