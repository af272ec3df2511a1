"""Behavior tests for operators/markdown.py (HTML -> Markdown)."""

import contextlib
import io

import pyspark.sql.functions as F

from ocr_application_spark.operators import markdown as M
from tests.test_oracle_parity import SF_DIR


def _md(spark, html):
    df = spark.createDataFrame([(1, html)], "doc_id long, h string")
    return df.select(M.html_to_markdown(F.col("h")).alias("m")).collect()[0]["m"]


def test_heading_levels_map_to_hash_runs(spark):
    assert _md(spark, "<h1>A</h1><h3>B</h3><H6>c</H6>") == "# A\n\n### B\n\n###### c"


def test_link_list_emphasis_code(spark):
    got = _md(
        spark,
        '<ul><li><a href="https://e.x/p">t</a></li><li><b>b</b> <i>i</i> <code>c</code></li></ul>',
    )
    assert got == "- [t](https://e.x/p)\n- **b** *i* `c`"


def test_tag_name_guards_hold(spark):
    """<br> is not bold, <link> is not a list item, <pre> is not a
    paragraph, <img> is not italic — the RE2-safe next-char guard."""
    assert _md(spark, "a<br>b") == "a\nb"
    assert _md(spark, '<link rel="x" href="y">word') == "word"
    assert _md(spark, "<pre>raw</pre>") == "raw"
    assert _md(spark, '<img src="i.png">word') == "word"
    # and the real tags still convert with attributes present
    assert _md(spark, '<b class="x">s</b>') == "**s**"
    assert _md(spark, '<p id="q">s</p>') == "s"


def test_unclosed_tag_survives_as_text(spark):
    assert _md(spark, "ok <p unclosed tail") == "ok <p unclosed tail"
    assert _md(spark, "5 > 4 stays") == "5 > 4 stays"


def test_whitespace_normalization(spark):
    got = _md(spark, "<p>  a   b\t c </p><p></p><p>d</p>")
    assert got == "a b c\n\nd"


def test_uppercase_and_unquoted_attributes(spark):
    got = _md(spark, "Visit <A HREF=https://e.x/u>page</A><BR>done")
    assert got == "Visit [page](https://e.x/u)\ndone"


def test_gate_counts_are_consistent(spark):
    out = M.page_markdown(spark, SF_DIR)
    bad = out.filter(
        (F.col("n_links") < 0)
        | (F.col("n_md_lines") < 1)
        | (F.length("md_digest") != 16)
    )
    assert bad.count() == 0
    # variant 1 docs carry exactly one link each
    one = out.filter(F.col("doc_id") % 5 == 1)
    assert one.filter(F.col("n_links") != 1).count() == 0


def test_markdown_plan_is_scan_fused(spark):
    df = M.page_markdown(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan and "ArrowEval" not in plan
