"""HTML -> Markdown conversion (the LLM-pipeline text shape).

Training pipelines increasingly keep LIGHT structure instead of
stripping to plain text — headings, lists, links, emphasis — because
markdown survives tokenization and teaches document structure. This
operator is the deterministic capstone over the structure family
(heading outline, section chunks, table extract): a fixed, ordered
rewrite chain from tag soup to markdown.

Single source of truth: ``_RULES`` holds (pattern, java_replacement,
re2_replacement) triples; the Spark expression chain and the DuckDB
oracle are GENERATED from the same list, in the same order, so the two
engines cannot drift rule-by-rule. The replacement string is the one
deliberately divergent twin (Java ``$1`` vs RE2 ``\\1`` — the
sentence-split precedent); patterns stay in the RE2-and-Java shared
dialect (no lookbehind, no backreferences in patterns, ``(?i)``/
``(?:)`` only). DuckDB's regexp_replace needs the explicit 'g' flag —
Java's replaceAll is global by default — another pinned twin fact.

Rewrite order is load-bearing and documented per rule: links first
(their inner text must still be raw), then headings, inline emphasis,
list/paragraph/line structure, THEN the generic tag strip (which would
otherwise eat the tags the earlier rules match), then whitespace
normalization.

Scale: a per-row projection chain — zero exchanges, zero UDFs, fuses
into the scan; cost is O(page bytes * rules).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op

# (pattern, java_repl, re2_repl) — applied strictly in order
_RULES: list[tuple[str, str, str]] = [
    # links before anything touches their inner text or the tag strip.
    # Tag-name guards throughout: RE2 has no lookahead, so "this tag
    # and not a longer name starting with it" is spelled as an explicit
    # next-char class (?:[^A-Za-z>][^>]*)? — without it <b> swallows
    # <br>, <li> swallows <link>, <p> swallows <pre>, <i> swallows
    # <img> (all found by decoy fixtures, all pinned in tests)
    (
        r"""(?i)<a[^A-Za-z>][^>]*href=["']?([^"' >]+)["']?[^>]*>([^<]*)</a>""",
        "[$2]($1)",
        r"[\2](\1)",
    ),
    # headings: one fixed rule per level (the repeat count can't ride a
    # capture), text-only inner content like the outline op
    *[
        (
            rf"(?i)<h{k}[^>]*>([^<]*)</h{k}>",
            "\n" + "#" * k + " $1\n",
            "\n" + "#" * k + " \\1\n",
        )
        for k in range(1, 7)
    ],
    # inline emphasis/code: open and close both map to the marker
    (r"(?i)</?(?:b|strong)(?:[^A-Za-z>][^>]*)?>", "**", "**"),
    (r"(?i)</?(?:i|em)(?:[^A-Za-z>][^>]*)?>", "*", "*"),
    (r"(?i)</?code(?:[^A-Za-z>][^>]*)?>", "`", "`"),
    # list items and block structure
    (r"(?i)<li(?:[^A-Za-z>][^>]*)?>", "\n- ", "\n- "),
    (r"(?i)<br(?:[^A-Za-z>][^>]*)?>", "\n", "\n"),
    (r"(?i)<p(?:[^A-Za-z>][^>]*)?>", "\n\n", "\n\n"),
    # block-level closers/dividers get a newline so stripped block tags
    # don't glue adjacent words together
    (r"(?i)</?div(?:[^A-Za-z>][^>]*)?>", "\n", "\n"),
    # generic tag strip (everything the rules above left behind:
    # closers, divs, spans, uls, unknown tags). An UNCLOSED '<' never
    # matches and survives as text — identical in both engines.
    (r"<[^>]*>", "", ""),
    # whitespace normalization: spaces/tabs collapse, trim around
    # newlines, cap blank runs, strip leading/trailing newlines
    (r"[ \t]+", " ", " "),
    (r" ?\n ?", "\n", "\n"),
    (r"\n\n\n+", "\n\n", "\n\n"),
    (r"^\n+", "", ""),
    (r"\n+$", "", ""),
]


def html_to_markdown(html: Column) -> Column:
    out = html
    for pat, java_repl, _ in _RULES:
        out = F.regexp_replace(out, pat, java_repl)
    return out


def _sqlq(s: str) -> str:
    return s.replace("'", "''")


def _md_sql(expr: str) -> str:
    """The oracle's identical chain; real newlines ride inside the SQL
    string literals (legal in DuckDB), quotes doubled."""
    out = expr
    for pat, _, re2_repl in _RULES:
        out = f"regexp_replace({out}, '{_sqlq(pat)}', '{_sqlq(re2_repl)}', 'g')"
    return out


# fixture variants (doc_id % 5): 0 = heading + paragraphs + emphasis;
# 1 = list + link; 2 = plain text passthrough (no tags at all);
# 3 = link/code/br with UPPERCASE tags and unquoted href; 4 = decoys —
# <h7> (stripped as an unknown tag, its text survives), a wrapping div,
# a stray bare '>', and a truly unclosed '<p ...' with no later '>'
# (no rule can match it, so it survives as text — in both engines)
_MD_HTML_SQL = """
    case cast(doc_id % 5 as int)
      when 0 then '<h1>' || source || ' guide</h1><p>Intro text '
        || cast(doc_id as varchar)
        || '.</p><p><b>bold</b> and <i>italic</i> here.</p>'
      when 1 then '<link rel="stylesheet" href="x.css"><h2>Items</h2><ul><li>alpha '
        || cast(doc_id % 9 as varchar)
        || '</li><li>see <a href="https://ex.com/d/'
        || cast(doc_id as varchar) || '">doc page</a></li></ul>'
      when 2 then source || ' plain notes ' || cast(doc_id as varchar)
      when 3 then 'Visit <A HREF=https://ex.com/u/'
        || cast(doc_id as varchar)
        || '>the page</A><BR><CODE>x = ' || cast(doc_id % 3 as varchar)
        || '</CODE><img src="i.png"><pre>raw</pre>'
      else '<h7>NotAHeading</h7><div class="x">wrapped '
        || cast(doc_id as varchar) || '</div> 5 > 4 <p truly unclosed tail'
    end
"""

_MD_ORACLE = f"""
    with fx as (
      select doc_id, {_MD_HTML_SQL} as html_text from documents
    ),
    md as (
      select doc_id, {_md_sql("html_text")} as m from fx
    )
    select doc_id,
           cast(length(m) as bigint) as n_chars_md,
           cast(length(m) - length(replace(m, chr(10), '')) + 1 as bigint)
             as n_md_lines,
           cast((length(m) - length(replace(m, '](', ''))) // 2 as bigint)
             as n_links,
           substr(sha256(m), 1, 16) as md_digest
    from md
"""


@op("page_markdown", _MD_ORACLE)
def page_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate: per page, the markdown's length, line count, link count
    and digest — the digest pins every byte of the conversion against
    the oracle's independently-generated chain."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fx = docs.select(
        "doc_id",
        F.expr(_MD_HTML_SQL.replace("as varchar", "as string")).alias("html_text"),
    )
    m = html_to_markdown(F.col("html_text"))
    return fx.select(
        "doc_id",
        F.length(m).cast("long").alias("n_chars_md"),
        (F.length(m) - F.length(F.replace(m, F.lit("\n"), F.lit(""))) + 1)
        .cast("long")
        .alias("n_md_lines"),
        ((F.length(m) - F.length(F.replace(m, F.lit("]("), F.lit("")))) / 2)
        .cast("long")
        .alias("n_links"),
        F.substring(F.sha2(m, 256), 1, 16).alias("md_digest"),
    )
