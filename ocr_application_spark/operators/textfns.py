"""Text-analysis operators over the ``documents`` table.

Language-ID heuristic, quality scoring, token counting, and document
fingerprinting — the per-document scalar layer a training-data pipeline
runs before filtering/dedup. All pure built-in column expressions
(codegen'd, no UDF), each with an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# token count via length arithmetic — dialect-portable, exact
_TOKENS_SQL = "(length(text) - length(replace(text, ' ', '')) + 1)"


def _tokens_col():
    return F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1


# --- token counting ------------------------------------------------------------
@op(
    "text_token_stats",
    f"""
    select doc_id,
           {_TOKENS_SQL} as n_tokens,
           length(text) as n_chars_measured,
           cast(length(replace(text, ' ', '')) as double)
                 / {_TOKENS_SQL} as avg_token_len
    from documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + mean token length, pure arithmetic."""
    d = _docs(spark, sf_dir)
    nt = _tokens_col()
    nonspace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    return d.select(
        "doc_id",
        nt.alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        (nonspace.cast("double") / nt).alias("avg_token_len"),
    )


# --- language-ID heuristic --------------------------------------------------------
_STOPWORDS = ("the", "a", "of", "and", "to")


def _stopword_ratio():
    """English-function-word share of the token stream, computed
    array-side (size(filter)/size over the split array — the exact
    integers the old explode->groupBy(doc_id) shuffle produced, so the
    one IEEE division is bit-identical, with zero exchanges)."""
    w = F.split(F.col("text"), " ")
    n_stop = F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS)))
    return n_stop.cast("double") / F.size(w)


@op(
    "text_langid_heuristic",
    f"""
    with toks as (
      select doc_id, unnest(string_split(text, ' ')) as token from documents
    ),
    ratios as (
      select doc_id,
             cast(sum(case when token in {_STOPWORDS} then 1 else 0 end) as double)
                   / count(*) as stopword_ratio
      from toks group by doc_id
    )
    select doc_id, stopword_ratio,
           case when stopword_ratio >= 0.08 then 'en-like' else 'other' end as pred_lang
    from ratios
    """,
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword language-ID heuristic: English-function-word ratio
    per document -> coarse label. (The reference's Arabic-script regex
    F3 is the same family of heuristic; see reference_ops.f_record_filters.)"""
    d = _docs(spark, sf_dir)
    # NULL-text docs are dropped, matching the oracle's unnest + GROUP
    # BY (and the old explode form), which emit no row for them
    ratios = d.filter(F.col("text").isNotNull()).select(
        "doc_id", _stopword_ratio().alias("stopword_ratio")
    )
    return ratios.select(
        "doc_id",
        "stopword_ratio",
        F.when(F.col("stopword_ratio") >= 0.08, F.lit("en-like"))
        .otherwise(F.lit("other"))
        .alias("pred_lang"),
    )


# --- per-line language segmentation ---------------------------------------------
# CCNet classifies language below the document level (per paragraph)
# because web pages routinely interleave languages — nav chrome in one,
# body in another — and a doc-level label either drops the page or
# keeps the wrong half. This op labels every LINE with the stopword
# heuristic (integer comparison 100*n_stop >= 8*n_tok — the exact-ratio
# discipline: never a cross-engine float compare) and collapses
# consecutive same-language lines into segments (gaps-and-islands), so
# a curation pass can keep the en-like islands of a mixed page.
#
# Scale shape: ZERO exchanges — langs/starts/segments are built
# array-side per row (the winnowing rewrite's discipline) and the only
# plan node beyond the pruned scan is one narrow Generate (posexplode
# of the per-doc segment array). Each line is touched O(1) times: the
# boundary list drives disjoint slices, never a per-line prefix scan.
# The oracle deliberately uses the explode + lag-window formulation, so
# agreement checks the islands SEMANTICS, not the plan.

_LANGSEG_ORACLE = f"""
    with t as (
      select doc_id, string_split(text, chr(10)) as ls
      from documents where text is not null
    ),
    lines as (
      select doc_id, u.idx - 1 as line_idx, u.line as line
      from (
        select doc_id,
               unnest(list_transform(ls, (x, i) -> {{'idx': i, 'line': x}})) as u
        from t
      )
    ),
    lng as (
      select doc_id, line_idx, line,
             case when 100 * len(list_filter(string_split(line, ' '),
                                             x -> x in {_STOPWORDS}))
                       >= 8 * len(string_split(line, ' '))
                  then 'en-like' else 'other' end as lang
      from lines
    ),
    flags as (
      select doc_id, line_idx, line, lang,
             case when lag(lang) over w is null
                       or lag(lang) over w != lang then 1 else 0 end as chg
      from lng window w as (partition by doc_id order by line_idx)
    ),
    segs as (
      select doc_id, line_idx, line, lang,
             cast(sum(chg) over (partition by doc_id order by line_idx
                                 rows unbounded preceding) as bigint) - 1 as seg_idx
      from flags
    )
    select doc_id, seg_idx, lang,
           cast(min(line_idx) as bigint) as start_line,
           cast(count(*) as bigint) as n_lines,
           cast(sum(length(line)) as bigint) as n_chars
    from segs group by doc_id, seg_idx, lang
"""


def lang_segments(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text) -> one row per contiguous same-language
    line run: (doc_id, seg_idx, lang, start_line, n_lines, n_chars).
    See section comment for semantics and the zero-exchange shape."""
    ls = F.split(F.col("text"), "\n")
    t = docs.where(F.col("text").isNotNull()).select("doc_id", ls.alias("ls"))
    lang_of = lambda x: (  # noqa: E731
        F.when(
            F.size(F.filter(F.split(x, " "), lambda w: w.isin(*_STOPWORDS))) * 100
            >= F.size(F.split(x, " ")) * 8,
            F.lit("en-like"),
        ).otherwise(F.lit("other"))
    )
    t = t.select("doc_id", "ls", F.transform("ls", lang_of).alias("langs"))
    # 0-based boundary indices: line 0, plus every lang flip
    starts = F.filter(
        F.sequence(F.lit(0), F.size("ls") - 1),
        lambda i: (i == 0)
        | (F.element_at("langs", i + 1) != F.element_at("langs", i)),
    )
    t = t.select("doc_id", "ls", "langs", starts.alias("starts"))
    # one struct per segment; the NEXT boundary (or the array end) closes it
    seg = lambda s, k: F.struct(  # noqa: E731
        k.cast("long").alias("seg_idx"),
        F.element_at("langs", s + 1).alias("lang"),
        s.cast("long").alias("start_line"),
        (
            F.when(k + 2 <= F.size("starts"), F.element_at("starts", k + 2))
            .otherwise(F.size("ls"))
            - s
        )
        .cast("long")
        .alias("n_lines"),
        F.aggregate(
            F.slice(
                "ls",
                s + 1,
                F.when(k + 2 <= F.size("starts"), F.element_at("starts", k + 2))
                .otherwise(F.size("ls"))
                - s,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.length(x),
        ).alias("n_chars"),
    )
    segs = t.select("doc_id", F.explode(F.transform("starts", seg)).alias("s"))
    return segs.select(
        "doc_id", "s.seg_idx", "s.lang", "s.start_line", "s.n_lines", "s.n_chars"
    )


@op("text_lang_segments", _LANGSEG_ORACLE)
def text_lang_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-line language ID -> contiguous same-language segments."""
    return lang_segments(_docs(spark, sf_dir))


# --- sentence segmentation -------------------------------------------------------
# Training pipelines need sentence boundaries (sentence-level dedup /
# decontamination, packing that respects sentence edges). Rule-based
# splitter in the dialect intersection (RE2-safe: no lookaround — the
# boundary is found with CAPTURE + sentinel-REPLACE + split, never a
# lookbehind): a sentence ends at [.!?] (plus optional closing
# quote/paren) followed by spaces and an upper/digit start; a guarded
# abbreviation list (titles, vs, etc, No) is protected first by
# swapping its dot for \x02 and restored after the split. Newlines are
# NOT boundaries here — line structure belongs to the line ops.
# Replacement syntax is the one place the twin strings must differ
# (Java says $1, RE2 says \1) — the PATTERNS stay shared constants.
#
# Scale shape: three regexp_replace + one split + one posexplode, all
# per-row, zero exchanges (plan-asserted).

_SENT_ABBR_PAT = r"\b(Mr|Mrs|Ms|Dr|Prof|St|vs|etc|No)\."
_SENT_SPLIT_PAT = "([.!?][\"')]*) +([A-Z0-9])"
_PROT = "\x02"  # protected abbreviation dot
_SEP = "\x1f"   # sentence sentinel


def split_sentences(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text) -> (doc_id, sent_idx, sentence)."""
    t = F.regexp_replace(F.col("text"), _SENT_ABBR_PAT, "$1" + _PROT)
    t = F.regexp_replace(t, _SENT_SPLIT_PAT, "$1" + _SEP + "$2")
    d = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.split(t, _SEP).alias("ss")
    )
    e = d.select("doc_id", F.posexplode("ss").alias("sent_idx", "s"))
    return e.select(
        "doc_id",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.replace(F.col("s"), F.lit(_PROT), F.lit(".")).alias("sentence"),
    )


# the raw synthetic text is lowercase prose with no sentence structure
# (zero boundaries -> a trivially-agreeing oracle), so the gate fixture
# DERIVES sentence-ful text per doc: abbreviations, quoted terminals,
# decimal points, bare terminals, and an unterminated tail, varied by
# doc_id so every split path is value-checked cross-engine
_SENT_FIX_SQL = """
    case when doc_id % 3 = 0 then 'Dr. Who saw No. ' || cast(doc_id % 9 as varchar)
              || '. ' else 'Start here. ' end
    || 'He said "stop." Then v' || cast(doc_id % 7 as varchar)
    || ' was 3.14 exact! Is it? '
    || case when doc_id % 2 = 0 then 'Yes. ' else '' end
    || 'Tail ' || substr(text, 1, 40)
"""

_SENT_ORACLE = f"""
    with fx as (
      select doc_id, {_SENT_FIX_SQL} as text
      from documents where text is not null
    ),
    prot as (
      select doc_id,
             regexp_replace(text, '{_SENT_ABBR_PAT}', '\\1' || chr(2), 'g') as t
      from fx
    ),
    marked as (
      select doc_id,
             regexp_replace(t, '([.!?]["'')]*) +([A-Z0-9])',
                            '\\1' || chr(31) || '\\2', 'g') as t
      from prot
    ),
    s as (
      select doc_id,
             unnest(list_transform(string_split(t, chr(31)),
                                   (x, i) -> {{'i': i, 'x': x}})) as u
      from marked
    )
    select doc_id, cast(u.i - 1 as bigint) as sent_idx,
           replace(u.x, chr(2), '.') as sentence
    from s
"""


@op("text_sentence_split", _SENT_ORACLE)
def text_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based sentence segmentation over derived sentence-ful text
    (see _SENT_FIX_SQL note)."""
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    fx = d.select(
        "doc_id",
        F.expr(_SENT_FIX_SQL.replace("as varchar", "as string")).alias("text"),
    )
    return split_sentences(fx)


# --- readability (Flesch-Kincaid grade) -------------------------------------------
# The classic readability signal quality filters bucket on. Exactness
# discipline: the three counts are plain integers (whitespace words,
# sentinel-split sentences via the splitter above, [aeiouy]+ runs as
# the syllable heuristic) and the grade ships in integer MICRO-units
# computed with integer division only —
#   grade_micro = 390000*words // sents + 11800000*syll // words
#                 - 15590000
# — never a cross-engine float ratio. Same derived sentence-ful fixture
# as the splitter (raw synthetic text has no sentence structure).
# Zero exchanges, scan-fused (plan-asserted with the splitter's case).

_FK_ORACLE = f"""
    with fx as (
      select doc_id, {_SENT_FIX_SQL} as text
      from documents where text is not null
    ),
    prot as (
      select doc_id, text,
             regexp_replace(text, '{_SENT_ABBR_PAT}', '\\1' || chr(2), 'g') as t
      from fx
    ),
    m as (
      select doc_id, text,
             len(string_split(regexp_replace(t, '([.!?]["'')]*) +([A-Z0-9])',
                              '\\1' || chr(31) || '\\2', 'g'), chr(31))) as n_sents,
             len(list_filter(string_split(text, ' '), x -> x != '')) as n_words,
             len(regexp_extract_all(lower(text), '[aeiouy]+', 0)) as n_syll
      from prot
    )
    select doc_id,
           cast(n_words as bigint) as n_words,
           cast(n_sents as bigint) as n_sents,
           cast(n_syll as bigint) as n_syll,
           cast(390000 * n_words // n_sents
                + 11800000 * n_syll // n_words - 15590000 as bigint)
             as fk_grade_micro
    from m
"""


def fk_readability(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text) -> (doc_id, n_words, n_sents, n_syll,
    fk_grade_micro); see section comment for the exact-integer form."""
    t = F.regexp_replace(F.col("text"), _SENT_ABBR_PAT, "$1" + _PROT)
    marked = F.regexp_replace(t, _SENT_SPLIT_PAT, "$1" + _SEP + "$2")
    n_sents = F.size(F.split(marked, _SEP)).cast("long")
    n_words = F.size(
        F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    ).cast("long")
    n_syll = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    ).cast("long")
    d = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syll"),
    )
    grade = (
        F.expr("div(390000 * n_words, n_sents)")
        + F.expr("div(11800000 * n_syll, n_words)")
        - F.lit(15590000)
    )
    return d.select(
        "doc_id", "n_words", "n_sents", "n_syll",
        grade.cast("long").alias("fk_grade_micro"),
    )


@op("text_fk_readability", _FK_ORACLE)
def text_fk_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade in exact integer micro-units over the
    derived sentence-ful fixture."""
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    fx = d.select(
        "doc_id",
        F.expr(_SENT_FIX_SQL.replace("as varchar", "as string")).alias("text"),
    )
    return fk_readability(fx)


# --- quality scoring ----------------------------------------------------------------
@op(
    "text_quality_score",
    f"""
    select doc_id,
           {_TOKENS_SQL} as n_tokens,
           least(cast({_TOKENS_SQL} as double) / 100.0, 1.0) * 0.5
             + least(cast(length(replace(text, ' ', '')) as double)
                     / {_TOKENS_SQL} / 8.0, 1.0) * 0.3
             + case when length(text) between 100 and 20000 then 0.2 else 0.0 end
             as quality
    from documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score in [0,1]: token-count saturation (0.5) + mean-token-
    length saturation (0.3) + length-window bonus (0.2) — the
    length/ratio family of heuristics used for corpus filtering."""
    d = _docs(spark, sf_dir)
    nt = _tokens_col()
    nonspace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    quality = (
        F.least(nt.cast("double") / 100.0, F.lit(1.0)) * 0.5
        + F.least(nonspace.cast("double") / nt / 8.0, F.lit(1.0)) * 0.3
        + F.when(F.length("text").between(100, 20000), 0.2).otherwise(0.0)
    )
    return d.select("doc_id", nt.alias("n_tokens"), quality.alias("quality"))


# --- document fingerprinting -----------------------------------------------------------
@op(
    "text_fingerprint",
    """
    select doc_id,
           md5(lower(text)) as fingerprint,
           substr(sha256(lower(text)), 1, 16) as fingerprint64
    from documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints (md5 + truncated sha256 of normalized text)
    — join keys for cross-snapshot dedup and the digest the lineage
    table folds (cf. pipeline digest contract)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.md5(F.lower("text")).alias("fingerprint"),
        F.substring(F.sha2(F.lower(F.col("text")), 256), 1, 16).alias("fingerprint64"),
    )


# --- the cleaning decision, composed -------------------------------------------
# What a C4-style corpus-cleaning pass actually ships: one keep/drop
# decision per document from the scalar layer above plus exact dedup —
# language gate (stopword ratio), quality gate, and canonical-survivor
# selection (smallest doc_id per content fingerprint). Everything is
# built-in column expressions + two keyed aggregations; at corpus scale
# the only data-sized shuffles are groupBy(doc_id) over tokens and
# groupBy(fingerprint), both partial-aggregated map-side.
@op(
    "corpus_clean_pipeline",
    f"""
    with toks as (
      select doc_id, unnest(string_split(text, ' ')) as token from documents
    ),
    ratios as (
      select doc_id,
             cast(sum(case when token in {_STOPWORDS} then 1 else 0 end) as double)
                   / count(*) as stopword_ratio
      from toks group by doc_id
    ),
    fp as (
      select doc_id, md5(lower(text)) as fingerprint,
             least(cast({_TOKENS_SQL} as double) / 100.0, 1.0) * 0.5
               + least(cast(length(replace(text, ' ', '')) as double)
                       / {_TOKENS_SQL} / 8.0, 1.0) * 0.3
               + case when length(text) between 100 and 20000 then 0.2 else 0.0 end
               as quality
      from documents
    ),
    keepers as (select fingerprint, min(doc_id) as keeper from fp group by 1)
    select f.doc_id,
           r.stopword_ratio,
           case when r.stopword_ratio >= 0.08 then 'en-like' else 'other' end
             as pred_lang,
           f.quality,
           f.doc_id != k.keeper as is_exact_dup,
           (r.stopword_ratio >= 0.08 and f.quality >= 0.5
            and f.doc_id = k.keeper) as kept
    from fp f
    join keepers k on f.fingerprint = k.fingerprint
    join ratios r on f.doc_id = r.doc_id
    """,
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keep/drop decision: en-like language AND quality >=
    0.5 AND canonical survivor of its exact-dup group. The floats in the
    gates are the same engineered-identical expressions the individual
    queries use, so the boolean decision is cross-engine stable."""
    d = _docs(spark, sf_dir)
    nt = _tokens_col()
    nonspace = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    quality = (
        F.least(nt.cast("double") / 100.0, F.lit(1.0)) * 0.5
        + F.least(nonspace.cast("double") / nt / 8.0, F.lit(1.0)) * 0.3
        + F.when(F.length("text").between(100, 20000), 0.2).otherwise(0.0)
    )
    fp = d.select(
        "doc_id",
        F.md5(F.lower("text")).alias("fingerprint"),
        quality.alias("quality"),
        # array-side (zero exchanges) — the explode->groupBy(doc_id)
        # shuffle this replaces was a corpus-sized exchange per gate
        _stopword_ratio().alias("stopword_ratio"),
    )
    keepers = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("keeper"))
    return (
        fp.join(keepers, "fingerprint")
        .select(
            "doc_id",
            "stopword_ratio",
            F.when(F.col("stopword_ratio") >= 0.08, F.lit("en-like"))
            .otherwise(F.lit("other"))
            .alias("pred_lang"),
            "quality",
            (F.col("doc_id") != F.col("keeper")).alias("is_exact_dup"),
            (
                (F.col("stopword_ratio") >= 0.08)
                & (F.col("quality") >= 0.5)
                & (F.col("doc_id") == F.col("keeper"))
            ).alias("kept"),
        )
    )


# --- corpus vocabulary -------------------------------------------------------
@op(
    "text_vocabulary",
    f"""
    with toks as (
      select doc_id, unnest(string_split(text, ' ')) as token from documents
    ),
    stats as (
      select token,
             count(*) as tf,
             count(distinct doc_id) as df
      from toks where token != '' group by token
    ),
    ranked as (
      select token, tf, df,
             row_number() over (order by df desc, tf desc, token) as rank
      from stats
    )
    select token, tf, df, rank,
           token in {_STOPWORDS} as is_stopword
    from ranked where rank <= 200
    """,
)
def text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary building (the tokenizer-training precursor):
    term frequency + document frequency per token, top-200 by df with a
    total (df, tf, token) tie-break so the cut is deterministic. Two
    keyed aggregations, both map-side partial — shuffle is O(vocab),
    never O(tokens), which is what makes vocab building feasible at
    corpus scale."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    stats = toks.groupBy("token").agg(
        F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    # top-200 via orderBy+limit -> TakeOrderedAndProject (per-partition
    # partial top-k, plan-audited), NOT a global row_number window —
    # an unpartitioned window would funnel the ENTIRE vocabulary
    # (easily 10^8 rows at corpus scale) through one partition. Rank
    # the 200 survivors by folding them into ONE sorted array and
    # posexploding (rank = position): no WindowExec at all, so the
    # bench tail stays free of "No Partition Defined" warnings.
    top = stats.orderBy(F.desc("df"), F.desc("tf"), "token").limit(200)
    rows = top.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("df")).alias("nd"),
                    (-F.col("tf")).alias("nt"),
                    "token", "tf", "df",
                )
            )
        ).alias("rows")
    )
    return rows.select(F.posexplode("rows").alias("pos", "r")).select(
        F.col("r.token").alias("token"),
        F.col("r.tf").alias("tf"),
        F.col("r.df").alias("df"),
        (F.col("pos") + 1).alias("rank"),
        F.col("r.token").isin(*_STOPWORDS).alias("is_stopword"),
    )


# --- hashed TF-IDF document vectors (the hashing-trick featurizer) -----------
# The text -> vector bridge of the pipeline: fixed-width sparse features
# with NO vocabulary table (Weinberger et al. 2009's hashing trick —
# the dimension is a hash of the token, so featurization is stateless,
# streaming-safe, and identical on any engine/partitioning; fastText
# and Vowpal Wabbit featurize this way). Output is the sparse form
# (doc_id, dim, weight_micro): absent dims are zero. Weights are
# tf * idf with idf = ln((N+1)/(df+1)) quantized to integer micro-nats
# BEFORE the tf-multiply and the per-dim sum (repo invariant: never sum
# floats whose association order differs across engines).
#
# Scale shape: tf is a (doc_id, token) map-side-combined aggregation,
# df a (token) one; the tf->df equi-join shuffles on token (vocab can
# be 10^8 at corpus scale — never broadcast), the final per-dim fold
# shuffles on doc_id. Three bounded exchanges, no window, no UDF.
_TFIDF_DIMS = 16

@op(
    "text_hashed_tfidf",
    f"""
    with toks as (
      select doc_id, unnest(string_split(text, ' ')) as token from documents
    ),
    tf as (
      select doc_id, token, count(*) as tf
      from toks where token != '' group by 1, 2
    ),
    df as (select token, count(distinct doc_id) as df from tf group by 1),
    n as (select count(*) as n_docs from documents),
    idf as (
      select token, df,
             cast(round(1e6 * ln(cast(n_docs + 1 as double)
                                 / cast(df + 1 as double)), 0) as bigint)
               as idf_micro
      from df, n
    )
    select t.doc_id,
           cast(cast(cast(concat('0x', substr(md5(t.token), 1, 8)) as ubigint)
                % {_TFIDF_DIMS} as bigint) as bigint) as dim,
           cast(sum(t.tf * i.idf_micro) as bigint) as weight_micro,
           cast(count(*) as bigint) as n_terms
    from tf t join idf i using (token)
    group by 1, 2
    """,
)
def text_hashed_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick TF-IDF: sparse (doc_id, dim, weight_micro, n_terms)
    rows over _TFIDF_DIMS md5-hashed dimensions (see module comment)."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    idf = df.crossJoin(F.broadcast(n)).select(
        "token",
        F.round(
            F.lit(1e6)
            * F.log(
                (F.col("n_docs") + 1).cast("double") / (F.col("df") + 1).cast("double")
            ),
            0,
        )
        .cast("bigint")
        .alias("idf_micro"),
    )
    dim = (
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("bigint")
        % _TFIDF_DIMS
    )
    # explicit shuffle-hash: at sf0.001 static size estimates would
    # BROADCAST the tf side — the O(corpus-tokens) relation, a scale
    # killer at 10^12 docs. Both sides are token-volume; hash-join on
    # the token key with the (smaller) vocab side as build, no sorts.
    return (
        tf.join(idf.hint("shuffle_hash"), "token")
        .groupBy("doc_id", dim.alias("dim"))
        .agg(
            F.sum(F.col("tf") * F.col("idf_micro")).alias("weight_micro"),
            F.count("*").cast("bigint").alias("n_terms"),
        )
    )


# --- BM25-shaped retrieval top-k ------------------------------------------------
# Integer fixed-point BM25 variant, exact-by-spec like the forecast fits:
# k1 = 12/10 and b = 3/4 enter as exact rationals, avgdl as an integer
# (greatest(1, total_tokens div n_docs)), and the idf keeps Robertson's
# (N - df + 0.5)/(df + 0.5) ARGUMENT un-logged (monotone in true idf)
# scaled to micro units and capped at 1e12 so every product stays inside
# int64 up to N = 10^12 docs and dl < 10^6 tokens. All divisions are
# trunc-on-nonnegative (Spark `div` == DuckDB `//`), all sums integer,
# so ranks are bit-identical across engines and shuffle orders. The cap
# and the un-logged idf are the documented deviations from textbook
# BM25 (a float ln would hash-differently across libm builds).
_BM25_IDF_CAP = 10**12


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    checkpoint_tokens: bool = False,
) -> DataFrame:
    """(doc_id, text) x (query_id, qtext) -> per-query top-k docs by the
    integer BM25 spec above: (query_id, doc_id, score_micro, rank).

    Scale shape: term stats aggregate map-side (shuffle O(postings),
    never O(tokens x queries)); the tiny query-term table broadcasts
    into the postings join twice (term restriction, then df attach); the
    per-query top-k is the row_number-filter pattern Spark rewrites to
    WindowGroupLimit (per-partition partial top-k before the final
    shuffle — the same plan-audited shape as w3_topk_area). Docs with no
    tokens define neither N nor avgdl (they can never match), which
    keeps both constants derivable from the dl table alone.
    """
    from pyspark.sql.window import Window

    k = int(k)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # checkpoint_tokens is the materialize-vs-rescan dial: lazily the
    # corpus is tokenized once for the stats action and three more
    # times inside the scoring job (tf->dft, tf->join, dl); eagerly
    # checkpointing tf tokenizes ONCE but writes a corpus-sized
    # intermediate. Measured at sf0.1 (~130-char docs): lazy ~1.15s,
    # checkpointed ~1.3-2.0s — re-scanning tiny docs beats
    # materializing. On wide-document corpora (100KB pages) the
    # explode dominates and the checkpoint wins; flip it there.
    # The checkpoint ALSO pins one corpus materialization: lazily, the
    # n_docs/avgdl action and the scoring job scan `docs` separately,
    # so a non-deterministic input plan (unseeded sampling, files
    # rewritten between actions) could mix two corpora — pass
    # checkpoint_tokens=True for snapshot consistency in that case.
    if checkpoint_tokens:
        tf = tf.localCheckpoint(eager=True)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n"), F.sum("dl").alias("tot")
    ).first()  # two scalars to the driver, like host_pagerank's n
    n_docs, tot = stats["n"], stats["tot"]
    spark = docs.sparkSession
    if not n_docs:
        return spark.createDataFrame(
            [], "query_id string, doc_id long, score_micro long, rank int"
        )
    avgdl = max(1, tot // n_docs)
    dft = tf.groupBy("term").agg(F.count("*").alias("dfreq"))
    qterms = queries.select(
        "query_id",
        F.explode(F.array_distinct(F.split(F.lower(F.col("qtext")), " "))).alias(
            "term"
        ),
    ).filter(F.col("term") != "")
    # restrict the (large) per-term df table by the (tiny) query terms,
    # then broadcast the restriction into the postings join
    qdf = F.broadcast(qterms).join(dft, "term")
    matched = tf.join(F.broadcast(qdf), "term").join(dl, "doc_id")
    idf = F.least(
        F.expr(f"(1000000 * (2 * ({n_docs} - dfreq) + 1)) div (2 * dfreq + 1)"),
        F.lit(_BM25_IDF_CAP),
    )
    contrib = F.expr(
        "(idf_micro * ((tf * 2200000 * 1000000) div"
        f" (tf * 1000000 + (12 * (250000 + (750000 * dl) div {avgdl})) div 10)))"
        " div 1000000"
    )
    scores = (
        matched.withColumn("idf_micro", idf)
        .select("query_id", "doc_id", contrib.alias("c"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias("score_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score_micro", "rank")
    )


_BM25_QUERIES = (
    ("q1", "hash join strategy"),
    ("q2", "window agg stream"),
    ("q3", "vector scan filter"),
)


def _bm25_oracle_sql(k: int = 5) -> str:
    vals = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)
    return f"""
    with toks as (
      select doc_id, term from (
        select doc_id, unnest(string_split(lower(text), ' ')) as term
        from documents) where term <> ''
    ),
    tf as (select doc_id, term, cast(count(*) as bigint) as tf
           from toks group by doc_id, term),
    dl as (select doc_id, cast(count(*) as bigint) as dl
           from toks group by doc_id),
    dft as (select term, cast(count(*) as bigint) as dfreq
            from tf group by term),
    consts as (select cast(count(*) as bigint) as n_docs,
                      greatest(1, cast(sum(dl) as bigint) // count(*)) as avgdl
               from dl),
    q(query_id, qtext) as (values {vals}),
    qterms as (
      select distinct query_id, term from (
        select query_id, unnest(string_split(lower(qtext), ' ')) as term
        from q) where term <> ''
    ),
    matched as (
      select qt.query_id, tf.doc_id,
             (least((1000000 * (2 * ((select n_docs from consts) - d.dfreq) + 1))
                      // (2 * d.dfreq + 1), {_BM25_IDF_CAP})
              * ((tf.tf * 2200000 * 1000000)
                   // (tf.tf * 1000000
                       + (12 * (250000 + (750000 * dl.dl)
                                  // (select avgdl from consts))) // 10)))
               // 1000000 as c
      from qterms qt
      join dft d using (term)
      join tf using (term)
      join dl on dl.doc_id = tf.doc_id
    ),
    scores as (select query_id, doc_id, cast(sum(c) as bigint) as score_micro
               from matched group by query_id, doc_id)
    select query_id, doc_id, score_micro, rank from (
      select query_id, doc_id, score_micro,
             cast(row_number() over (partition by query_id
                    order by score_micro desc, doc_id) as int) as rank
      from scores)
    where rank <= {k}
    """


@op("text_bm25_topk", _bm25_oracle_sql())
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-shaped retrieval over the documents table for three fixed
    literal queries: integer fixed-point scoring (bit-exact cross-engine
    by spec — see bm25_topk) -> per-query top-5 with a doc_id tiebreak."""
    qdf = spark.createDataFrame(list(_BM25_QUERIES), "query_id string, qtext string")
    return bm25_topk(_docs(spark, sf_dir), qdf, k=5)


# --- Zipf corpus-health report -----------------------------------------------
#
# One-row observability for the token distribution: the log-log slope
# of the top-100 rank-frequency curve (natural text sits near -1;
# keyword-stuffed or machine-generated corpora flatten or steepen it)
# plus total-token and vocabulary mass. The regression is EXACT where
# it matters: ln(rank)/ln(tf) are quantized to integer milli-nats (the
# PMI convention — same IEEE ln on identical integer inputs in both
# engines, round-half-away identical), and the least-squares slope is
# emitted as an exact integer numerator/denominator pair
# (n*Sxy - Sx*Sy, n*Sxx - Sx*Sx) with the divided milli-slope as a
# derived convenience column computed by the same canonical sequence.
#
# Scale: one token-count shuffle (map-side combined, O(vocab) out),
# top-100 via TakeOrderedAndProject (never a global sort), the window
# ranks 100 rows, totals ride a broadcast 1-row cross-join.

_ZIPF_TOP = 100


@op(
    "corpus_zipf_report",
    f"""
    with toks as (
      select unnest(string_split(text, ' ')) as token from documents
    ),
    stats as (
      select token, cast(count(*) as bigint) as tf
      from toks where token != '' group by token
    ),
    totals as (
      select cast(sum(tf) as bigint) as total_tokens,
             cast(count(*) as bigint) as vocab_size
      from stats
    ),
    top as (
      select tf, row_number() over (order by tf desc, token) as rank
      from stats
      order by tf desc, token
      limit {_ZIPF_TOP}
    ),
    pts as (
      select cast(round(1000 * ln(cast(rank as double)), 0) as bigint) as x,
             cast(round(1000 * ln(cast(tf as double)), 0) as bigint) as y
      from top
    ),
    s as (
      select cast(count(*) as bigint) as n,
             cast(sum(x) as bigint) as sx, cast(sum(y) as bigint) as sy,
             cast(sum(x * x) as bigint) as sxx,
             cast(sum(x * y) as bigint) as sxy
      from pts
    )
    select s.n as n_top, t.total_tokens, t.vocab_size,
           cast(s.n * s.sxy - s.sx * s.sy as bigint) as slope_num,
           cast(s.n * s.sxx - s.sx * s.sx as bigint) as slope_den,
           case when s.n * s.sxx - s.sx * s.sx > 0
                then cast(round(1000.0 * cast(s.n * s.sxy - s.sx * s.sy as double)
                                / cast(s.n * s.sxx - s.sx * s.sx as double), 0)
                          as bigint)
           end as slope_milli
    from s cross join totals t
    """,
)
def corpus_zipf_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row Zipf report: (n_top, total_tokens, vocab_size,
    slope_num, slope_den, slope_milli)."""
    d = _docs(spark, sf_dir)
    toks = d.select(
        F.explode(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).alias(
            "token"
        )
    )
    stats = toks.groupBy("token").agg(F.count("*").cast("long").alias("tf"))
    totals = stats.agg(
        F.sum("tf").cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
    )
    top = stats.orderBy(F.col("tf").desc(), "token").limit(_ZIPF_TOP)
    # ranking 100 rows: fold the LIMIT'd frame into one sorted array
    # and posexplode (rank = position) — no WindowExec, so no
    # "No Partition Defined" WARN in the bench tail
    ranked = (
        top.agg(
            F.sort_array(
                F.collect_list(
                    F.struct((-F.col("tf")).alias("nt"), "token", "tf")
                )
            ).alias("rows")
        )
        .select(F.posexplode("rows").alias("pos", "r"))
        .select(
            (F.col("pos") + 1).cast("long").alias("rank"),
            F.col("r.tf").alias("tf"),
        )
    )
    pts = ranked.select(
        F.round(F.lit(1000) * F.log(F.col("rank").cast("double")), 0)
        .cast("long")
        .alias("x"),
        F.round(F.lit(1000) * F.log(F.col("tf").cast("double")), 0)
        .cast("long")
        .alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.crossJoin(F.broadcast(totals)).select(
        F.col("n").alias("n_top"),
        "total_tokens",
        "vocab_size",
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        F.when(
            den > 0,
            F.round(
                F.lit(1000.0) * num.cast("double") / den.cast("double"), 0
            ).cast("long"),
        ).alias("slope_milli"),
    )
