"""Distributed n-gram language-model scoring (CCNet/KenLM-style).

The CCNet recipe (Wenzek et al. 2020) filters web text by the
perplexity of a small LM trained on a trusted reference corpus. This
module implements that shape Spark-first: train an add-one-smoothed
bigram model over the English slice of ``documents`` entirely with
DataFrame aggregations (no UDF, no driver-side model), then score every
document by joining its bigram stream against the model.

Cross-engine exactness follows the repo invariant: counts are exact
integers in both engines; each bigram's log-probability
``ln((c12+1)/(c1+V))`` is computed on identical IEEE doubles (a ratio
of exact integers) and quantized to integer micro-nats BEFORE the
per-document sum, so the aggregation is exact-integer in both engines
and association order cannot matter. The only cross-engine exposure is
a <=1-ulp libm difference in ``ln`` landing exactly on a 5e-7
quantization boundary — measured zero hits over every sf tier.

Scale story (100 TB): the model is trained on the *reference* slice
(CCNet trains on Wikipedia, not on the crawl), so the model size is
bounded by the curated corpus, not the input. Both model joins are
plain equi-joins on the bigram/context keys — AQE broadcasts them when
small and falls back to shuffle hash joins (with skew split) when the
reference corpus is large; nothing is collected to the driver. The
``min_count`` dial prunes rare bigrams from the model (unseen at score
time), trading model size for smoothing — default 1 keeps the model
exact w.r.t. the oracle.

Reference analog: the classifier-confidence gates (F1/F2,
``classification_service/app/main.py``) are per-document quality
scores deciding routing; the LM score is the corpus-level version of
the same decision, as SURVEY.md SS2.8's quality-scoring family
prescribes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op

_TRAIN_LANG = "en"


def _bigrams(tokens: Column) -> Column:
    """array<string> -> array<struct<w1,w2>> of adjacent pairs.

    Caller must guarantee size >= 2: Spark's sequence(1, n) DESCENDS
    for n < 1 instead of returning empty (unlike DuckDB's range), so an
    unguarded 1-token doc would produce a reversed bogus pair.
    """
    n = F.size(tokens)
    return F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(
            F.element_at(tokens, i).alias("w1"),
            F.element_at(tokens, i + 1).alias("w2"),
        ),
    )


def bigram_lm_tables(docs: DataFrame, min_count: int = 1) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the bigram model on the trusted slice.

    Returns (bigram_counts(w1, w2, c12), context_counts(w1, c1),
    vocab(v_size)) — all small DataFrames derived from one pass over
    the training slice. ``c1`` is the context count (sum of c12 over
    w2), derived from the bigram table so the two can never disagree.
    """
    train = docs.where(F.col("lang") == _TRAIN_LANG)
    toks = train.select(F.split(F.col("text"), " ").alias("t")).where(F.size("t") >= 2)
    pairs = toks.select(F.explode(_bigrams(F.col("t"))).alias("p")).select("p.w1", "p.w2")
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    if min_count > 1:
        big = big.where(F.col("c12") >= min_count)
    ctx = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        train.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .agg(F.countDistinct("tok").alias("v_size"))
    )
    return big, ctx, vocab


def score_documents(docs: DataFrame, big: DataFrame, ctx: DataFrame, vocab: DataFrame) -> DataFrame:
    """Score every >=2-token document against the trained model.

    Output per doc: n_bigrams, oov_bigrams (pairs the model never saw),
    lm_logprob_micro (exact-integer sum of per-pair micro-nat
    log-probs). More negative = less reference-like; the CCNet keep
    decision is a threshold on lm_logprob_micro/n_bigrams.
    """
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("t")).where(F.size("t") >= 2)
    pairs = toks.select("doc_id", F.explode(_bigrams(F.col("t"))).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    scored = (
        pairs.join(big, ["w1", "w2"], "left")
        .join(ctx, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.coalesce(F.col("c12"), F.lit(0)).alias("c12"),
            F.coalesce(F.col("c1"), F.lit(0)).alias("c1"),
            "v_size",
        )
    )
    # ln of a ratio of exact integers: the int->double casts and the
    # division are IEEE-exact-rounded identically in both engines;
    # quantize to integer micro-nats BEFORE summing (repo invariant:
    # never aggregate raw floats whose association order differs).
    # Guarded against the empty-model edge (v_size = 0 -> ratio = inf,
    # whose ANSI bigint cast would throw): an empty training slice
    # yields NULL scores — loud downstream, never garbage.
    denom = (F.col("c1") + F.col("v_size")).cast("double")
    q = F.when(
        denom > 0,
        F.round(F.lit(1e6) * F.log((F.col("c12") + 1).cast("double") / denom), 0).cast("bigint"),
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum(F.when(F.col("c12") == 0, 1).otherwise(0)).alias("oov_bigrams"),
        F.sum(q).alias("lm_logprob_micro"),
    )


_LM_ORACLE = f"""
    with toks as (
      select doc_id, lang, string_split(text, ' ') as t from documents
    ),
    train_pairs as (
      select t[u.i] as w1, t[u.i+1] as w2
      from toks, unnest(range(1, len(t))) u(i)
      where lang = '{_TRAIN_LANG}'
    ),
    big as (
      select w1, w2, count(*) as c12 from train_pairs group by 1, 2
    ),
    ctx as (
      select w1, sum(c12) as c1 from big group by 1
    ),
    vocab as (
      select count(distinct u.tok) as v_size
      from toks, unnest(t) u(tok)
      where lang = '{_TRAIN_LANG}'
    ),
    score_pairs as (
      select doc_id, t[u.i] as w1, t[u.i+1] as w2
      from toks, unnest(range(1, len(t))) u(i)
    ),
    joined as (
      select p.doc_id,
             coalesce(b.c12, 0) as c12,
             coalesce(c.c1, 0) as c1,
             v.v_size
      from score_pairs p
      left join big b on p.w1 = b.w1 and p.w2 = b.w2
      left join ctx c on p.w1 = c.w1
      cross join vocab v
    )
    select doc_id,
           count(*) as n_bigrams,
           cast(sum(case when c12 = 0 then 1 else 0 end) as bigint) as oov_bigrams,
           cast(sum(cast(round(1e6 * ln(cast(c12 + 1 as double)
                                        / cast(c1 + v_size as double)), 0)
                         as bigint)) as bigint)
             as lm_logprob_micro
    from joined
    group by doc_id
"""


@op("text_lm_score", _LM_ORACLE)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: add-one bigram model trained on
    the English slice, every document scored by exact-integer micro-nat
    log-prob sum. Train + score are pure DataFrame aggregations/joins;
    the oracle replays both stages in SQL with identical quantization."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    big, ctx, vocab = bigram_lm_tables(docs)
    return score_documents(docs, big, ctx, vocab)


# --- PMI collocations ------------------------------------------------------

_MIN_PAIR = 5  # standard min-support cut: PMI is unstable on rare pairs


_PMI_ORACLE = f"""
    with toks as (
      select doc_id, string_split(text, ' ') as t from documents
    ),
    pairs as (
      select t[u.i] as w1, t[u.i+1] as w2
      from toks, unnest(range(1, len(t))) u(i)
    ),
    big as (
      select w1, w2, count(*) as c12 from pairs group by 1, 2
      having count(*) >= {_MIN_PAIR}
    ),
    uni as (
      select u.tok as token, count(*) as c from toks, unnest(t) u(tok) group by 1
    ),
    n as (select count(*) as n_pairs from pairs)
    select b.w1, b.w2, b.c12,
           cast(round(1e6 * (ln(cast(b.c12 as double)) + ln(cast(n.n_pairs as double))
                             - ln(cast(u1.c as double)) - ln(cast(u2.c as double))), 0)
                as bigint) as pmi_micro_nats
    from big b
    join uni u1 on b.w1 = u1.token
    join uni u2 on b.w2 = u2.token
    cross join n
    order by pmi_micro_nats desc, b.w1, b.w2
    limit 100
"""


_NB_SALT = ":nbtrain"  # distinct from shard_coin's ":shard" — splits must not correlate


_NB_ORACLE = f"""
    with coined as (
      select *, substr(md5(cast(doc_id as varchar) || '{_NB_SALT}'), 1, 1) < '8'
                  as is_train
      from documents
    ),
    doctf as (
      select doc_id, u.tok as token, count(*) as tf
      from coined, unnest(list_filter(string_split(text, ' '), x -> x != '')) u(tok)
      group by 1, 2
    ),
    traintok as (
      select lang, u.tok as token, count(*) as c_lt
      from coined, unnest(list_filter(string_split(text, ' '), x -> x != '')) u(tok)
      where is_train
      group by 1, 2
    ),
    langs as (
      select lang, sum(c_lt) as c_l from traintok group by 1
    ),
    priors as (
      select lang, count(*) as n_l from coined where is_train group by 1
    ),
    consts as (
      select count(distinct token) as v_size,
             (select count(*) from coined where is_train) as n_train
      from traintok
    ),
    scored as (
      select d.doc_id, l.lang,
             cast(sum(d.tf * cast(round(1e6 * ln(cast(coalesce(t.c_lt, 0) + 1 as double)
                                                 / cast(l.c_l + c.v_size as double)), 0)
                                  as bigint))
                  + cast(round(1e6 * ln(cast(p.n_l as double)
                                        / cast(c.n_train as double)), 0) as bigint)
                  as bigint)
               as score_micro
      from doctf d
      cross join langs l
      join priors p on p.lang = l.lang
      cross join consts c
      left join traintok t on t.token = d.token and t.lang = l.lang
      group by d.doc_id, l.lang, p.n_l, c.n_train
    ),
    ranked as (
      select doc_id, lang as pred_lang, score_micro,
             row_number() over (partition by doc_id
                                order by score_micro desc, lang) as rn,
             lead(score_micro) over (partition by doc_id
                                     order by score_micro desc, lang) as second
      from scored
    )
    select r.doc_id, c.lang, c.is_train, r.pred_lang,
           r.score_micro, r.score_micro - r.second as margin_micro,
           r.pred_lang = c.lang as correct
    from ranked r join coined c using (doc_id)
    where r.rn = 1
"""


def nb_langid(docs: DataFrame) -> DataFrame:
    """Trained multinomial Naive-Bayes language classifier — the
    fastText-style model-based filtering stage of an LLM data pipeline
    (GPT-3/LLaMA-class corpora gate documents with exactly this shape:
    train a cheap linear classifier on a labeled slice, score the whole
    crawl, keep by predicted class/margin). Input: (doc_id, lang, text).

    Train/apply split is the deterministic md5 coin (top hex digit <
    '8' ~ 50%, salt ':nbtrain' so it cannot correlate with the shard
    split). Per-token log-likelihoods ln((c_lt+1)/(c_l+V)) are ratios
    of exact integers quantized to micro-nats BEFORE the tf-weighted
    sum (repo invariant), the class prior joins in the same integer
    form, so the per-(doc, lang) score is an exact integer in both
    engines and the argmax — row_number over (score desc, lang) — is a
    total order that cannot diverge on ties. The runner-up score prices
    the decision margin.

    Scale: the model is V x n_langs rows (bounded by the labeled
    corpus, not the crawl); doc tokens collapse to (doc, token, tf)
    first, the langs/priors/consts dims broadcast, and the model join
    is a token equi-join AQE broadcasts when small. The only window is
    partitioned by doc_id over exactly n_langs rows.
    """
    coin = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_NB_SALT)))
    coined = docs.withColumn("is_train", F.substring(coin, 1, 1) < "8")
    tok = F.explode(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).alias(
        "token"
    )
    doctf = (
        coined.select("doc_id", tok)
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    traintok = (
        coined.where("is_train")
        .select("lang", tok)
        .groupBy("lang", "token")
        .agg(F.count("*").alias("c_lt"))
    )
    langs = traintok.groupBy("lang").agg(F.sum("c_lt").alias("c_l"))
    priors = coined.where("is_train").groupBy("lang").agg(F.count("*").alias("n_l"))
    consts = traintok.agg(F.countDistinct("token").alias("v_size")).crossJoin(
        coined.where("is_train").agg(F.count("*").alias("n_train"))
    )
    q_tok = F.col("tf") * F.round(
        F.lit(1e6)
        * F.log(
            (F.coalesce(F.col("c_lt"), F.lit(0)) + 1).cast("double")
            / (F.col("c_l") + F.col("v_size")).cast("double")
        ),
        0,
    ).cast("bigint")
    prior_q = F.round(
        F.lit(1e6)
        * F.log(F.col("n_l").cast("double") / F.col("n_train").cast("double")),
        0,
    ).cast("bigint")
    model = traintok.select(
        F.col("token").alias("m_token"), F.col("lang").alias("m_lang"), "c_lt"
    )
    scored = (
        doctf.crossJoin(F.broadcast(langs.join(priors, "lang")))
        .crossJoin(F.broadcast(consts))
        .join(
            model,
            (F.col("token") == F.col("m_token")) & (F.col("lang") == F.col("m_lang")),
            "left",
        )
        .groupBy("doc_id", "lang", "n_l", "n_train")
        .agg(F.sum(q_tok).alias("ll_micro"))
        .select(
            "doc_id",
            "lang",
            (F.col("ll_micro") + prior_q).alias("score_micro"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score_micro"), "lang")
    ranked = scored.select(
        "doc_id",
        F.col("lang").alias("pred_lang"),
        "score_micro",
        F.row_number().over(w).alias("rn"),
        F.lead("score_micro").over(w).alias("second"),
    ).where(F.col("rn") == 1)
    return (
        ranked.join(coined.select("doc_id", "lang", "is_train"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "is_train",
            "pred_lang",
            "score_micro",
            (F.col("score_micro") - F.col("second")).alias("margin_micro"),
            (F.col("pred_lang") == F.col("lang")).alias("correct"),
        )
    )


@op("classify_nb_langid", _NB_ORACLE)
def classify_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry for :func:`nb_langid` over the documents table. Note
    the synthetic corpus draws all five langs from ONE shared 31-token
    vocabulary, so corpus accuracy (~0.44) reflects the data's lexical
    ceiling, not the operator — `tests/test_lm.py` proves the model
    learns on a separable fixture via a pure-Python differential twin.
    """
    return nb_langid(spark.read.parquet(f"{sf_dir}/documents.parquet"))


@op("text_pmi_collocations", _PMI_ORACLE)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 PMI collocations over the corpus bigrams (min support
    _MIN_PAIR=5). PMI is computed as ln(c12)+ln(N)-ln(c1)-ln(c2) — the SAME
    IEEE op sequence in both engines (mirrored verbatim in the oracle),
    never the product form whose int64 multiply overflows at crawl
    scale — then quantized to integer micro-nats; the top-100 cut is
    totally ordered by (pmi desc, w1, w2) so ranking cannot diverge.
    Plan: two count shuffles + model equi-joins; the limit runs as
    TakeOrderedAndProject, never a global sort materialization.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.split(F.col("text"), " ").alias("t")).where(F.size("t") >= 2)
    pairs = toks.select(F.explode(_bigrams(F.col("t"))).alias("p")).select("p.w1", "p.w2")
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .where(F.col("c12") >= _MIN_PAIR)
    )
    uni = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    n = pairs.agg(F.count("*").alias("n_pairs"))
    u1 = uni.select(F.col("token").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.lit(1e6)
        * (
            F.log(F.col("c12").cast("double"))
            + F.log(F.col("n_pairs").cast("double"))
            - F.log(F.col("c1").cast("double"))
            - F.log(F.col("c2").cast("double"))
        ),
        0,
    ).cast("bigint")
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
        .select("w1", "w2", "c12", pmi.alias("pmi_micro_nats"))
        .orderBy(F.desc("pmi_micro_nats"), "w1", "w2")
        .limit(100)
    )


# --- calibration report (model observability) --------------------------------
#
# A margin-gated corpus filter is only as good as the margin's
# CALIBRATION: "keep if margin > tau" silently decays when the model
# drifts from the corpus. This op is the observability roll-up a
# pipeline runs per snapshot: eval-split documents bucketed by
# prediction margin (400k-micro-nat-wide buckets, top bucket open),
# with per-bucket accuracy in exact basis points. Read it like a
# reliability diagram: accuracy should rise with margin; a flat or
# inverted tail means the gate threshold is meaningless. (The shared-
# vocabulary fixture keeps absolute accuracy near its lexical ceiling
# ~0.36-0.44 — the REPORT is what's verified here; the model's ability
# to learn a separable fixture is pinned in test_lm.py.)
#
# Scale: rides nb_langid's existing plan (broadcast model joins), adds
# ONE tiny hash agg keyed by <= 8 buckets. Exact integers throughout.

_CAL_BUCKET_W = 400_000  # micro-nats per margin bucket
_CAL_TOP = 7  # buckets 0..7, top bucket open-ended


_CAL_ORACLE = f"""
    with nb as ({_NB_ORACLE}),
    ev as (
      select least(margin_micro // {_CAL_BUCKET_W}, {_CAL_TOP}) as margin_bucket,
             cast(correct as int) as ok
      from nb where not is_train
    )
    select margin_bucket,
           cast(count(*) as bigint) as n_docs,
           cast(sum(ok) as bigint) as n_correct,
           cast(10000 * cast(sum(ok) as bigint) // count(*) as bigint) as acc_bp
    from ev group by 1
"""


@op("classify_calibration_report", _CAL_ORACLE)
def classify_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(margin_bucket, n_docs, n_correct, acc_bp) over the eval split —
    the reliability diagram a margin-thresholding corpus gate is tuned
    against."""
    s = nb_langid(spark.read.parquet(f"{sf_dir}/documents.parquet")).filter(
        ~F.col("is_train")
    )
    return (
        s.select(
            F.least(
                F.expr(f"margin_micro div {_CAL_BUCKET_W}"), F.lit(_CAL_TOP)
            ).alias("margin_bucket"),
            F.col("correct").cast("int").alias("ok"),
        )
        .groupBy("margin_bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ok").cast("long").alias("n_correct"),
        )
        .withColumn(
            "acc_bp", F.expr("cast(10000 * n_correct div n_docs as bigint)")
        )
    )
