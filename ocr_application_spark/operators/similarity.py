"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

Brute-force cosine top-k as the exactness baseline and sign-LSH
bucketing as the scale path. Cross-engine exactness trick: embeddings
are quantized to integers (round(x*1000)) first, so dot products and
norms are exact integer arithmetic in both engines; the only float op is
one final division+sqrt on identical inputs -> bit-identical cosines,
stable top-k order.

Scale: brute force is O(Q*N) — fine for a broadcast query set (Q small);
the LSH variant buckets candidates so the join is sub-quadratic for
N*N near-dup mining. At 100 TB you'd go IVF: k-means coarse centroids
(pyspark.ml), probe nearest cells only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_application_spark.operators.registry import op

DIM = 64
_K = 5
_QMOD = 100  # vec_id % _QMOD == 0 -> query vector


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _quant(col):
    """array<float> -> array<bigint>, q = round(x*1000) (exact both engines)."""
    return F.transform(col, lambda x: F.round(x.cast("double") * 1000.0, 0).cast("bigint"))


_QUANT_SQL = "list_transform({c}, x -> cast(round(cast(x as double) * 1000.0, 0) as bigint))"


def _dot(a, b):
    # zip_with binds a/b as lambda-free arguments evaluated once per row;
    # the element_at(a, i)-over-sequence form re-evaluates the captured
    # column per element under interpreted HOF eval (O(DIM²) when `a` is
    # itself an inlined transform, e.g. the quantization)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )


def _dot_sql(a: str, b: str) -> str:
    return (
        f"cast(list_aggregate(list_transform(range(1, {DIM + 1}), "
        f"i -> {a}[i] * {b}[i]), 'sum') as bigint)"
    )


# --- brute-force cosine top-k -------------------------------------------------
_COSINE_TOPK_ORACLE = f"""
    with q0 as (
      select vec_id as q_id, {_QUANT_SQL.format(c='embedding')} as qv
      from embeddings where vec_id % {_QMOD} = 0
    ),
    q as (select q_id, qv, {_dot_sql('qv', 'qv')} as qn from q0),
    c0 as (
      select vec_id as cand_id, {_QUANT_SQL.format(c='embedding')} as cv
      from embeddings
    ),
    c as (select cand_id, cv, {_dot_sql('cv', 'cv')} as cn from c0),
    scored as (
      select q_id, cand_id,
             cast({_dot_sql('qv', 'cv')} as double)
               / sqrt(cast(qn as double) * cast(cn as double)) as cos
      from q cross join c
      where q_id != cand_id
    )
    select q_id, cand_id, rank, cos as cos_sim from (
      select q_id, cand_id, cos,
             row_number() over (partition by q_id order by cos desc, cand_id) as rank
      from scored) t
    where rank <= {_K}
    """


@op("ann_cosine_topk", _COSINE_TOPK_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set against
    all candidates — a broadcast nested-loop join, no shuffle of the big
    side; top-k per query via WindowGroupLimit. Dot products via
    zip-multiply + fold, all JVM-side array ops."""
    e = _emb(spark, sf_dir)
    # self-norms are projected ONCE per vector before the join — inside
    # the join each candidate's norm would be re-folded per PAIR by the
    # interpreted HOF evaluator (no codegen for aggregate/zip_with),
    # ~2/3 of the fold work for free (VERDICT r01)
    q = (
        e.filter(F.col("vec_id") % _QMOD == 0)
        .select(F.col("vec_id").alias("q_id"), _quant(F.col("embedding")).alias("qv"))
        .withColumn("qn", _dot(F.col("qv"), F.col("qv")))
    )
    c = (
        e.select(F.col("vec_id").alias("cand_id"), _quant(F.col("embedding")).alias("cv"))
        .withColumn("cn", _dot(F.col("cv"), F.col("cv")))
    )
    return quantized_topk(c.crossJoin(F.broadcast(q)))


def quantized_topk(cand: DataFrame) -> DataFrame:
    """THE quantized-exact scored-top-k op sequence over a candidate
    frame (q_id, qv, qn, cand_id, cv, cn): integer dot product, ONE
    double div+sqrt, desc-cos/cand_id tie-break, row_number <= _K —
    shared by ``ann_cosine_topk`` and ``ann_ivf.ann_ivf_exhaustive`` so
    the oracle-pinned scoring sequence cannot diverge between the
    brute-force and IVF machinery (only the candidate SOURCE differs)."""
    cos = _dot(F.col("qv"), F.col("cv")).cast("double") / F.sqrt(
        F.col("qn").cast("double") * F.col("cn").cast("double")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "cand_id")
    return (
        cand.filter(F.col("q_id") != F.col("cand_id"))
        .withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _K)
        .select("q_id", "cand_id", "rank", F.col("cos").alias("cos_sim"))
    )


# --- sign-LSH bucketing ---------------------------------------------------------
_N_PLANES = 8


def _plane_coef(k: int, i: int) -> int:
    # deterministic integer hyperplanes: coef in [-6, 6]
    return ((k * 67 + i * 31) % 13) - 6


def _lsh_bit(vcol, k: int):
    coefs = F.lit([_plane_coef(k, i) for i in range(1, DIM + 1)])
    s = F.aggregate(
        F.zip_with(vcol, coefs, lambda x, c: x * c.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return F.when(s > 0, F.lit(1 << k)).otherwise(F.lit(0))


def _lsh_bit_sql(k: int) -> str:
    coefs = "[" + ", ".join(str(_plane_coef(k, i)) for i in range(1, DIM + 1)) + "]"
    s = (
        f"cast(list_aggregate(list_transform(range(1, {DIM + 1}), "
        f"i -> qv[i] * ({coefs})[i]), 'sum') as bigint)"
    )
    return f"(case when {s} > 0 then {1 << k} else 0 end)"


def _bucket_col(qv):
    """The ONE sign-LSH bucket expression (8 planes -> 256 buckets),
    shared by ann_lsh_buckets and emb_neardup_pairs so the scheme can
    never silently diverge between them."""
    bucket = None
    for k in range(_N_PLANES):
        term = _lsh_bit(qv, k)
        bucket = term if bucket is None else bucket + term
    return bucket


@op(
    "ann_lsh_buckets",
    f"""
    with q as (
      select vec_id, {_QUANT_SQL.format(c='embedding')} as qv from embeddings
    )
    select vec_id, {" + ".join(_lsh_bit_sql(k) for k in range(_N_PLANES))} as bucket
    from q
    """,
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH: 8 deterministic integer hyperplanes -> 8 sign bits ->
    256 buckets. Candidate generation for near-dup joins becomes an
    equi-join on bucket (plus neighboring-bucket probes for recall) —
    the sub-quadratic path at corpus scale."""
    e = _emb(spark, sf_dir)
    q = e.select("vec_id", _quant(F.col("embedding")).alias("qv"))
    return q.select("vec_id", _bucket_col(F.col("qv")).alias("bucket"))


# --- LSH-bucketed near-dup pairs ---------------------------------------------------
_NEARDUP_TAU = 0.30  # corpus is random -> low tau so the check exercises rows


def _bucketed(e: DataFrame) -> DataFrame:
    """(vec_id, qv, n, bucket) — THE quant + self-norm + sign-LSH-bucket
    projection shared by the near-dup pair family (norm projected ONCE
    per vector before any join; see ann_cosine_topk)."""
    q = e.select("vec_id", _quant(F.col("embedding")).alias("qv"))
    return q.withColumn("n", _dot(F.col("qv"), F.col("qv"))).withColumn(
        "bucket", _bucket_col(F.col("qv"))
    )


def _cosine(a: str, b: str) -> F.Column:
    """Quantized-exact cosine of the aliased (qv, n) sides ``a`` and
    ``b``: exact integer dot, ONE double div+sqrt."""
    return _dot(F.col(f"{a}.qv"), F.col(f"{b}.qv")).cast("double") / F.sqrt(
        F.col(f"{a}.n").cast("double") * F.col(f"{b}.n").cast("double")
    )


def _scored_bucket_pairs(left: DataFrame, right: DataFrame, left_bucket: str = "bucket") -> DataFrame:
    """THE bucketed-pair scoring sequence — equi-join on the (probe)
    bucket with vec_id<, ``_cosine``, tau filter, canonical (vec_a,
    vec_b, cos_sim) output — shared by ``emb_neardup_pairs`` and
    ``emb_neardup_multiprobe`` so the oracle-pinned scoring can never
    silently diverge between the single-probe and multiprobe variants
    (only the candidate SOURCE differs; same discipline as
    ``quantized_topk`` / ``_bucket_col``)."""
    a, b2 = left.alias("a"), right.alias("b2")
    return (
        a.join(
            b2,
            (F.col(f"a.{left_bucket}") == F.col("b2.bucket"))
            & (F.col("a.vec_id") < F.col("b2.vec_id")),
        )
        .withColumn("cos", _cosine("a", "b2"))
        .filter(F.col("cos") >= _NEARDUP_TAU)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b2.vec_id").alias("vec_b"),
            F.col("cos").alias("cos_sim"),
        )
    )


def _neardup_pairs_sql(multiprobe: bool) -> str:
    """ONE SQL template for both near-dup pair oracles — the probes CTE
    and the pair source are the only differences, mirroring the Spark
    helpers above."""
    probes_cte = f""",
    probes as (
      select vec_id, qv, n, u.pbucket
      from b, unnest([bucket,
                      {", ".join(f"xor(bucket, {1 << k})" for k in range(_N_PLANES))}
                     ]) u(pbucket)
    )"""
    src = (
        "probes a join b b2 on a.pbucket = b2.bucket"
        if multiprobe
        else "b a join b b2 on a.bucket = b2.bucket"
    )
    return f"""
    with q as (
      select vec_id, {_QUANT_SQL.format(c='embedding')} as qv from embeddings
    ),
    b as (
      select vec_id, qv, {_dot_sql('qv', 'qv')} as n,
             {" + ".join(_lsh_bit_sql(k) for k in range(_N_PLANES))} as bucket
      from q
    ){probes_cte if multiprobe else ""},
    pairs as (
      select a.vec_id as vec_a, b2.vec_id as vec_b,
             cast({_dot_sql('a.qv', 'b2.qv')} as double)
               / sqrt(cast(a.n as double) * cast(b2.n as double)) as cos
      from {src} and a.vec_id < b2.vec_id
    )
    select vec_a, vec_b, cos as cos_sim
    from pairs where cos >= {_NEARDUP_TAU}
    """


@op("emb_neardup_pairs", _neardup_pairs_sql(False))
def emb_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup mining: LSH-bucket equi-join (sub-quadratic
    candidates) -> exact quantized cosine -> threshold. Same-bucket
    restriction = the LSH recall/cost tradeoff."""
    b = _bucketed(_emb(spark, sf_dir))
    return _scored_bucket_pairs(b, b)


@op("emb_neardup_multiprobe", _neardup_pairs_sql(True))
def emb_neardup_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe variant of ``emb_neardup_pairs`` — the RECALL dial of
    the sign-LSH scheme: each vector also probes the 8 buckets at
    Hamming distance 1 (one sign bit flipped), so a near-dup pair split
    by exactly one noisy hyperplane is still found. Cost/recall trade
    made explicit: the probe side expands 9x before the bucket
    equi-join (still sub-quadratic; the join stays an equi-join, never
    all-pairs). Each qualifying pair matches EXACTLY once — distance-0
    via the identity probe, distance-1 via the single flipped-bit probe
    that reaches the partner's bucket — so the output needs no distinct
    and is a strict superset of the single-probe pairs (pinned by
    test_multiprobe_superset_of_single_probe)."""
    b = _bucketed(_emb(spark, sf_dir))
    probes = b.withColumn(
        "pbucket",
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << k)) for k in range(_N_PLANES)],
            )
        ),
    )
    return _scored_bucket_pairs(probes, b, left_bucket="pbucket")


# --- semantic dedup clusters --------------------------------------------------
# emb_neardup_pairs says which documents are semantically near-dups;
# dedup needs the transitive clusters (A~B~C => one survivor). Reuses
# the checkpointed min-label propagation from dedup.py over the
# embedding pair graph; the oracle is the same recursive-CTE transitive
# closure over the emb_neardup SQL.
_EMB_COMPONENTS_ORACLE = f"""
    with recursive q as (
      select vec_id, {_QUANT_SQL.format(c='embedding')} as qv from embeddings
    ),
    b as (
      select vec_id, qv, {_dot_sql('qv', 'qv')} as n,
             {" + ".join(_lsh_bit_sql(k) for k in range(_N_PLANES))} as bucket
      from q
    ),
    pairs as (
      select a.vec_id as vec_a, b2.vec_id as vec_b
      from b a join b b2 on a.bucket = b2.bucket and a.vec_id < b2.vec_id
      where cast({_dot_sql('a.qv', 'b2.qv')} as double)
              / sqrt(cast(a.n as double) * cast(b2.n as double)) >= {_NEARDUP_TAU}
    ),
    edges as (
      select vec_a as u, vec_b as v from pairs
      union all
      select vec_b as u, vec_a as v from pairs
    ),
    reach(u, v) as (
      select vec_id, vec_id from embeddings
      union
      select e.u, r.v from edges e join reach r on e.v = r.u
    )
    select u as doc_id, min(v) as rep
    from reach group by u
"""


@op("emb_neardup_components", _EMB_COMPONENTS_ORACLE)
def emb_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup clusters: (doc_id, rep) with rep = smallest vec_id
    reachable through embedding near-dup pairs — the emb-space twin of
    dedup_components, one canonical survivor per semantic cluster."""
    from ocr_application_spark.operators.dedup import propagate_components

    pairs = emb_neardup_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    nodes = _emb(spark, sf_dir).select(F.col("vec_id").alias("doc_id"))
    return propagate_components(pairs, nodes)


# --- incremental semantic ingest against a persisted vector index -------------
def _near_match(x: DataFrame, y: DataFrame, rel) -> DataFrame:
    """``match`` for the embedding ingest: x vectors sharing the LSH
    bucket of a y vector with ``_cosine`` >= ``_NEARDUP_TAU``."""
    return (
        x.alias("x")
        .join(
            y.alias("y"),
            [F.col("x.bucket") == F.col("y.bucket"), rel(F.col("x.vec_id"), F.col("y.vec_id"))],
        )
        .filter(_cosine("x", "y") >= _NEARDUP_TAU)
        .select(F.col("x.vec_id").alias("vec_id"))
        .distinct()
    )


def embedding_index_ingest(
    spark: SparkSession,
    index_path: str,
    vectors: DataFrame,
    *,
    op_label: str = "embedding-ingest",
) -> tuple[DataFrame, int]:
    """Semantic recrawl ingest of ``vectors`` (``vec_id``,
    ``embedding``) against a persisted index of (vec_id, bucket, qv, n)
    rows (sign-LSH bucket, quantized vector, integer self-norm), under
    the shared rule of ``dedup._retained_index_ingest``. Evidence is a
    quantized-exact ``_cosine`` >= ``_NEARDUP_TAU`` with a vector
    sharing the LSH bucket (the recall/cost trade of
    ``emb_neardup_pairs``). Verdicts are 'known_neardup',
    'neardup_in_increment' or 'novel'."""
    from ocr_application_spark.operators.dedup import _retained_index_ingest

    return _retained_index_ingest(
        spark,
        index_path,
        vectors.select("vec_id").distinct(),
        _bucketed(vectors).select("vec_id", "bucket", "qv", "n"),
        _near_match,
        ("neardup_in_increment", "known_neardup"),
        ("embedding_index_ingest", "embedding_index_verdicts"),
        op_label,
    )
