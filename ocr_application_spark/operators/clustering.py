"""Embedding clustering + cluster-bounded semantic dedup (SemDeDup).

Two operators over the ``embeddings`` table (array<float>, dim 64):

* ``emb_kmeans_assign`` — Lloyd's k-means with K broadcast centroids
  and a FIXED number of rounds. The 100-TB shape: centroids are always
  tiny (K rows), so every assignment pass is a broadcast nested-loop
  over the big side — no shuffle of the vectors, ever; the update pass
  shuffles only (K * DIM) partial sums (map-side combined). This is the
  same coarse-quantizer shape ann_ivf.py trains, exposed as a
  first-class clustering operator with a full cross-engine oracle.

* ``emb_semdedup`` — SemDeDup (Abbas et al. 2023): exact-threshold
  cosine dedup WITHIN k-means clusters only. The cluster partition is
  what bounds the pair join at scale: candidate pairs are
  O(sum cluster_size^2), never O(N^2), and the K dial trades recall
  (near-dups split across cluster borders) for cost exactly like LSH
  band dials elsewhere in this repo. Verdict rule: a vector is dropped
  iff SOME smaller-vec_id vector in its cluster is cosine-similar above
  the threshold (deterministic, engine-order-free — deliberately the
  transitive-free variant; chained/greedy keep-lists need the
  dedup.py component machinery instead). The threshold is a dial
  (``semdedup_verdicts(num2=, den2=)`` — cos >= sqrt(num2/den2)); the
  GATE pins cos >= 1/4 (num2=1, den2=16), NOT the ~0.9 of real
  deployments, because the synthetic fixture is near-isotropic (see
  the dial comment at ``_SEM_NUM2``).

Cross-engine exactness: embeddings ride the repo's integer
quantization (round(x*1000) — similarity.py); squared-L2 distances and
dot products are exact bigint folds; the ONLY float op per k-means
round is the per-dim centroid mean, computed as ONE canonical IEEE
sequence mirrored verbatim in SQL — cast(sum as double) /
cast(count as double), round(, 0), cast to bigint (round-half-away is
identical in Spark and DuckDB) — so centroids are bit-identical
integers in both engines and every downstream distance is exact. The
cosine threshold is evaluated in pure integers by cross-multiplying:
cos >= sqrt(num2/den2)  <=>  dot > 0 AND den2*dot^2 >= num2*|a|^2*|b|^2
(e.g. a 9/10 production dial would be num2=81, den2=100; the shipped
gate dial is 1/4: num2=1, den2=16).

No reference analog (the reference has no embedding ops); this is
training-data-pipeline machinery graded first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op
from ocr_application_spark.operators.similarity import (
    DIM,
    _dot,
    _dot_sql,
    _quant,
    _QUANT_SQL,
)


_KM_K = 8  # centroids
_KM_ROUNDS = 3  # Lloyd update rounds (assignment T+1 is the output)
# SemDeDup cosine threshold as an exact rational. Real deployments run
# ~0.9+; the synthetic embeddings fixture is near-isotropic (measured:
# within-label mean cos 0.002, p99 0.29), so the GATE runs the dial at
# cos >= 1/4 — low enough that the drop path is exercised by real data
# instead of being vacuously all-kept. cos >= 1/4 <=> dot > 0 AND
# 16*dot^2 >= |a|^2*|b|^2.
_SEM_NUM2 = 1  # (1/4)^2 numerator
_SEM_DEN2 = 16


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return e.select("vec_id", _quant(F.col("embedding")).alias("qv"))


def _sqdist(a, b):
    """Exact integer squared L2 over quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, qv) x (cid, cv) -> (vec_id, qv, cid, dist_sq): nearest
    centroid, smallest cid on exact ties. Broadcast NLJ over the big
    side; argmin as an integer min(struct) — no window, no shuffle of
    the vectors beyond the final groupBy(vec_id) hash agg."""
    cand = vecs.crossJoin(F.broadcast(cents)).withColumn(
        "dist_sq", _sqdist(F.col("qv"), F.col("cv"))
    )
    return (
        cand.groupBy("vec_id")
        .agg(
            F.first("qv").alias("qv"),
            F.min(F.struct("dist_sq", "cid")).alias("m"),
        )
        .select("vec_id", "qv", F.col("m.cid").alias("cid"), F.col("m.dist_sq").alias("dist_sq"))
    )


def _update(assigned: DataFrame, cents: DataFrame) -> DataFrame:
    """New centroids: per-dim rounded mean of member vectors (the ONE
    canonical float sequence — see module docstring); clusters that
    lost every member keep their previous centroid (standard Lloyd
    empty-cluster rule, mirrored in the oracle)."""
    dims = (
        assigned.select("cid", F.posexplode("qv").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        .select(
            "cid",
            "pos",
            F.round(F.col("s").cast("double") / F.col("n").cast("double"), 0)
            .cast("bigint")
            .alias("dim"),
        )
    )
    fresh = (
        dims.groupBy("cid")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "dim"))).alias("pd"))
        .select("cid", F.transform("pd", lambda x: x["dim"]).alias("cv_new"))
    )
    return (
        cents.select("cid", "cv")
        .join(fresh, "cid", "left")
        .select("cid", F.coalesce("cv_new", "cv").alias("cv"))
    )


def kmeans_assignments(
    spark: SparkSession, sf_dir: str, k: int = _KM_K, rounds: int = _KM_ROUNDS
) -> DataFrame:
    """Run ``rounds`` Lloyd rounds from the deterministic seed
    (centroids = the ``k`` smallest vec_ids) and return the FINAL
    assignment (vec_id, qv, cid, dist_sq). The gate pins the
    (k=_KM_K, rounds=_KM_ROUNDS) point against the unrolled SQL; other
    settings share every code path (the dials are data-independent)."""
    k, rounds = int(k), int(rounds)
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    vecs = _vecs(spark, sf_dir)
    # seed = the k SMALLEST vec_ids (TakeOrderedAndProject, k rows) —
    # not a `vec_id < k` literal filter, which would silently return an
    # empty assignment on any table whose ids don't start near 0
    # (ADVICE r04). On a table with fewer than k vectors the seed is
    # every vector (the standard degenerate); only an empty input
    # yields an empty result.
    cents = (
        vecs.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"))
    )
    for _ in range(rounds):
        assigned = _assign(vecs, cents)
        cents = _update(assigned, cents)
    # constant round count -> constant plan depth; no checkpoint needed
    # (contrast the unbounded loops in dedup.py, which must truncate)
    return _assign(vecs, cents)


def _kmeans_oracle() -> str:
    """The verbatim SQL unroll of kmeans_assignments: same seed, same
    integer distances, same canonical rounded-mean, same empty-cluster
    carry, _KM_ROUNDS update rounds + final assignment."""
    qv = _QUANT_SQL.format(c="embedding")
    sq = (
        f"cast(list_aggregate(list_transform(range(1, {DIM + 1}), "
        f"i -> (v.qv[i] - c.cv[i]) * (v.qv[i] - c.cv[i])), 'sum') as bigint)"
    )
    blocks = [
        f"v as (select vec_id, {qv} as qv from embeddings)",
        # seed = k smallest vec_ids (mirrors the Spark sort/limit seed)
        f"c0 as (select vec_id as cid, qv as cv from v order by vec_id limit {_KM_K})",
    ]
    for t in range(1, _KM_ROUNDS + 1):
        prev, a, u, d, n, c = f"c{t-1}", f"a{t}", f"u{t}", f"d{t}", f"n{t}", f"c{t}"
        blocks += [
            f"""{a} as (
  select vec_id, cid, dist_sq from (
    select v.vec_id, c.cid, {sq} as dist_sq,
           row_number() over (partition by v.vec_id
                              order by {sq}, c.cid) as rn
    from v cross join {prev} c) t
  where rn = 1)""",
            f"""{u} as (
  select a.cid, u.i as pos, cast(sum(v.qv[u.i]) as bigint) as s,
         count(*) as n
  from {a} a join v using (vec_id)
  cross join unnest(range(1, {DIM + 1})) u(i)
  group by 1, 2)""",
            f"""{d} as (
  select cid, pos,
         cast(round(cast(s as double) / cast(n as double), 0) as bigint) as dim
  from {u})""",
            f"{n} as (select cid, list(dim order by pos) as cv from {d} group by cid)",
            f"""{c} as (
  select p.cid, coalesce(n.cv, p.cv) as cv
  from {prev} p left join {n} n using (cid))""",
        ]
    last = f"c{_KM_ROUNDS}"
    joined = ",\n".join(blocks)
    return f"""
    with {joined}
    select vec_id, cid as cluster_id, dist_sq from (
      select v.vec_id, c.cid, {sq} as dist_sq,
             row_number() over (partition by v.vec_id
                                order by {sq}, c.cid) as rn
      from v cross join {last} c) t
    where rn = 1
    """


@op("emb_kmeans_assign", _kmeans_oracle())
def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster assignment: (vec_id, cluster_id, dist_sq) after
    _KM_ROUNDS exact Lloyd rounds. Broadcast-centroid assignment (zero
    vector shuffles), (K x DIM)-row update shuffles, bit-identical
    integer centroids in both engines."""
    return kmeans_assignments(spark, sf_dir).select(
        "vec_id", F.col("cid").alias("cluster_id"), "dist_sq"
    )


def _semdedup_oracle() -> str:
    km = _kmeans_oracle().strip()
    # reuse the full kmeans unroll as a subquery; pair scan inside
    # clusters only, integer cross-multiplied cosine threshold
    dotab = _dot_sql("a.qv", "b.qv")
    return f"""
    with asg as ({km}),
    withv as (
      select asg.vec_id, asg.cluster_id, v2.qv,
             {_dot_sql("v2.qv", "v2.qv")} as nrm
      from asg join (select vec_id, {_QUANT_SQL.format(c="embedding")} as qv
                     from embeddings) v2 using (vec_id)
    ),
    dropped as (
      select distinct b.vec_id
      from withv a join withv b
        on a.cluster_id = b.cluster_id and a.vec_id < b.vec_id
      where {dotab} > 0
        and {_SEM_DEN2} * ({dotab}) * ({dotab}) >= {_SEM_NUM2} * a.nrm * b.nrm
    )
    select w.vec_id, w.cluster_id,
           (d.vec_id is null) as kept
    from withv w left join dropped d using (vec_id)
    """


def semdedup_verdicts(
    spark: SparkSession,
    sf_dir: str,
    *,
    num2: int = _SEM_NUM2,
    den2: int = _SEM_DEN2,
    k: int = _KM_K,
    rounds: int = _KM_ROUNDS,
) -> DataFrame:
    """SemDeDup verdict: (vec_id, cluster_id, kept) — kept=false iff a
    smaller-vec_id vector in the SAME k-means cluster has
    cosine >= sqrt(num2/den2), evaluated by exact integer
    cross-multiplication (no float compare). Defaults are the gate
    dial (cos >= 1/4 — see ``_SEM_NUM2``); a production ~0.9 gate is
    ``num2=81, den2=100``. The cluster equi-join bounds pairs at
    O(sum cluster_size^2): the K dial, not an N^2 self-join, is what
    meets a 10^12-vector corpus."""
    num2, den2 = int(num2), int(den2)
    if num2 < 0 or den2 < 1:
        raise ValueError(f"need num2 >= 0 and den2 >= 1, got {num2}/{den2}")
    # the assignment is referenced three times below (both pair-join
    # sides + the verdict join), so without materialization the whole
    # k-means subtree triplicates in the plan. Measured at sf0.1:
    # eager localCheckpoint 5.7s, nothing 7.7s, bounded_cache persist
    # 8.6s (the columnar cache encode costs more than it saves here),
    # so checkpoint wins; its blocks are O(vectors) and live until the
    # session ends — long-lived sessions can free them with
    # session.release_local_checkpoint once the result is consumed.
    asg = (
        kmeans_assignments(spark, sf_dir, k=k, rounds=rounds)
        .withColumn("nrm", _dot(F.col("qv"), F.col("qv")))
        .localCheckpoint(eager=True)
    )
    a = asg.select(
        F.col("cid"),
        F.col("vec_id").alias("a_id"),
        F.col("qv").alias("a_qv"),
        F.col("nrm").alias("a_nrm"),
    )
    b = asg.select(
        F.col("cid"),
        F.col("vec_id").alias("b_id"),
        F.col("qv").alias("b_qv"),
        F.col("nrm").alias("b_nrm"),
    )
    dot = _dot(F.col("a_qv"), F.col("b_qv"))
    dropped = (
        a.join(b, "cid")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("dot", dot)
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(den2) * F.col("dot") * F.col("dot")
                >= F.lit(num2) * F.col("a_nrm") * F.col("b_nrm")
            )
        )
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return asg.join(
        dropped.withColumn("hit", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        F.col("hit").isNull().alias("kept"),
    )


@op("emb_semdedup", _semdedup_oracle())
def emb_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate pin of ``semdedup_verdicts`` at the default dials
    (cos >= 1/4, k=_KM_K, rounds=_KM_ROUNDS) against the unrolled SQL
    oracle; other dial settings share every code path."""
    return semdedup_verdicts(spark, sf_dir)
