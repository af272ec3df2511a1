"""Product quantization (PQ) — the ANN memory-compression scale path.

IVF (``ann_ivf.py``) cuts the CANDIDATE COUNT; PQ cuts the BYTES PER
CANDIDATE: each dim-D float vector is split into M subvectors, each
quantized to one of K=16 per-subspace centroids, so a 64-dim float32
vector (256 B) becomes M uint8 codes (8 B at M=8 — 32x). At 10^12
vectors that is the difference between a 256 TB and an 8 TB index; with
both techniques composed (IVF-PQ, Jegou et al. 2011) the scan touches
nprobe/k of the corpus at 1/32 the bytes.

Spark realization mirrors the repo's broadcast-dimension discipline:
codebooks are trained driver-side on the SAME absolutely bounded
deterministic sample as the IVF codebook (TakeOrdered cap — never an
unbounded collect), broadcast as a few KB of numpy state, and both
encode and ADC scoring run as Arrow-batched pandas UDFs (never per-row
Python). Scoring is ADC (asymmetric distance computation): the query
stays full-precision, each of its M subvectors dots against all K
centroids once (an M x K lookup table), and a candidate's score is M
table lookups summed — by construction EXACTLY the inner product of
the query with the candidate's reconstruction, which ``encode ->
reconstruct -> dot`` pins bit-for-bit in pytest.

Approximate BY DESIGN (like ``ann_ivf_topk``): no SQL oracle can
reproduce the k-means fit, so the gate entry is rows-only and sits
outside the driver window per the VERDICT-r02 #8 discipline; the value
contract is pytest-pinned instead (ADC == reconstructed-dot equality,
deterministic codes, measured recall floor vs exhaustive cosine, and
the 32x size arithmetic).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ocr_application_spark.operators.ann_ivf import (
    N_PROBE,
    _centroid_udfs,
    _fit_coarse,
    _training_sample,
    _unit_rows,
)
from ocr_application_spark.operators.registry import op

M_SUB = 8  # subvectors per vector
K_SUB = 16  # centroids per subspace (uint8 code, 16 used)
_K_TOP = 10
# vec_id % 50 == 0 -> query set. NOT the ann_ivf/similarity query set
# (similarity._QMOD = 100): the recall floors of tests/test_ann_pq.py
# were measured on this one.
_QMOD = 50
# absolute bound on the collected/broadcast query set AND on the
# per-row ADC score array — the mod filter alone grows with the corpus
# (the r01 IVF driver-OOM class); TakeOrdered keeps this deterministic
_Q_CAP = 1_000


def train_pq_codebooks(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """Per-subspace Lloyd's k-means on the IVF codebook's bounded
    deterministic sample (``ann_ivf._training_sample``). Vectors are
    L2-normalized BEFORE the subspace split so ADC inner products are
    cosine scores. Init = first K_SUB sample rows per subspace, 8
    iterations, empty cells keep their previous centroid — fully
    deterministic at any parallelism.

    Returns float64 codebooks of shape (M_SUB, K_SUB, d // M_SUB).
    """
    return _fit_pq(_training_sample(spark, sf_dir))


def _fit_pq(x: np.ndarray) -> np.ndarray:
    """The per-subspace k-means fit of ``train_pq_codebooks`` on a
    loaded sample."""
    d = x.shape[1]
    if d % M_SUB:
        raise ValueError(f"dim {d} not divisible by m={M_SUB}")
    # a tiny corpus (sf0.001 smoke) yields fewer sample rows than K_SUB:
    # shrink the codebook rather than fitting phantom centroids
    k = min(K_SUB, len(x))
    sub = d // M_SUB
    books = np.empty((M_SUB, k, sub), dtype=np.float64)
    for j in range(M_SUB):
        xs = x[:, j * sub : (j + 1) * sub]
        cent = xs[:k].copy()
        for _ in range(8):
            # argmin of squared L2; ties -> lowest centroid index
            d2 = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def _encode_udf(spark: SparkSession, books: np.ndarray):
    """array<float> -> array<tinyint> of M per-subspace code ids."""
    bc = spark.sparkContext.broadcast(books)

    @F.pandas_udf(T.ArrayType(T.ByteType()))
    def encode(emb: pd.Series) -> pd.Series:
        b = bc.value
        m, k, sub = b.shape
        x = _unit_rows(np.stack(emb.to_numpy()).astype(np.float64))
        codes = np.empty((len(x), m), dtype=np.int8)
        for j in range(m):
            xs = x[:, j * sub : (j + 1) * sub]
            d2 = ((xs[:, None, :] - b[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = d2.argmin(axis=1).astype(np.int8)
        return pd.Series(list(codes))

    return encode


def encode_pq(spark: SparkSession, vecs: DataFrame, books: np.ndarray) -> DataFrame:
    """(vec_id, embedding) -> (vec_id, codes): the compressed index.

    A narrow map stage — no shuffle; at 10^12 rows the output is the
    only thing a scoring scan ever reads (M bytes + id per vector).
    """
    enc = _encode_udf(spark, books)
    return vecs.select("vec_id", enc("embedding").alias("codes"))


def _adc_udfs(spark: SparkSession, books: np.ndarray, queries: np.ndarray):
    """ADC scoring of code rows against the unit-norm query set, in the
    two shapes the candidate sources need:

      ``adc(codes)``         -> array<double>, one score per query (the
                                standalone shortlist scores every row);
      ``adc_at(codes, q_pos)`` -> double, the score against the ONE query
                                that probed the row (after the IVF cell
                                join).

    Both read the same LUT[m, k, Q] — the dot of query subvector j with
    centroid c of book j — built once per executor from the broadcast
    state; a batch of N code rows then scores with M numpy gathers, no
    Python loop over rows.
    """
    bc_books = spark.sparkContext.broadcast(books)
    bc_q = spark.sparkContext.broadcast(queries)
    state: dict = {}

    def _lut_and_codes(codes: pd.Series) -> tuple[np.ndarray, np.ndarray]:
        if "lut" not in state:
            b = bc_books.value  # (m, k, sub)
            q = bc_q.value  # (Q, d)
            m, k, sub = b.shape
            qs = q.reshape(len(q), m, sub)  # (Q, m, sub)
            state["lut"] = np.einsum("qms,mks->mkq", qs, b)
        return state["lut"], np.stack(codes.to_numpy()).astype(np.int64)  # (N, m)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def adc(codes: pd.Series) -> pd.Series:
        lut, c = _lut_and_codes(codes)
        scores = np.zeros((c.shape[0], lut.shape[2]))
        for j in range(c.shape[1]):  # loop over M subspaces, not rows
            scores += lut[j][c[:, j]]  # gather -> (N, Q)
        return pd.Series(list(scores))

    @F.pandas_udf(T.DoubleType())
    def adc_at(codes: pd.Series, q_pos: pd.Series) -> pd.Series:
        lut, c = _lut_and_codes(codes)
        qp = q_pos.to_numpy().astype(np.int64)
        scores = np.zeros(len(qp))
        for j in range(c.shape[1]):
            scores += lut[j][c[:, j], qp]
        return pd.Series(scores)

    return adc, adc_at


_SHORTLIST = 100  # ADC candidates per query handed to the exact re-rank


def _load_queries(spark: SparkSession, vecs: DataFrame) -> tuple[DataFrame, np.ndarray]:
    """The bounded query set: (q_pos -> q_id map, unit-norm query
    matrix whose row q_pos is query q_id)."""
    q_rows = (
        vecs.filter(F.col("vec_id") % _QMOD == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(_Q_CAP)
        .collect()
    )
    qmap = spark.createDataFrame(
        [(i, int(r.vec_id)) for i, r in enumerate(q_rows)], "q_pos int, q_id long"
    )
    return qmap, _unit_rows(np.array([r.embedding for r in q_rows], dtype=np.float64))


def _shortlist(scored: DataFrame, shortlist: int) -> DataFrame:
    """(q_id, q_pos, cand_id, adc_score) -> the ``shortlist`` best
    candidates per query BY COMPRESSED SCORE ONLY, with their adc_rank."""
    w = Window.partitionBy("q_id").orderBy(F.desc("adc_score"), "cand_id")
    return (
        scored.withColumn("adc_rank", F.row_number().over(w))
        .filter(F.col("adc_rank") <= shortlist)
        .select("q_id", "q_pos", "cand_id", "adc_rank", "adc_score")
    )


def _rerank(
    spark: SparkSession, sl: DataFrame, vecs: DataFrame, queries: np.ndarray
) -> DataFrame:
    """EXACT cosine re-rank of a shortlist against the full-precision
    base vectors, top _K_TOP per query: (q_id, cand_id, rank, cos_sim),
    the same shape as the IVF/exhaustive top-k. Full-precision vectors
    are touched for Q x shortlist rows only."""
    bc_q = spark.sparkContext.broadcast(queries)

    @F.pandas_udf(T.DoubleType())
    def exact_cos(q_pos: pd.Series, emb: pd.Series) -> pd.Series:
        x = _unit_rows(np.stack(emb.to_numpy()).astype(np.float64))
        return pd.Series((x * bc_q.value[q_pos.to_numpy()]).sum(axis=1))

    full = vecs.select(F.col("vec_id").alias("cand_id"), "embedding")
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), "cand_id")
    return (
        sl.join(full, "cand_id")
        .withColumn("cos_sim", exact_cos("q_pos", "embedding"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _K_TOP)
        .select("q_id", "cand_id", "rank", "cos_sim")
    )


def pq_shortlist(
    spark: SparkSession, sf_dir: str, shortlist: int = _SHORTLIST
) -> DataFrame:
    """ADC shortlist: encode the corpus once, score every code row
    against the broadcast query set, keep the ``shortlist`` best per
    query BY COMPRESSED SCORE ONLY.

    Output (q_id, q_pos, cand_id, adc_rank, adc_score). The scan side
    touches only (vec_id, codes) — M bytes per vector; the cut is
    WindowGroupLimit over a bounded per-row score array (<= _Q_CAP
    entries), never a cartesian.
    """
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _pq_shortlist(spark, sf_dir, vecs, *_load_queries(spark, vecs), shortlist)


def _pq_shortlist(
    spark: SparkSession,
    sf_dir: str,
    vecs: DataFrame,
    qmap: DataFrame,
    queries: np.ndarray,
    shortlist: int,
) -> DataFrame:
    """The body of ``pq_shortlist`` on an already loaded query set, so
    ``pq_topk`` collects its queries once for the shortlist and the
    re-rank."""
    books = train_pq_codebooks(spark, sf_dir)
    adc, _ = _adc_udfs(spark, books, queries)
    scored = encode_pq(spark, vecs, books).select(
        F.col("vec_id").alias("cand_id"),
        F.posexplode(adc("codes")).alias("q_pos", "adc_score"),
    )
    return _shortlist(scored.join(F.broadcast(qmap), "q_pos"), shortlist)


def pq_topk(spark: SparkSession, sf_dir: str, shortlist: int = _SHORTLIST) -> DataFrame:
    """PQ top-k, production shape: ADC shortlist, then EXACT cosine
    re-rank of only those candidates (the Jegou et al. IVF-PQ recipe).
    At 10^12 corpus vectors the exact math runs on a 10^-8 sliver while
    the scan reads 8-byte codes. ``shortlist`` is the recall/cost dial
    (recall curve in PERF.md).
    """
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qmap, queries = _load_queries(spark, vecs)
    sl = _pq_shortlist(spark, sf_dir, vecs, qmap, queries, shortlist)
    return _rerank(spark, sl, vecs, queries)


@op("ann_pq_topk")  # rows-only BY DESIGN: no SQL oracle can refit k-means
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry for the PQ-ADC + exact-rerank path (see module
    docstring for why it is rows-only and outside the driver window;
    the value contract is pytest-pinned in tests/test_ann_pq.py)."""
    return pq_topk(spark, sf_dir)


# --- IVF-PQ composition ------------------------------------------------------


def build_ivfpq_index(
    spark: SparkSession, sf_dir: str, path: str
) -> tuple[np.ndarray, np.ndarray]:
    """Materialize the IVF-PQ index (Jegou et al. 2011, the composed
    production design): rows carry ONLY (vec_id, codes) — M bytes of
    payload — written PARTITIONED BY coarse cell, so a probe reads
    nprobe/k of the corpus at 1/32 of the bytes. Full-precision vectors
    never enter the index; they stay in the base table and are read
    solely for the Q x shortlist re-rank join.

    Returns (coarse codebook, PQ codebooks), both fitted on one collect
    of the bounded deterministic sample their standalone ops train on.
    """
    x = _training_sample(spark, sf_dir)
    cent, books = _fit_coarse(x), _fit_pq(x)
    cell_of, _ = _centroid_udfs(spark, cent)
    enc = _encode_udf(spark, books)
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    (
        vecs.select(
            "vec_id",
            enc("embedding").alias("codes"),
            cell_of("embedding").alias("cell"),
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    return cent, books


def ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    cent: np.ndarray,
    books: np.ndarray,
    nprobe: int = N_PROBE,
    shortlist: int = _SHORTLIST,
) -> DataFrame:
    """Query the on-disk IVF-PQ index: the bounded query set's probe
    cells are broadcast into the join against the cell-partitioned
    scan, so dynamic partition pruning restricts the file read to the
    probed cells; candidates are scored by ADC (codes only),
    shortlisted, and exact-cosine re-ranked from the base table.
    ``nprobe == k`` probes everything — pinned equal to the standalone
    ``pq_topk`` in pytest (the composition changes WHERE candidates come
    from, never the math). No self-filter: like ``pq_topk``, a query
    finds itself.
    """
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qmap, queries = _load_queries(spark, vecs)
    # the probe set derives from the FILTERED embeddings scan (not a
    # local relation): the selective predicate is what lets dynamic
    # partition pruning push the probed-cell set into the index scan —
    # the same shape as ann_ivf.probe_inverted_file, plan-asserted.
    # q_pos (the LUT row) rides in via a broadcast of the bounded
    # collected query list, which also enforces the _Q_CAP bound.
    _, probe_cells = _centroid_udfs(spark, cent, nprobe=nprobe)
    qdf = (
        vecs.filter(F.col("vec_id") % _QMOD == 0)
        .join(F.broadcast(qmap), F.col("vec_id") == F.col("q_id"))
        .select("q_pos", "q_id", F.explode(probe_cells("embedding")).alias("cell"))
    )
    _, adc_at = _adc_udfs(spark, books, queries)
    scored = (
        spark.read.parquet(path)
        .join(F.broadcast(qdf), "cell")
        .select(
            "q_pos",
            "q_id",
            F.col("vec_id").alias("cand_id"),
            adc_at("codes", "q_pos").alias("adc_score"),
        )
    )
    return _rerank(spark, _shortlist(scored, shortlist), vecs, queries)
