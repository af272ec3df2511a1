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

from ocr_application_spark.operators.ann_ivf import _TRAIN_CAP, _TRAIN_MOD
from ocr_application_spark.operators.registry import op

M_SUB = 8  # subvectors per vector
K_SUB = 16  # centroids per subspace (uint8 code, 16 used)
_K_TOP = 10
_QMOD = 50  # vec_id % 50 == 0 -> query set (same as ann_ivf)
# absolute bound on the collected/broadcast query set AND on the
# per-row ADC score array — the mod filter alone grows with the corpus
# (the r01 IVF driver-OOM class); TakeOrdered keeps this deterministic
_Q_CAP = 1_000


def train_pq_codebooks(
    spark: SparkSession, sf_dir: str, m: int = M_SUB, k: int = K_SUB
) -> np.ndarray:
    """Per-subspace Lloyd's k-means on the bounded deterministic sample
    (vec_id % _TRAIN_MOD == 0, then the _TRAIN_CAP smallest vec_ids via
    distributed TakeOrdered — same driver-OOM-proof recipe as
    ``ann_ivf.train_codebook``). Vectors are L2-normalized BEFORE the
    subspace split so ADC inner products are cosine scores. Init =
    first k sample rows per subspace, 8 iterations, empty cells keep
    their previous centroid — fully deterministic at any parallelism.

    Returns float64 codebooks of shape (m, k, d // m).
    """
    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % _TRAIN_MOD == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(_TRAIN_CAP)
        .collect()
    )
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    if not len(x):
        raise ValueError("empty training sample")
    # a tiny corpus (sf0.001 smoke) yields fewer sample rows than k:
    # shrink the codebook rather than fitting phantom centroids
    k = min(k, len(x))
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    sub = d // m
    books = np.empty((m, k, sub), dtype=np.float64)
    for j in range(m):
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
        x = np.stack(emb.to_numpy()).astype(np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
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


def _adc_udf(spark: SparkSession, books: np.ndarray, queries: np.ndarray):
    """codes -> array<double> of ADC inner-product scores, one per query.

    The per-batch work is two numpy gathers: LUT[m, k] per query is
    precomputed ONCE per executor from the broadcast state, then a
    batch of N code rows scores against all Q queries via fancy
    indexing — no Python loop over rows.
    """
    bc_books = spark.sparkContext.broadcast(books)
    bc_q = spark.sparkContext.broadcast(queries)
    state: dict = {}

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def adc(codes: pd.Series) -> pd.Series:
        if "lut" not in state:
            b = bc_books.value  # (m, k, sub)
            q = bc_q.value.astype(np.float64)  # (Q, d)
            qn = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
            m, k, sub = b.shape
            qs = qn.reshape(len(qn), m, sub)  # (Q, m, sub)
            # lut[m, k, Q]: dot(query subvector j, centroid c of book j)
            state["lut"] = np.einsum("qms,mks->mkq", qs, b)
        lut = state["lut"]
        c = np.stack(codes.to_numpy()).astype(np.int64)  # (N, m)
        scores = np.zeros((c.shape[0], lut.shape[2]))
        for j in range(c.shape[1]):  # loop over M subspaces, not rows
            scores += lut[j][c[:, j]]  # gather -> (N, Q)
        return pd.Series(list(scores))

    return adc


_SHORTLIST = 100  # ADC candidates per query handed to the exact re-rank


def _load_queries(vecs: DataFrame):
    q_rows = (
        vecs.filter(F.col("vec_id") % _QMOD == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(_Q_CAP)
        .collect()
    )
    q_ids = [int(r.vec_id) for r in q_rows]
    q_mat = np.array([r.embedding for r in q_rows], dtype=np.float64)
    return q_ids, q_mat


def pq_shortlist(
    spark: SparkSession,
    sf_dir: str,
    m: int = M_SUB,
    shortlist: int = _SHORTLIST,
) -> DataFrame:
    """ADC shortlist: encode the corpus once, score every code row
    against the broadcast query set, keep the ``shortlist`` best per
    query BY COMPRESSED SCORE ONLY.

    Output (q_id, cand_id, adc_rank, adc_score). The scan side touches
    only (vec_id, codes) — M bytes per vector; the cut is
    WindowGroupLimit over a bounded per-row score array (<= _Q_CAP
    entries), never a cartesian.
    """
    books = train_pq_codebooks(spark, sf_dir, m=m)
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q_ids, q_mat = _load_queries(vecs)
    codes = encode_pq(spark, vecs, books)
    adc = _adc_udf(spark, books, q_mat)
    scored = codes.select(
        F.col("vec_id").alias("cand_id"),
        F.posexplode(adc("codes")).alias("q_pos", "adc_score"),
    )
    qmap = spark.createDataFrame(
        [(i, v) for i, v in enumerate(q_ids)], "q_pos int, q_id long"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("adc_score"), "cand_id")
    return (
        scored.join(F.broadcast(qmap), "q_pos")
        .withColumn("adc_rank", F.row_number().over(w))
        .filter(F.col("adc_rank") <= shortlist)
        .select("q_id", "q_pos", "cand_id", "adc_rank", "adc_score")
    )


def pq_topk(
    spark: SparkSession,
    sf_dir: str,
    m: int = M_SUB,
    k_top: int = _K_TOP,
    shortlist: int = _SHORTLIST,
) -> DataFrame:
    """PQ top-k, production shape: ADC shortlist, then EXACT cosine
    re-rank of only those candidates (the Jegou et al. IVF-PQ recipe).
    Full-precision vectors are touched for Q x shortlist rows total —
    at 10^12 corpus vectors the exact math runs on a 10^-8 sliver while
    the scan reads 8-byte codes. ``shortlist`` is the recall/cost dial
    (recall curve in PERF.md). Output (q_id, cand_id, rank, cos_sim),
    the same shape as the IVF/exhaustive top-k.
    """
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _, q_mat = _load_queries(vecs)
    qn = q_mat / np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-12)
    bc_q = spark.sparkContext.broadcast(qn)

    @F.pandas_udf(T.DoubleType())
    def exact_cos(q_pos: pd.Series, emb: pd.Series) -> pd.Series:
        q = bc_q.value
        x = np.stack(emb.to_numpy()).astype(np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series((x * q[q_pos.to_numpy()]).sum(axis=1))

    sl = pq_shortlist(spark, sf_dir, m=m, shortlist=shortlist)
    full = vecs.select(F.col("vec_id").alias("cand_id"), "embedding")
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), "cand_id")
    return (
        sl.join(full, "cand_id")
        .withColumn("cos_sim", exact_cos("q_pos", "embedding"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_top)
        .select("q_id", "cand_id", "rank", "cos_sim")
    )


@op("ann_pq_topk")  # rows-only BY DESIGN: no SQL oracle can refit k-means
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate entry for the PQ-ADC + exact-rerank path (see module
    docstring for why it is rows-only and outside the driver window;
    the value contract is pytest-pinned in tests/test_ann_pq.py)."""
    return pq_topk(spark, sf_dir)


# --- IVF-PQ composition ------------------------------------------------------


def build_ivfpq_index(
    spark: SparkSession, sf_dir: str, path: str, m: int = M_SUB
) -> tuple[np.ndarray, np.ndarray]:
    """Materialize the IVF-PQ index (Jegou et al. 2011, the composed
    production design): rows carry ONLY (vec_id, codes) — M bytes of
    payload — written PARTITIONED BY coarse cell, so a probe reads
    nprobe/k of the corpus at 1/32 of the bytes. Full-precision vectors
    never enter the index; they stay in the base table and are read
    solely for the Q x shortlist re-rank join.

    Returns (coarse codebook, PQ codebooks), both trained on the same
    bounded deterministic sample recipes as their standalone ops.
    """
    from ocr_application_spark.operators.ann_ivf import (
        _centroid_udfs,
        train_codebook,
    )

    cent = train_codebook(spark, sf_dir)
    books = train_pq_codebooks(spark, sf_dir, m=m)
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


def _adc_at_udf(spark: SparkSession, books: np.ndarray, queries: np.ndarray):
    """(codes, q_pos) -> double: ADC score of one code row against ONE
    query — the per-candidate form used after the cell join (each
    candidate row already knows which query probed it)."""
    bc_books = spark.sparkContext.broadcast(books)
    bc_q = spark.sparkContext.broadcast(queries)
    state: dict = {}

    @F.pandas_udf(T.DoubleType())
    def adc_at(codes: pd.Series, q_pos: pd.Series) -> pd.Series:
        if "lut" not in state:
            b = bc_books.value
            q = bc_q.value.astype(np.float64)
            qn = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
            m, k, sub = b.shape
            qs = qn.reshape(len(qn), m, sub)
            state["lut"] = np.einsum("qms,mks->mkq", qs, b)  # (m, k, Q)
        lut = state["lut"]
        c = np.stack(codes.to_numpy()).astype(np.int64)  # (N, m)
        qp = q_pos.to_numpy().astype(np.int64)
        scores = np.zeros(len(qp))
        for j in range(c.shape[1]):
            scores += lut[j][c[:, j], qp]
        return pd.Series(scores)

    return adc_at


def ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    cent: np.ndarray,
    books: np.ndarray,
    nprobe: int = 4,
    k_top: int = _K_TOP,
    shortlist: int = _SHORTLIST,
) -> DataFrame:
    """Query the on-disk IVF-PQ index: the bounded query set's probe
    cells are computed driver-side (numpy over <= _Q_CAP x k scores)
    and broadcast into the join against the cell-partitioned scan, so
    dynamic partition pruning restricts the file read to the probed
    cells; candidates are scored by ADC (codes only), shortlisted, and
    exact-cosine re-ranked from the base table. ``nprobe == k`` probes
    everything — pinned equal to the standalone ``pq_topk`` in pytest
    (the composition changes WHERE candidates come from, never the
    math). No self-filter: like ``pq_topk``, a query finds itself.
    """
    from ocr_application_spark.operators.ann_ivf import _centroid_udfs

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q_ids, q_mat = _load_queries(vecs)
    qn = q_mat / np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-12)
    nprobe = max(1, min(int(nprobe), len(cent)))
    # the probe set derives from the FILTERED embeddings scan (not a
    # local relation): the selective predicate is what lets dynamic
    # partition pruning push the probed-cell set into the index scan —
    # the same shape as ann_ivf.probe_inverted_file, plan-asserted.
    # q_pos (the LUT row) rides in via a broadcast of the bounded
    # collected query list, which also enforces the _Q_CAP bound.
    _, probe_cells = _centroid_udfs(spark, cent, nprobe=nprobe)
    qmap = spark.createDataFrame(
        [(i, v) for i, v in enumerate(q_ids)], "q_pos int, q_id long"
    )
    qdf = (
        vecs.filter(F.col("vec_id") % _QMOD == 0)
        .join(F.broadcast(qmap), F.col("vec_id") == F.col("q_id"))
        .select("q_pos", "q_id", F.explode(probe_cells("embedding")).alias("cell"))
    )
    index = spark.read.parquet(path)
    adc_at = _adc_at_udf(spark, books, q_mat)
    wa = Window.partitionBy("q_id").orderBy(F.desc("adc_score"), "cand_id")
    sl = (
        index.join(F.broadcast(qdf), "cell")
        .select(
            "q_pos",
            "q_id",
            F.col("vec_id").alias("cand_id"),
            adc_at("codes", "q_pos").alias("adc_score"),
        )
        .withColumn("adc_rank", F.row_number().over(wa))
        .filter(F.col("adc_rank") <= shortlist)
    )
    bc_q = spark.sparkContext.broadcast(qn)

    @F.pandas_udf(T.DoubleType())
    def exact_cos(q_pos: pd.Series, emb: pd.Series) -> pd.Series:
        q = bc_q.value
        x = np.stack(emb.to_numpy()).astype(np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series((x * q[q_pos.to_numpy()]).sum(axis=1))

    full = vecs.select(F.col("vec_id").alias("cand_id"), "embedding")
    wr = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), "cand_id")
    return (
        sl.join(full, "cand_id")
        .withColumn("cos_sim", exact_cos("q_pos", "embedding"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k_top)
        .select("q_id", "cand_id", "rank", "cos_sim")
    )
