"""IVF approximate-nearest-neighbor — the 100 TB similarity-search path.

Brute-force cosine (similarity.ann_cosine_topk) is O(Q*N); sign-LSH
buckets trade recall for cost. IVF is the standard scale design: train a
small coarse codebook (k-means), partition vectors by nearest centroid
(the inverted file), and probe only the closest cells at query time —
candidate count drops from N to N * nprobe / k.

Spark realization: the codebook is trained on a deterministic sample
with driver-side numpy (a few KB — exactly the broadcast-dimension
pattern, like the classifier weights), then broadcast; cell assignment
and probing run as vectorized pandas UDF batches. Two candidate
sources share the same probe semantics: the in-memory assignment
(``ann_ivf_topk``, rows-only driver check + recall pytest) and the
on-disk inverted file written PARTITIONED BY cell and read back under
dynamic partition pruning (``build_inverted_file``/
``probe_inverted_file``, pytest asserts disk == memory and that the
executed plan prunes).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ocr_application_spark.operators.registry import op
from ocr_application_spark.operators.similarity import (
    _COSINE_TOPK_ORACLE,
    _K,
    _QMOD,
    _dot,
    _quant,
    quantized_topk,
)

K_CELLS = 16
N_PROBE = 4
_TRAIN_MOD = 7  # vec_id % 7 == 0 -> training sample
_TRAIN_CAP = 50_000  # absolute bound on driver-collected training rows


def _unit_rows(x: np.ndarray) -> np.ndarray:
    """Each row of ``x`` scaled to unit L2 norm (all-zero rows stay zero)."""
    return x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)


def _training_sample(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """The ONE training sample of the ANN codebooks (IVF coarse and PQ
    per-subspace), unit-normalized: vec_id % _TRAIN_MOD == 0, then the
    _TRAIN_CAP smallest vec_ids.

    The mod filter alone grows linearly with the corpus (a driver OOM at
    10^12 rows — VERDICT r01); orderBy(vec_id).limit(cap) executes as a
    distributed TakeOrdered, so the driver materializes at most
    _TRAIN_CAP rows (~26 MB at dim 64) no matter how large the corpus
    is. Deterministic: same ids selected at any parallelism."""
    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") % _TRAIN_MOD == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(_TRAIN_CAP)
        .collect()
    )
    if not rows:
        raise ValueError("empty training sample")
    return _unit_rows(np.array([r.embedding for r in rows], dtype=np.float64))


def train_codebook(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """Deterministic Lloyd's k-means on the bounded training sample
    (``_training_sample``). numpy fit on the driver, init = first
    K_CELLS sample rows by vec_id — a codebook is a few KB of broadcast
    state, exactly like the classifier weights.
    """
    return _fit_coarse(_training_sample(spark, sf_dir))


def _fit_coarse(x: np.ndarray) -> np.ndarray:
    """The coarse k-means fit of ``train_codebook`` on a loaded sample."""
    cent = x[:K_CELLS].copy()
    for _ in range(8):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(K_CELLS):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def _centroid_udfs(spark: SparkSession, cent: np.ndarray, nprobe: int = N_PROBE):
    """The ONE implementation of centroid assignment/probing, shared by
    the in-memory and on-disk paths (a divergence here would break their
    equivalence test for reasons unrelated to storage). Broadcast once,
    deserialized lazily per worker. ``nprobe`` is the recall/cost dial:
    candidates scanned scale with nprobe/k (recall curve in PERF.md);
    nprobe == k degenerates to exact brute force (the oracle hook)."""
    bc = spark.sparkContext.broadcast(cent.tobytes())
    k_cells, dim = cent.shape
    nprobe = max(1, min(int(nprobe), k_cells))

    def _normed(emb: pd.Series) -> tuple[np.ndarray, np.ndarray]:
        c = np.frombuffer(bc.value, dtype=np.float64).reshape(k_cells, dim)
        return _unit_rows(np.stack(emb.to_numpy()).astype(np.float64)), c

    @F.pandas_udf(T.IntegerType())
    def cell_of(emb: pd.Series) -> pd.Series:
        x, c = _normed(emb)
        return pd.Series((x @ c.T).argmax(axis=1).astype("int32"))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(emb: pd.Series) -> pd.Series:
        x, c = _normed(emb)
        order = np.argsort(-(x @ c.T), axis=1)[:, :nprobe].astype("int32")
        return pd.Series(list(order))

    return cell_of, probe_cells


def _cosine_udf():
    @F.pandas_udf(T.DoubleType())
    def cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        x = np.stack(a.to_numpy()).astype(np.float64)
        y = np.stack(b.to_numpy()).astype(np.float64)
        num = (x * y).sum(axis=1)
        den = np.linalg.norm(x, axis=1) * np.linalg.norm(y, axis=1)
        return pd.Series(num / np.maximum(den, 1e-12))

    return cosine


def _probe_queries(spark: SparkSession, sf_dir: str, probe_cells) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return e.filter(F.col("vec_id") % _QMOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(probe_cells("embedding")).alias("cell"),
    )


def _topk(cand: DataFrame) -> DataFrame:
    """Exact cosine within candidates, top-k per query."""
    cosine = _cosine_udf()
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "cand_id")
    return (
        cand.withColumn("cos", cosine("q_emb", "embedding"))
        .select("q_id", F.col("vec_id").alias("cand_id"), "cos")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _K)
        .select("q_id", "cand_id", "rank", F.col("cos").alias("cos_sim"))
    )


def ann_ivf_topk(
    spark: SparkSession, sf_dir: str, nprobe: int = N_PROBE
) -> DataFrame:
    """IVF top-k: assign all vectors to cells, probe the query's nprobe
    nearest cells, exact cosine within candidates, top-k per query."""
    cell_of, probe_cells = _centroid_udfs(
        spark, train_codebook(spark, sf_dir), nprobe=nprobe
    )
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    indexed = e.select("vec_id", "embedding", cell_of("embedding").alias("cell"))
    queries = _probe_queries(spark, sf_dir, probe_cells)
    # candidates: equi-join on cell (the inverted file); at scale `indexed`
    # is written partitioned by cell so this probes nprobe/k of the data
    cand = queries.join(indexed, "cell").filter(F.col("q_id") != F.col("vec_id"))
    return _topk(cand)


op("ann_ivf_topk")(ann_ivf_topk)  # rows-only: approximate by design


def ann_ivf_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF machinery under an EXACT oracle: probe ALL k cells, so
    codebook training, cell assignment, the probe explode, the cell
    equi-join and the per-query ranking must together recover exactly
    the brute-force top-k — value-checked against the same DuckDB SQL
    as ann_cosine_topk. Scoring uses the quantized-exact cosine
    (integer dot products, one final div+sqrt on identical inputs) so
    ranks can't flip on a cross-engine ulp; the nprobe<k production
    path shares every stage but the scorer, whose float/quantized twin
    equivalence is bounded by the recall pytest."""
    cell_of, probe_cells = _centroid_udfs(
        spark, train_codebook(spark, sf_dir), nprobe=K_CELLS
    )
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    indexed = e.select(
        "vec_id", _quant(F.col("embedding")).alias("cv"), cell_of("embedding").alias("cell")
    ).withColumn("cn", _dot(F.col("cv"), F.col("cv")))
    queries = (
        _probe_queries(spark, sf_dir, probe_cells)
        .withColumn("qv", _quant(F.col("q_emb")))
        .withColumn("qn", _dot(F.col("qv"), F.col("qv")))
        .drop("q_emb")
    )
    cand = queries.join(indexed, "cell").withColumnRenamed("vec_id", "cand_id")
    return quantized_topk(cand)


# full probing must equal brute force, so the oracle IS the brute-force
# SQL (shared spec with ann_cosine_topk — _K and _QMOD are imported)
op("ann_ivf_exhaustive", _COSINE_TOPK_ORACLE)(ann_ivf_exhaustive)


# --- the on-disk inverted file (what "IVF" means at 100 TB) -----------------

def build_inverted_file(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    vectors: DataFrame | None = None,
    cent: np.ndarray | None = None,
) -> np.ndarray:
    """Materialize the inverted file: vectors written PARTITIONED BY cell
    (the Iceberg ``partitionedBy(cell)`` analog), so probe-time reads
    touch only nprobe/k of the corpus at the storage layer — the file
    listing itself is the index. Returns the (trained or given)
    codebook. ``vectors``/``cent`` default to the full embeddings table
    and a fresh deterministic training run."""
    if cent is None:
        cent = train_codebook(spark, sf_dir)
    cell_of, _ = _centroid_udfs(spark, cent)
    e = vectors if vectors is not None else spark.read.parquet(
        f"{sf_dir}/embeddings.parquet"
    )
    (
        e.select("vec_id", "embedding", cell_of("embedding").alias("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    return cent


def append_to_inverted_file(
    spark: SparkSession, path: str, cent: np.ndarray, vectors: DataFrame
) -> None:
    """Incremental IVF ingest (the recrawl path for the ANN index):
    assign NEW vectors to the EXISTING codebook's cells and append them
    to the cell-partitioned inverted file — no retrain, no rewrite of
    existing cells, O(increment) work. Standard IVF practice: the
    codebook is a coarse quantizer, so appends shift cell BALANCE, not
    correctness — probing remains exact over whichever cells are probed
    and is oblivious to which commit wrote a row (pinned by the
    append == one-shot-build equivalence test). Monitor cell-size skew
    as the corpus drifts and retrain/rebuild offline when warranted."""
    cell_of, _ = _centroid_udfs(spark, cent)
    (
        vectors.select("vec_id", "embedding", cell_of("embedding").alias("cell"))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path)
    )


def probe_inverted_file(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    cent: np.ndarray,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """Query against the on-disk inverted file. The probe set (query ->
    nprobe cells) is broadcast into the join against the cell-partitioned
    scan, so Spark's dynamic partition pruning restricts the file scan to
    exactly the probed cells — the executed plan carries a
    ``dynamicpruning`` partition filter (asserted in tests). Semantics
    are identical to ``ann_ivf_topk``; only the candidate source moves
    from an in-memory assignment to the pruned storage layout."""
    _, probe_cells = _centroid_udfs(spark, cent, nprobe=nprobe)
    queries = _probe_queries(spark, sf_dir, probe_cells)
    indexed = spark.read.parquet(path)
    cand = indexed.join(F.broadcast(queries), "cell").filter(F.col("q_id") != F.col("vec_id"))
    return _topk(cand)
