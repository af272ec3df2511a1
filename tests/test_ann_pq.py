"""PQ-ADC value contract (operators/ann_pq.py) — the pins that replace
the impossible SQL oracle (no SQL can refit k-means):

* ADC == reconstructed-dot: a shortlist candidate's ADC score must
  equal dot(query, reconstruct(codes)) — the defining identity of
  asymmetric distance computation;
* the exact re-rank really is exact: cos_sim == numpy cosine;
* deterministic codebooks and codes across independent passes;
* measured recall floor vs the exhaustive cosine ground truth
  (0.81 measured at M=8 / shortlist=100 on this near-random synthetic
  corpus — the hard case for PQ; floor pinned with margin);
* the 32x compression arithmetic (8 x uint8 vs 64 x float32).
"""

import numpy as np
import pytest

from ocr_application_spark.operators.ann_ivf import train_codebook
from ocr_application_spark.operators.ann_pq import (
    M_SUB,
    _K_TOP,
    _QMOD,
    encode_pq,
    pq_shortlist,
    pq_topk,
    train_pq_codebooks,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def books(spark):
    return train_pq_codebooks(spark, SF)


def _emb(spark):
    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    return {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in vecs.collect()}


def _norm(v):
    return v / max(np.linalg.norm(v), 1e-12)


def test_codebook_shape_and_determinism(spark, books):
    assert books.shape == (M_SUB, 16, 64 // M_SUB)
    assert np.array_equal(books, train_pq_codebooks(spark, SF))


@pytest.mark.parametrize("train", [train_codebook, train_pq_codebooks], ids=["ivf", "pq"])
def test_trainers_reject_an_empty_training_sample(spark, tmpdir_scratch, train):
    """A table without a vec_id % 7 == 0 row leaves nothing to fit: both
    ANN trainers say so instead of failing inside numpy."""
    spark.createDataFrame(
        [(i, [float(i)] * 64) for i in (1, 2, 3)], "vec_id bigint, embedding array<float>"
    ).write.parquet(f"{tmpdir_scratch}/embeddings.parquet")
    with pytest.raises(ValueError, match="empty training sample"):
        train(spark, tmpdir_scratch)


def test_codes_deterministic_in_range_and_32x_smaller(spark, books):
    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = {r.vec_id: list(r.codes) for r in encode_pq(spark, vecs, books).collect()}
    b = {r.vec_id: list(r.codes) for r in encode_pq(spark, vecs, books).collect()}
    assert a == b
    assert all(len(c) == M_SUB and all(0 <= x < 16 for x in c) for c in a.values())
    # 64 float32 = 256 bytes raw; M_SUB uint8 codes = M_SUB bytes
    assert 256 // M_SUB == 32


def test_adc_equals_dot_with_reconstruction(spark, books):
    """The ADC identity, for every (query, candidate) pair a small
    shortlist surfaces."""
    vecs = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb = _emb(spark)
    codes = {r.vec_id: list(r.codes) for r in encode_pq(spark, vecs, books).collect()}
    out = pq_shortlist(spark, SF, shortlist=15).collect()
    assert out, "shortlist returned nothing"
    for r in out:
        q = _norm(emb[r.q_id])
        rec = np.concatenate([books[j][codes[r.cand_id][j]] for j in range(M_SUB)])
        assert r.adc_score == pytest.approx(float(np.dot(q, rec)), rel=0, abs=1e-9)


def test_rerank_scores_are_exact_cosine(spark):
    emb = _emb(spark)
    for r in pq_topk(spark, SF).collect():
        want = float(np.dot(_norm(emb[r.q_id]), _norm(emb[r.cand_id])))
        assert r.cos_sim == pytest.approx(want, rel=0, abs=1e-9)


def test_recall_floor_vs_exhaustive(spark):
    """The shortlist dial at its default must recover most of the true
    cosine top-10 after the exact re-rank."""
    emb = _emb(spark)
    ids = sorted(emb)
    mat = np.stack([_norm(emb[i]) for i in ids])
    got = {}
    for r in pq_topk(spark, SF).collect():
        got.setdefault(r.q_id, set()).add(r.cand_id)
    assert got and all(len(v) == _K_TOP for v in got.values())
    assert all(q % _QMOD == 0 for q in got)
    hits = total = 0
    for q_id, cands in got.items():
        order = np.argsort(-(mat @ _norm(emb[q_id])), kind="stable")
        truth = {ids[i] for i in order[:_K_TOP]}
        hits += len(truth & cands)
        total += _K_TOP
    recall = hits / total
    assert recall >= 0.7, f"recall@10 = {recall:.3f}"


def test_shortlist_dial_trades_recall(spark):
    """More shortlist -> recall can only improve (same queries, the
    re-rank is exact, a superset of candidates can't lose true hits
    ... for THIS fixed encoding; pinned empirically here)."""
    emb = _emb(spark)
    ids = sorted(emb)
    mat = np.stack([_norm(emb[i]) for i in ids])

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.q_id, set()).add(r.cand_id)
        hits = total = 0
        for q_id, cands in got.items():
            order = np.argsort(-(mat @ _norm(emb[q_id])), kind="stable")
            hits += len({ids[i] for i in order[:_K_TOP]} & cands)
            total += _K_TOP
        return hits / total

    lo = recall(pq_topk(spark, SF, shortlist=10))
    hi = recall(pq_topk(spark, SF, shortlist=100))
    assert hi >= lo


# --- IVF-PQ composition ------------------------------------------------------


def test_ivfpq_full_probe_equals_standalone_pq(spark, tmpdir_scratch):
    """Probing every coarse cell makes the candidate source the whole
    corpus, so the composed index must reproduce the standalone PQ
    top-k EXACTLY — same pairs, same ranks, same float64 scores. The
    composition may change where candidates come from, never the math."""
    from ocr_application_spark.operators.ann_pq import build_ivfpq_index, ivfpq_topk

    path = f"{tmpdir_scratch}/ivfpq"
    cent, books = build_ivfpq_index(spark, SF, path)
    composed = {
        (r.q_id, r.cand_id): (r.rank, r.cos_sim)
        for r in ivfpq_topk(spark, SF, path, cent, books, nprobe=len(cent)).collect()
    }
    standalone = {
        (r.q_id, r.cand_id): (r.rank, r.cos_sim)
        for r in pq_topk(spark, SF).collect()
    }
    assert composed == standalone


def test_ivfpq_index_stores_codes_only_and_prunes_partitions(spark, tmpdir_scratch):
    """The index rows must carry only (vec_id, codes) — full vectors
    stay in the base table — and the probe-time scan must carry a
    dynamicpruning partition filter (the nprobe/k storage-read claim)."""
    from ocr_application_spark.operators.ann_pq import build_ivfpq_index, ivfpq_topk

    path = f"{tmpdir_scratch}/ivfpq2"
    cent, books = build_ivfpq_index(spark, SF, path)
    idx = spark.read.parquet(path)
    assert set(idx.columns) == {"vec_id", "codes", "cell"}
    out = ivfpq_topk(spark, SF, path, cent, books, nprobe=2)
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in executed, executed


def test_ivfpq_recall_at_default_probe(spark, tmpdir_scratch):
    """nprobe=4 of 16 cells at the default shortlist must still clear a
    useful recall floor (measured with margin; the dial pair
    (nprobe, shortlist) is the cost/recall surface)."""
    from ocr_application_spark.operators.ann_pq import build_ivfpq_index, ivfpq_topk

    emb = _emb(spark)
    ids = sorted(emb)
    mat = np.stack([_norm(emb[i]) for i in ids])
    path = f"{tmpdir_scratch}/ivfpq3"
    cent, books = build_ivfpq_index(spark, SF, path)
    got = {}
    for r in ivfpq_topk(spark, SF, path, cent, books, nprobe=4).collect():
        got.setdefault(r.q_id, set()).add(r.cand_id)
    assert got
    hits = total = 0
    for q_id, cands in got.items():
        order = np.argsort(-(mat @ _norm(emb[q_id])), kind="stable")
        hits += len({ids[i] for i in order[:_K_TOP]} & cands)
        total += _K_TOP
    recall = hits / total
    assert recall >= 0.35, f"recall@10 = {recall:.3f}"
