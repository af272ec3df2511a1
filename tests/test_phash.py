"""Behavior tests for operators/phash.py (perceptual hash + banded
Hamming near-dup). Oracle parity runs in the parity suites; these pin
the invariance properties and the skew guard."""

import random

import pyspark.sql.functions as F

from ocr_application_spark.operators import phash as P


def test_brightness_invariance_is_exact():
    """phash(px + c) == phash(px) for any global shift c — the
    cross-multiplied compare cancels it algebraically, so this holds
    for EVERY input, not just the fixture."""
    rng = random.Random(11)
    for _ in range(50):
        n = rng.randrange(P._PH_NB, 4000)
        px = [rng.randrange(32, 1000) for _ in range(n)]
        c = rng.randrange(1, 500)
        assert P.phash_py(px) == P.phash_py([p + c for p in px])


def test_single_pixel_edit_moves_at_most_two_bits():
    """A substitution touches one block -> at most its two adjacent
    comparisons flip."""
    rng = random.Random(13)
    for _ in range(50):
        n = rng.randrange(P._PH_NB, 3000)
        px = [rng.randrange(32, 1000) for _ in range(n)]
        h0 = P.phash_py(px)
        i = rng.randrange(n)
        px2 = list(px)
        px2[i] = rng.randrange(32, 100000)
        assert bin(h0 ^ P.phash_py(px2)).count("1") <= 2


def test_hash_is_56_bits_and_short_payloads_undefined():
    assert P.phash_py([1] * (P._PH_NB - 1)) is None
    rng = random.Random(17)
    for _ in range(20):
        px = [rng.randrange(1000) for _ in range(rng.randrange(P._PH_NB, 500))]
        h = P.phash_py(px)
        assert 0 <= h < (1 << 56)


def _pairs_for(spark, tmp_path, texts):
    rows = [(i, t, "en", "s", 0) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, label int"
    )
    p = str(tmp_path / "docs")
    df.write.parquet(p + "/documents.parquet")
    return P.multimodal_phash_pairs(spark, p)


def test_posting_cap_drops_flat_buckets(spark, tmp_path):
    """More identical payloads than the cap -> the band buckets blow
    past _PH_MAX_POSTING and are dropped (the documented recall trade
    that keeps a solid-color corpus from going quadratic)."""
    texts = ["the same exact payload text repeated here " * 4] * (
        P._PH_MAX_POSTING + 8
    )
    assert _pairs_for(spark, tmp_path, texts).count() == 0


def test_small_identical_group_pairs_all_found(spark, tmp_path):
    """Below the cap, g identical payloads (x2 twins) yield all
    C(2g, 2) pairs at Hamming <= threshold."""
    g = 5
    texts = ["another payload body with enough characters to hash " * 3] * g
    got = _pairs_for(spark, tmp_path, texts)
    n = 2 * g
    assert got.count() == n * (n - 1) // 2
    assert got.agg(F.max("hamming")).collect()[0][0] <= P._PH_HAM


def test_reported_hamming_matches_recomputed(spark):
    sf = "/root/testdata/sf0.001"
    h = P._hashes(spark.read.parquet(f"{sf}/documents.parquet"))
    rows = h.limit(20).collect()
    for r in rows:
        assert bin(r["ph0"] ^ r["ph2"]).count("1") <= P._PH_HAM
