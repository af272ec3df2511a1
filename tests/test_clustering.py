"""Behavior tests for operators/clustering.py (k-means + SemDeDup).

Oracle parity runs in test_oracle_parity (sf0.001) and
test_oracle_parity_sf01 (driver SF); here we pin the semantic
contracts the oracle can't see failing for the right reason: nearest-
centroid invariant, empty-cluster carry, Lloyd monotonicity, the
SemDeDup drop rule on a constructed near-dup, and determinism.
"""

import pyspark.sql.functions as F
import pytest

from ocr_application_spark.operators import clustering as C

SF = "/root/testdata/sf0.001"


def test_kmeans_is_deterministic(spark):
    """Two independent runs of the full Lloyd loop agree exactly on
    (cid, dist_sq) per vector — integer-exact arithmetic leaves no room
    for partitioning or evaluation-order drift."""
    asg = C.kmeans_assignments(spark, SF)
    again = C.kmeans_assignments(spark, SF)
    a = asg.select("vec_id", "cid", "dist_sq")
    b = again.select(
        F.col("vec_id"), F.col("cid").alias("cid2"), F.col("dist_sq").alias("d2")
    )
    j = a.join(b, "vec_id")
    assert j.filter((F.col("cid") != F.col("cid2")) | (F.col("dist_sq") != F.col("d2"))).count() == 0


def test_kmeans_improves_over_seed(spark):
    """Total within-cluster squared distance after the Lloyd rounds must
    not exceed the seed assignment's (Lloyd is monotone non-increasing;
    exact integers, so the compare is exact)."""
    vecs = C._vecs(spark, SF)
    seed = vecs.filter(F.col("vec_id") < C._KM_K).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    d0 = C._assign(vecs, seed).agg(F.sum("dist_sq")).collect()[0][0]
    dT = C.kmeans_assignments(spark, SF).agg(F.sum("dist_sq")).collect()[0][0]
    assert dT <= d0


def test_every_vector_assigned_exactly_once(spark):
    asg = C.emb_kmeans_assign(spark, SF)
    n = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert asg.count() == n
    assert asg.select("vec_id").distinct().count() == n
    assert asg.filter(~F.col("cluster_id").between(0, C._KM_K - 1)).count() == 0


def test_empty_cluster_keeps_previous_centroid(spark):
    """_update must carry a cluster that lost all members unchanged."""
    cents = spark.createDataFrame(
        [(0, [0, 0]), (1, [100, 100])], "cid int, cv array<bigint>"
    )
    # both members sit at the origin -> cluster 1 goes empty
    assigned = spark.createDataFrame(
        [(10, [1, 1], 0), (11, [1, -1], 0)], "vec_id int, qv array<bigint>, cid int"
    )
    out = {r["cid"]: r["cv"] for r in C._update(assigned, cents).collect()}
    assert out[1] == [100, 100]  # carried
    assert out[0] == [1, 0]  # round((1+1)/2)=1, round((1-1)/2)=0


def test_update_rounding_is_half_away_from_zero(spark):
    """The canonical round-div: .5 means away from zero, both signs —
    the exact sequence the DuckDB oracle mirrors."""
    cents = spark.createDataFrame([(0, [0, 0])], "cid int, cv array<bigint>")
    assigned = spark.createDataFrame(
        [(1, [1, -1], 0), (2, [2, -2], 0)], "vec_id int, qv array<bigint>, cid int"
    )
    out = C._update(assigned, cents).collect()[0]["cv"]
    assert out == [2, -2]  # mean 1.5 -> 2, -1.5 -> -2


def test_semdedup_drops_constructed_near_dup(spark, tmp_path):
    """Two nearly-identical vectors must land in one cluster with the
    larger vec_id dropped; an orthogonal vector survives."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=64).astype("float32")
    near = base + rng.normal(scale=0.01, size=64).astype("float32")
    ortho = np.roll(base, 32) * np.array([1, -1] * 32, dtype="float32")
    rows = [(i, rng.normal(size=64).astype("float32").tolist(), 0) for i in range(20)]
    rows += [(100, base.tolist(), 0), (101, near.tolist(), 0), (102, ortho.tolist(), 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    p = str(tmp_path / "embdir")
    df.write.parquet(p + "/embeddings.parquet")
    out = {r["vec_id"]: r for r in C.emb_semdedup(spark, p).collect()}
    assert out[100]["cluster_id"] == out[101]["cluster_id"]
    assert out[100]["kept"] is True
    assert out[101]["kept"] is False  # the larger-id twin drops


def test_kmeans_seed_survives_offset_vec_ids(spark, tmp_path):
    """A table whose ids start nowhere near 0 must still seed k
    centroids (k smallest ids, not a `vec_id < k` literal) and assign
    every vector (ADVICE r04: the old literal filter silently returned
    an empty assignment)."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [
        (5_000_000 + i, rng.normal(size=64).astype("float32").tolist(), 0)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    p = str(tmp_path / "offdir")
    df.write.parquet(p + "/embeddings.parquet")
    out = C.kmeans_assignments(spark, p)
    assert out.count() == 30
    # the seed really is the k smallest ids: cids are the first k ids
    cids = {r["cid"] for r in out.select("cid").distinct().collect()}
    assert cids <= {5_000_000 + i for i in range(C._KM_K)}


def test_semdedup_threshold_dial_monotone(spark, tmp_path):
    """The num2/den2 dial must behave like a threshold: the production
    0.9 gate (81/100) drops a subset of the loose gate's (1/16) drops,
    and the constructed near-identical twin is dropped by BOTH."""
    import numpy as np

    rng = np.random.default_rng(13)
    base = rng.normal(size=64).astype("float32")
    near = base + rng.normal(scale=0.005, size=64).astype("float32")
    rows = [(i, rng.normal(size=64).astype("float32").tolist(), 0) for i in range(20)]
    rows += [(100, base.tolist(), 0), (101, near.tolist(), 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    p = str(tmp_path / "dialdir")
    df.write.parquet(p + "/embeddings.parquet")
    loose = {
        r["vec_id"]
        for r in C.semdedup_verdicts(spark, p).filter(~F.col("kept")).collect()
    }
    tight = {
        r["vec_id"]
        for r in C.semdedup_verdicts(spark, p, num2=81, den2=100)
        .filter(~F.col("kept"))
        .collect()
    }
    assert tight <= loose
    assert 101 in tight  # cos ~ 1.0 twin drops at every sane dial
    with pytest.raises(ValueError):
        C.semdedup_verdicts(spark, p, num2=1, den2=0)


def test_semdedup_universe_and_keeper_rule(spark):
    """Every vector gets a verdict; within any (cluster, verdict=False)
    row there exists a smaller kept-or-not vec in the same cluster that
    triggered it — spot-check via recompute of one dropped vec."""
    out = C.emb_semdedup(spark, SF)
    n = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert out.count() == n
    # the smallest vec_id of every cluster can never be dropped
    w = out.groupBy("cluster_id").agg(F.min("vec_id").alias("lo"))
    j = out.join(w, (out.vec_id == w.lo) & (out.cluster_id == w.cluster_id))
    assert j.filter(~F.col("kept")).count() == 0


def test_kmeans_query_has_no_vector_shuffle(spark):
    """Plan shape: assignment is broadcast-NLJ (the vectors are never
    exchanged for the centroid join)."""
    import contextlib
    import io

    df = C.emb_kmeans_assign(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
