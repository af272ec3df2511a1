"""Snapshot log / time travel (the Iceberg-commit emulation,
sources/snapshots.py): immutable commits, manifest-planned reads,
logical partition overwrite that keeps old versions readable."""

import os

import pytest
from pyspark.sql import functions as F

from ocr_application_spark.sources.snapshots import (
    commit,
    read_snapshot,
    snapshot_versions,
)


def _pages(spark, ids, tag):
    return spark.createDataFrame(
        [(i, f"{tag}-{i}", i % 2) for i in ids], "doc_id long, payload string, bucket int"
    )


def test_append_overwrite_and_time_travel(spark, tmpdir_scratch):
    tbl = tmpdir_scratch + "/tbl"

    v1 = commit(_pages(spark, range(4), "a"), tbl, partition_by="bucket")
    v2 = commit(_pages(spark, range(4, 6), "b"), tbl, partition_by="bucket")
    assert (v1, v2) == (1, 2)
    assert snapshot_versions(tbl) == [1, 2]

    assert read_snapshot(spark, tbl, 1).count() == 4
    assert read_snapshot(spark, tbl).count() == 6  # latest = v2

    # logical overwrite of bucket 0: new rows replace its visible files
    v3 = commit(
        _pages(spark, [100, 102], "c"),
        tbl,
        mode="overwrite_partitions",
        partition_by="bucket",
        replace_partitions=[0],
    )
    cur = read_snapshot(spark, tbl, v3)
    b0 = {r.payload for r in cur.filter(F.col("bucket") == 0).collect()}
    assert b0 == {"c-100", "c-102"}  # old bucket-0 rows not visible
    assert cur.filter(F.col("bucket") == 1).count() == 3  # untouched

    # TIME TRAVEL: v2 still reads the pre-overwrite bucket 0
    old = read_snapshot(spark, tbl, 2)
    assert {r.payload for r in old.filter(F.col("bucket") == 0).collect()} == {
        "a-0", "a-2", "b-4"
    }
    # and v1 predates the append entirely
    assert read_snapshot(spark, tbl, 1).count() == 4


def test_commit_immutability_and_atomicity(spark, tmpdir_scratch):
    tbl = tmpdir_scratch + "/tbl"
    commit(_pages(spark, range(3), "x"), tbl, partition_by="bucket")
    files_v1 = set()
    for dirpath, _d, files in os.walk(tbl):
        files_v1 |= {os.path.join(dirpath, f) for f in files if f.endswith(".parquet")}

    commit(
        _pages(spark, [7], "y"),
        tbl,
        mode="overwrite_partitions",
        partition_by="bucket",
        replace_partitions=[1],
    )
    # every v1 data file still exists on disk (bytes immutable; the
    # overwrite was manifest-level only)
    assert all(os.path.exists(f) for f in files_v1)
    # no partial manifests left behind
    snapdir = os.path.join(tbl, "_snapshots")
    assert all(not f.endswith(".tmp") for f in os.listdir(snapdir))


def test_read_errors(spark, tmpdir_scratch):
    tbl = tmpdir_scratch + "/tbl"
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, tbl)
    commit(_pages(spark, range(2), "z"), tbl)
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, tbl, 99)
    assert read_snapshot(spark, tbl).count() == 2  # unpartitioned table works


def test_bad_commit_modes(spark, tmpdir_scratch):
    tbl = tmpdir_scratch + "/tbl"
    with pytest.raises(ValueError):
        commit(_pages(spark, [1], "w"), tbl, mode="replace")
    with pytest.raises(ValueError):
        commit(_pages(spark, [1], "w"), tbl, mode="overwrite_partitions")


def test_empty_snapshot_reads_as_empty_df(spark, tmpdir_scratch):
    tbl = tmpdir_scratch + "/tbl"
    commit(_pages(spark, range(2), "e"), tbl, partition_by="bucket")
    v2 = commit(
        spark.createDataFrame([], "doc_id long, payload string, bucket int"),
        tbl,
        mode="overwrite_partitions",
        partition_by="bucket",
        replace_partitions=[0, 1],
    )
    df = read_snapshot(spark, tbl, v2)
    assert df.count() == 0
    assert set(df.columns) == {"doc_id", "payload", "bucket"}
    # the prior version still reads fine
    assert read_snapshot(spark, tbl, 1).count() == 2


def test_overwrite_rejects_values_needing_escaping(spark, tmpdir_scratch):
    tbl = tmpdir_scratch + "/tbl"
    commit(_pages(spark, range(2), "s"), tbl, partition_by="bucket")
    with pytest.raises(ValueError, match="escaping"):
        commit(
            _pages(spark, [9], "s"),
            tbl,
            mode="overwrite_partitions",
            partition_by="bucket",
            replace_partitions=["a b"],
        )


def test_incremental_diff_reads_only_new_rows(spark, tmpdir_scratch):
    from ocr_application_spark.sources.snapshots import read_snapshot_diff

    tbl = tmpdir_scratch + "/tbl"
    v1 = commit(_pages(spark, range(4), "a"), tbl, partition_by="bucket")
    v2 = commit(_pages(spark, range(10, 13), "b"), tbl, partition_by="bucket")
    v3 = commit(
        _pages(spark, [50], "c"),
        tbl,
        mode="overwrite_partitions",
        partition_by="bucket",
        replace_partitions=[1],
    )
    # v1 -> v2: exactly the appended rows
    d12 = read_snapshot_diff(spark, tbl, v1, v2)
    assert {r.payload for r in d12.collect()} == {"b-10", "b-11", "b-12"}
    # v1 -> latest: additions still visible at the target version only —
    # b-11 (bucket 1) was appended in v2 but overwritten away by v3, so
    # it is NOT in the v1->v3 additions stream
    d13 = read_snapshot_diff(spark, tbl, v1)
    assert {r.payload for r in d13.collect()} == {"b-10", "b-12", "c-50"}
    # identical versions: empty diff with the table schema
    d22 = read_snapshot_diff(spark, tbl, v2, v2)
    assert d22.count() == 0 and set(d22.columns) == {"doc_id", "payload", "bucket"}
    with pytest.raises(FileNotFoundError):
        read_snapshot_diff(spark, tbl, 99)


def test_incremental_extract_processes_only_new_pages(spark, tmpdir_scratch):
    """The incremental-recompute composition the diff exists for:
    commit a crawl, extract it; commit more pages; the second extraction
    pass runs over the DIFF only and its union with pass one equals a
    full extraction of the latest snapshot."""
    from ocr_application_spark.kernels.extract import extract
    from ocr_application_spark.sources.snapshots import read_snapshot, read_snapshot_diff
    from ocr_application_spark.sources.webpages import synth_pages

    tbl = tmpdir_scratch + "/crawl"
    v1 = commit(synth_pages(spark, 60), tbl)
    first = extract(read_snapshot(spark, tbl, v1)).select("url", "digest")
    commit(synth_pages(spark, 90), tbl)  # 60 recrawls + 30 new urls
    incr = extract(read_snapshot_diff(spark, tbl, v1)).select("url", "digest")
    full = extract(read_snapshot(spark, tbl)).select("url", "digest")
    got = {(r.url, r.digest) for r in first.union(incr).collect()}
    want = {(r.url, r.digest) for r in full.collect()}
    assert got == want and len(want) > 60


def test_overwrite_rejects_unpartitioned_history(spark, tmpdir_scratch):
    """A partition overwrite over commits that were NOT partitioned by
    that column must refuse (a path filter cannot see values inside
    part files; silently dropping nothing would leave stale rows)."""
    tbl = tmpdir_scratch + "/tbl"
    commit(_pages(spark, range(3), "u"), tbl)  # unpartitioned commit
    with pytest.raises(ValueError, match="not.*partitioned|not under"):
        commit(
            _pages(spark, [9], "u"),
            tbl,
            mode="overwrite_partitions",
            partition_by="bucket",
            replace_partitions=[0],
        )


def test_diff_guards(spark, tmpdir_scratch):
    from ocr_application_spark.sources.snapshots import read_snapshot_diff

    tbl = tmpdir_scratch + "/tbl"
    with pytest.raises(FileNotFoundError):
        read_snapshot_diff(spark, tbl, 1)
    commit(_pages(spark, range(2), "g"), tbl)
    commit(_pages(spark, range(2, 4), "g"), tbl)
    with pytest.raises(ValueError, match="inverted"):
        read_snapshot_diff(spark, tbl, 2, 1)


def test_diff_guard_keys_on_mode_not_label(spark, tmpdir_scratch):
    """A relabeled full rewrite (mode=replace_all, op_label='rebuild')
    must trip the incremental-diff guard exactly like an unlabeled one —
    otherwise the diff re-surfaces the whole rewritten table as
    additions and downstream ingest duplicates every row."""
    from ocr_application_spark.sources.snapshots import (
        read_snapshot_diff,
        snapshot_info,
    )

    tbl = tmpdir_scratch + "/tbl"
    v1 = commit(_pages(spark, range(3), "a"), tbl)
    v2 = commit(
        _pages(spark, range(3), "a2"), tbl, mode="replace_all", op_label="rebuild"
    )
    info = snapshot_info(tbl, v2)
    assert info["mode"] == "replace_all" and info["operation"] == "rebuild"
    with pytest.raises(ValueError, match="replace_all commit"):
        read_snapshot_diff(spark, tbl, v1, v2)
    # legacy manifests (no 'mode' field) fall back to the label; the two
    # rewrite labels in use pre-mode were 'replace_all' and 'compact'
    import json as _json

    mpath = tbl + f"/_snapshots/v{v2}.json"
    m = _json.load(open(mpath))
    del m["mode"]
    m["operation"] = "compact"
    _json.dump(m, open(mpath, "w"))
    assert snapshot_info(tbl, v2)["mode"] == "replace_all"
    with pytest.raises(ValueError, match="replace_all commit"):
        read_snapshot_diff(spark, tbl, v1, v2)


def test_concurrent_commit_loses_loudly(spark, tmpdir_scratch):
    """Two writers racing to the same version: the second publish must
    raise SnapshotConflictError and leave the winner's manifest intact
    (the old os.replace silently clobbered it)."""
    import json as _json

    from ocr_application_spark.sources.snapshots import SnapshotConflictError

    tbl = tmpdir_scratch + "/tbl"
    commit(_pages(spark, range(2), "w1"), tbl)
    winner = _json.load(open(tbl + "/_snapshots/v1.json"))
    # a racing writer that also computed version 1 publishes second:
    # simulate by rolling the table dir back to "no snapshots" is not
    # possible without deleting, so drive commit() directly against a
    # pre-existing v2 manifest claimed by a faster writer
    fake = dict(winner, version=2, parent=1, operation="fast-writer")
    _json.dump(fake, open(tbl + "/_snapshots/v2.json", "w"))
    with pytest.raises(SnapshotConflictError):
        # sees [1, 2] is wrong — snapshot_versions now includes the fake
        # v2, so force the race window: compute from parent=1
        import ocr_application_spark.sources.snapshots as snap

        real_versions = snap.snapshot_versions

        def stale(path):
            return [1]  # the loser read the log before v2 appeared

        snap.snapshot_versions = stale
        try:
            commit(_pages(spark, [9], "loser"), tbl)
        finally:
            snap.snapshot_versions = real_versions
    # winner's v2 manifest untouched
    assert _json.load(open(tbl + "/_snapshots/v2.json"))["operation"] == "fast-writer"
    # and no temp manifests linger
    snapdir = tbl + "/_snapshots"
    assert all(not f.endswith(".tmp") for f in os.listdir(snapdir))


def test_merge_upserts_and_time_travels(spark, tmpdir_scratch):
    """MERGE INTO analog: matched keys replaced, new keys appended,
    untouched files referenced unchanged (copy-on-write at file
    granularity), old snapshots still read pre-merge rows."""
    import json as _json

    from ocr_application_spark.sources.snapshots import merge_pages, snapshot_info

    tbl = tmpdir_scratch + "/tbl"
    # two separate commits -> multiple files; bucket partitioning
    commit(_pages(spark, range(4), "a"), tbl, partition_by="bucket")
    v2 = commit(_pages(spark, range(4, 8), "b"), tbl, partition_by="bucket")

    updates = spark.createDataFrame(
        [(1, "UPDATED-1", 1), (6, "UPDATED-6", 0), (100, "NEW-100", 0)],
        "doc_id long, payload string, bucket int",
    )
    vm = merge_pages(spark, tbl, updates, key=("doc_id",), partition_by="bucket")
    assert snapshot_info(tbl, vm)["mode"] == "merge"

    got = {r.doc_id: r.payload for r in read_snapshot(spark, tbl).collect()}
    assert got[1] == "UPDATED-1" and got[6] == "UPDATED-6"
    assert got[100] == "NEW-100"
    assert got[0] == "a-0" and got[7] == "b-7"
    assert len(got) == 9

    # pre-merge snapshot unchanged (time travel)
    old = {r.doc_id: r.payload for r in read_snapshot(spark, tbl, v2).collect()}
    assert old[1] == "a-1" and old[6] == "b-6" and 100 not in old

    # copy-on-write: files NOT containing a matched key survive in the
    # new manifest verbatim
    m_old = _json.load(open(tbl + f"/_snapshots/v{v2}.json"))
    m_new = _json.load(open(tbl + f"/_snapshots/v{vm}.json"))
    carried = set(m_old["files"]) & set(m_new["files"])
    assert carried, "merge must not rewrite untouched files"
    assert set(m_new["files"]) - set(m_old["files"]), "merge wrote new files"


def test_merge_guards(spark, tmpdir_scratch):
    from ocr_application_spark.sources.snapshots import merge_pages, read_snapshot_diff

    tbl = tmpdir_scratch + "/tbl"
    v1 = commit(_pages(spark, range(3), "a"), tbl)
    # duplicate update keys refuse (Iceberg cardinality check)
    dup = spark.createDataFrame(
        [(1, "x", 1), (1, "y", 1)], "doc_id long, payload string, bucket int"
    )
    with pytest.raises(ValueError, match="duplicate"):
        merge_pages(spark, tbl, dup, key=("doc_id",))
    # diff ranges crossing a merge refuse (phantom-addition hazard)
    ok = spark.createDataFrame(
        [(1, "x", 1)], "doc_id long, payload string, bucket int"
    )
    vm = merge_pages(spark, tbl, ok, key=("doc_id",))
    with pytest.raises(ValueError, match="merge commit"):
        read_snapshot_diff(spark, tbl, v1, vm)


def test_merge_matches_dict_upsert_reference(spark, tmpdir_scratch):
    """Seeded randomized merges == a plain python dict upsert: multiple
    base commits (multiple files), then successive merges with mixed
    matched/new keys; after each merge the table must equal the dict.
    (Seeded loop, not hypothesis: every case is real Spark jobs.)"""
    import random

    from ocr_application_spark.sources.snapshots import merge_pages

    rng = random.Random(20260817)
    for case in range(3):
        tbl = tmpdir_scratch + f"/tbl{case}"
        ref = {}
        for c in range(rng.randint(1, 3)):
            ids = rng.sample(range(40), rng.randint(3, 12))
            rows = [(i, f"c{c}-{i}", i % 2) for i in ids if i not in ref]
            if not rows:
                continue
            for i, p, b in rows:
                ref[i] = p
            commit(_pages_rows(spark, rows), tbl)
        for m in range(2):
            ids = rng.sample(range(50), rng.randint(1, 8))
            rows = [(i, f"m{m}-{i}", i % 2) for i in ids]
            for i, p, b in rows:
                ref[i] = p
            merge_pages(spark, tbl, _pages_rows(spark, rows), key=("doc_id",))
            got = {r.doc_id: r.payload for r in read_snapshot(spark, tbl).collect()}
            assert got == ref, f"case {case} merge {m}"


def _pages_rows(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, payload string, bucket int")


def test_compact_preserves_rows_and_shrinks_files(spark, tmpdir_scratch):
    from ocr_application_spark.sources.snapshots import compact

    tbl = tmpdir_scratch + "/tbl"
    # many tiny commits -> many small files
    for k in range(5):
        commit(_pages(spark, range(k * 10, k * 10 + 10), f"t{k}"), tbl)
    import json as _json

    before = _json.load(open(tbl + "/_snapshots/v5.json"))["files"]
    want = {r.payload for r in read_snapshot(spark, tbl).collect()}
    vc = compact(spark, tbl, target_files=2)
    after = _json.load(open(tbl + f"/_snapshots/v{vc}.json"))["files"]
    assert len(after) < len(before)
    assert {r.payload for r in read_snapshot(spark, tbl).collect()} == want
    # pre-compaction snapshot still time-travels
    assert read_snapshot(spark, tbl, 3).count() == 30


def test_expire_deletes_only_unreferenced_bytes(spark, tmpdir_scratch):
    from ocr_application_spark.sources.snapshots import compact, expire_snapshots

    tbl = tmpdir_scratch + "/tbl"
    for k in range(3):
        commit(_pages(spark, range(k * 10, k * 10 + 10), f"t{k}"), tbl)
    vc = compact(spark, tbl, target_files=1)
    want = {r.payload for r in read_snapshot(spark, tbl).collect()}
    rep = expire_snapshots(tbl, keep_last=1)
    assert rep["kept_versions"] == [vc] and rep["files_deleted"] > 0
    # survivor reads identically; expired versions are gone
    assert {r.payload for r in read_snapshot(spark, tbl).collect()} == want
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, tbl, 1)
    assert snapshot_versions(tbl) == [vc]
    with pytest.raises(ValueError):
        expire_snapshots(tbl, keep_last=0)


def test_additive_schema_evolution(spark, tmpdir_scratch):
    """Appending with a NEW column is Iceberg add-column: the latest
    read projects typed nulls for pre-evolution files, time travel to
    the old version returns the OLD schema exactly, the incremental
    diff carries the target schema, and MERGE composes with it. Drops
    and retypes on incremental commits fail loudly."""
    from ocr_application_spark.sources.snapshots import (
        SchemaEvolutionError,
        merge_pages,
        read_snapshot_diff,
    )

    tbl = tmpdir_scratch + "/tbl_evo"
    commit(_pages(spark, range(10), "t0"), tbl)  # v1: (doc_id, payload)
    evolved = _pages(spark, range(10, 15), "t1").withColumn(
        "crawl_depth", F.lit(2).cast("int")
    )
    commit(evolved, tbl)  # v2: adds crawl_depth

    cur = read_snapshot(spark, tbl)
    assert "crawl_depth" in cur.columns and cur.count() == 15
    # pre-evolution rows project nulls, post-evolution rows keep values
    assert cur.filter(F.col("crawl_depth").isNull()).count() == 10
    assert cur.filter(F.col("crawl_depth") == 2).count() == 5
    # time travel: v1 has the OLD schema exactly (no crawl_depth)
    assert "crawl_depth" not in read_snapshot(spark, tbl, 1).columns
    # the diff stream carries the target (evolved) schema
    diff = read_snapshot_diff(spark, tbl, 1)
    assert diff.count() == 5 and "crawl_depth" in diff.columns

    # dropping a column on an incremental commit fails loudly...
    with pytest.raises(SchemaEvolutionError, match="dropped"):
        commit(_pages(spark, range(20, 22), "t2").drop("payload"), tbl)
    # ...so does retyping one...
    with pytest.raises(SchemaEvolutionError, match="retyped"):
        commit(
            _pages(spark, range(20, 22), "t2").withColumn(
                "crawl_depth", F.lit("deep")
            ),
            tbl,
        )
    # ...and a rejected commit publishes nothing
    assert snapshot_versions(tbl) == [1, 2]
    # replace_all may reshape freely
    commit(_pages(spark, range(3), "t3").drop("payload"), tbl, mode="replace_all")
    assert set(read_snapshot(spark, tbl).columns) == {"doc_id", "bucket"}

    # MERGE with an additive column: survivors fill null, updates keep it
    tbl2 = tmpdir_scratch + "/tbl_evo_merge"
    commit(_pages(spark, range(6), "t0"), tbl2)
    upd = _pages(spark, range(4, 8), "u").withColumn(
        "recrawl", F.lit(True)
    )
    merge_pages(spark, tbl2, upd, key=("doc_id",))
    out = read_snapshot(spark, tbl2)
    assert out.count() == 8
    assert out.filter(F.col("recrawl")).count() == 4          # the updates
    assert out.filter(F.col("recrawl").isNull()).count() == 4  # survivors
    # updates missing a table column are rejected (full-row MERGE)
    with pytest.raises(SchemaEvolutionError, match="dropped"):
        merge_pages(spark, tbl2, upd.drop("payload"), key=("doc_id",))


def test_partitioned_long_column_survives_read_alignment(spark, tmpdir_scratch):
    """Spark infers partition-dir columns as int32 even when the
    written column was long; the read-time schema alignment must treat
    that (and other value-preserving widenings) as a silent cast, not a
    SchemaEvolutionError."""
    tbl = tmpdir_scratch + "/tbl_longpart"
    df = spark.createDataFrame(
        [(1, "x", 0), (2, "y", 1)], "doc_id long, payload string, shard long"
    )
    commit(df, tbl, partition_by="shard")
    out = read_snapshot(spark, tbl)
    assert dict(out.dtypes)["shard"] == "bigint"  # manifest type wins
    assert out.count() == 2
    # appends across the partition layout still align
    commit(
        spark.createDataFrame([(3, "z", 0)], "doc_id long, payload string, shard long"),
        tbl,
        partition_by="shard",
    )
    assert read_snapshot(spark, tbl).count() == 3


def test_read_snapshot_plans_without_a_job(spark, tmpdir_scratch):
    """Reads are planned from the manifest's recorded schema: planning
    ``read_snapshot`` over six commits of alternating partition layout
    runs no Spark job (no per-commit schema inference), and the plan
    still reads every row with the recorded types and column order."""
    tbl = tmpdir_scratch + "/tbl_nojob"
    for n in range(6):
        commit(
            _pages(spark, range(3 * n, 3 * n + 3), f"c{n}"),
            tbl,
            partition_by="bucket" if n % 2 else None,
        )
    sc = spark.sparkContext
    sc.setJobGroup("read_snapshot_plan", "read_snapshot_plan")
    try:
        df = read_snapshot(spark, tbl)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("read_snapshot_plan") == []
    assert df.dtypes == [("doc_id", "bigint"), ("payload", "string"), ("bucket", "int")]
    assert sorted(r.doc_id for r in df.collect()) == list(range(18))


@pytest.mark.parametrize(
    "arrow_type, values",
    [
        ("int32", [1, 2]),
        ("string", ["1", "2"]),
        ("float64", [1.0, 2.0]),
        ("bool_", [True, False]),
    ],
)
def test_data_file_retyped_behind_the_manifest_fails_the_read(
    spark, tmpdir_scratch, arrow_type, values
):
    """A data file replaced behind the table with a ``doc_id`` type the
    manifest does not record (bigint) fails the scan loudly, with
    Spark's type-mismatch error, instead of being cast; an int32 file
    is a parquet widening and still reads as bigint."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = tmpdir_scratch + "/tbl_retyped"
    commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, payload string")
        .coalesce(1),
        tbl,
    )
    (f,) = glob.glob(tbl + "/data/*/*.parquet")
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    doc_ids = pa.array(values, getattr(pa, arrow_type)())
    pq.write_table(pa.table({"doc_id": doc_ids, "payload": ["a", "b"]}), f)

    out = read_snapshot(spark, tbl)
    assert dict(out.dtypes)["doc_id"] == "bigint"
    if arrow_type == "int32":
        assert sorted(r.doc_id for r in out.collect()) == [1, 2]
    else:
        with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
            out.collect()


def test_fingerprint_index_ingest_recrawl_lifecycle(spark, tmpdir_scratch):
    """Incremental recrawl dedup against the persisted fingerprint
    index: bootstrap commits every distinct fp, a recrawl increment
    appends only novel fps, verdicts split known / novel /
    dup_in_increment, and re-ingesting the same increment is idempotent
    on the index (zero new rows) with verdicts reproduced exactly."""
    from ocr_application_spark.operators.dedup import fingerprint_index_ingest

    idx = tmpdir_scratch + "/fpidx"
    base = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    _, v1 = fingerprint_index_ingest(spark, idx, base)
    assert v1 == 1
    assert read_snapshot(spark, idx).count() == 2  # alpha, beta (distinct)

    # increment: known recrawl (alpha), a novel pair (gamma twice:
    # keeper + in-increment dup), and a second known (beta)
    inc = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "gamma"), (13, "beta")],
        "doc_id long, text string",
    )
    verd, v2 = fingerprint_index_ingest(spark, idx, inc)
    got = {r["doc_id"]: r["verdict"] for r in verd.collect()}
    assert got == {10: "known", 11: "novel", 12: "dup_in_increment", 13: "known"}
    assert v2 == 2
    assert read_snapshot(spark, idx).count() == 3  # + gamma only
    # verdict plan is pinned to the pre-commit version: re-materializing
    # after the commit must not flip 11/12 to 'known'
    assert {r["doc_id"]: r["verdict"] for r in verd.collect()} == got

    # crash-replay of the same increment: index appends nothing AND the
    # verdicts reproduce exactly (a doc the index records as its own
    # keeper stays 'novel' — the replay-stable rule the streaming
    # front-end relies on)
    verd2, v3 = fingerprint_index_ingest(spark, idx, inc)
    assert read_snapshot(spark, idx).count() == 3  # idempotent re-ingest
    assert {r["doc_id"]: r["verdict"] for r in verd2.collect()} == got
    assert snapshot_versions(idx) == [1, 2, 3]

    # at-least-once redelivery: retained keeper 11 (gamma) arrives again
    # alongside a NEW lower-id copy — the keeper stays novel (coalesce
    # rule: the index keeper wins over the batch minimum), the newcomer
    # is 'known', and nothing is appended
    verd3, _v4 = fingerprint_index_ingest(
        spark,
        idx,
        spark.createDataFrame([(5, "gamma"), (11, "gamma")], "doc_id long, text string"),
    )
    assert {r["doc_id"]: r["verdict"] for r in verd3.collect()} == {
        5: "known",
        11: "novel",
    }
    assert read_snapshot(spark, idx).count() == 3


def test_minhash_index_ingest_recrawl_lifecycle(spark, tmpdir_scratch):
    """Near-dup recrawl ingest against the persisted LSH band index:
    bootstrap commits every doc's band rows, an increment's verdicts
    split known_neardup / neardup_in_increment / novel (shingle-less
    docs default to novel), only novel docs' bands are appended, and
    re-ingesting the same increment reproduces the verdicts exactly
    without growing the index."""
    from ocr_application_spark.operators.dedup import minhash_index_ingest

    idx = tmpdir_scratch + "/mhidx"
    base = spark.createDataFrame(
        [(1, "the quick brown fox jumps over"), (2, "lorem ipsum dolor sit amet")],
        "doc_id long, text string",
    )
    _, v1 = minhash_index_ingest(spark, idx, base)
    assert v1 == 1
    assert read_snapshot(spark, idx).count() == 8  # 2 docs x 4 bands

    inc = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over"),   # clone of base doc 1
            (11, "completely different words here now"),  # novel keeper
            (12, "completely different words here now"),  # in-increment clone
            (13, "tiny"),                              # <3 words: no shingles
        ],
        "doc_id long, text string",
    )
    verd, _v2 = minhash_index_ingest(spark, idx, inc)
    got = {r["doc_id"]: r["verdict"] for r in verd.collect()}
    assert got == {
        10: "known_neardup",
        11: "novel",
        12: "neardup_in_increment",
        13: "novel",
    }
    assert read_snapshot(spark, idx).count() == 12  # + doc 11's 4 bands only

    # crash-replay: verdicts reproduce exactly (a doc does not collide
    # with its own or its in-batch keeper's index rows into 'known')
    # and the already-indexed novel doc's bands are not appended twice
    verd2, _v3 = minhash_index_ingest(spark, idx, inc)
    got2 = {r["doc_id"]: r["verdict"] for r in verd2.collect()}
    assert got2 == got
    assert read_snapshot(spark, idx).count() == 12  # idempotent re-ingest

    # at-least-once redelivery: a batch mixing retained corpus doc 11
    # (same id) with a NEW lower-id near-dup of it — the retained doc
    # stays 'novel' (not demoted) while the newcomer is recognized as a
    # corpus near-dup (never a second 'novel'), and nothing is appended
    verd3, _v4 = minhash_index_ingest(
        spark,
        idx,
        spark.createDataFrame(
            [(5, "completely different words here now"),
             (11, "completely different words here now")],
            "doc_id long, text string",
        ),
    )
    assert {r["doc_id"]: r["verdict"] for r in verd3.collect()} == {
        5: "known_neardup",
        11: "novel",
    }
    assert read_snapshot(spark, idx).count() == 12


def test_fingerprint_ingest_matches_dict_model_on_random_batches(spark, tmpdir_scratch):
    """Differential property: sequential ingest of pseudo-random batches
    must match a pure-Python dict model (text -> first-seen keeper):
    exactly one 'novel' per distinct text corpus-wide, keeper = min
    doc_id of the earliest batch carrying the text, index rows ==
    distinct texts — and replaying ANY single batch after the full
    sequence reproduces that batch's original verdicts exactly."""
    import hashlib
    import random

    from ocr_application_spark.operators.dedup import fingerprint_index_ingest

    for seed in (7, 23):
        rng = random.Random(seed)
        pool = [f"text variant {i}" for i in range(8)]  # small pool -> many dups
        batches, next_id = [], 0
        for _ in range(3):
            rows = []
            for _ in range(rng.randint(4, 12)):
                rows.append((next_id, rng.choice(pool)))
                next_id += 1
            batches.append(rows)

        idx = tmpdir_scratch + f"/prop_idx_{seed}"
        model: dict[str, int] = {}  # text -> corpus keeper doc_id
        originals = []
        for rows in batches:
            # expected verdicts from the dict model
            batch_min: dict[str, int] = {}
            for did, txt in rows:
                batch_min[txt] = min(batch_min.get(txt, did), did)
            expect = {}
            for did, txt in rows:
                rep = model.get(txt, batch_min[txt])
                expect[did] = (
                    "novel" if rep == did
                    else "dup_in_increment" if rep == batch_min[txt]
                    else "known"
                )
            for txt, m in batch_min.items():
                model.setdefault(txt, m)

            df = spark.createDataFrame(rows, "doc_id long, text string")
            verd, _ = fingerprint_index_ingest(spark, idx, df)
            got = {r["doc_id"]: r["verdict"] for r in verd.collect()}
            assert got == expect, (seed, rows, got, expect)
            originals.append((rows, got))

        assert read_snapshot(spark, idx).count() == len(model)
        # replay any batch after the full sequence: verdicts reproduce
        rows, first = originals[rng.randrange(len(originals))]
        verd, _ = fingerprint_index_ingest(
            spark, idx, spark.createDataFrame(rows, "doc_id long, text string")
        )
        assert {r["doc_id"]: r["verdict"] for r in verd.collect()} == first
        assert read_snapshot(spark, idx).count() == len(model)  # no growth


def test_embedding_index_ingest_recrawl_lifecycle(spark, tmpdir_scratch):
    """Semantic recrawl ingest against the persisted vector index:
    bootstrap retains within-base novel vectors, an increment's verdicts
    split known_neardup / neardup_in_increment / novel, only novel
    vectors are appended, and re-ingesting the same increment reproduces
    the verdicts exactly without growing the index."""
    from ocr_application_spark.operators.similarity import (
        DIM,
        embedding_index_ingest,
    )

    def vec(axis: int) -> list[float]:
        v = [0.0] * DIM
        v[axis] = 1.0
        return v

    idx = tmpdir_scratch + "/embidx"
    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame(
        [(1, vec(0)), (2, vec(1)), (3, vec(0))], schema  # 3 is a base dup of 1
    )
    _, v1 = embedding_index_ingest(spark, idx, base)
    assert v1 == 1
    assert read_snapshot(spark, idx).count() == 2  # 1 and 2 retained, 3 dropped

    inc = spark.createDataFrame(
        [
            (10, vec(0)),  # clone of retained base vec 1 -> known
            (11, vec(2)),  # novel keeper
            (12, vec(2)),  # in-increment clone
            (13, vec(3)),  # novel (orthogonal to everything)
        ],
        schema,
    )
    verd, _v2 = embedding_index_ingest(spark, idx, inc)
    got = {r["vec_id"]: r["verdict"] for r in verd.collect()}
    assert got == {
        10: "known_neardup",
        11: "novel",
        12: "neardup_in_increment",
        13: "novel",
    }
    assert read_snapshot(spark, idx).count() == 4  # + vecs 11 and 13

    verd2, _v3 = embedding_index_ingest(spark, idx, inc)  # crash-replay
    assert {r["vec_id"]: r["verdict"] for r in verd2.collect()} == got
    assert read_snapshot(spark, idx).count() == 4  # idempotent

    # redelivered retained vec 11 + a NEW lower-id near-dup of it: the
    # retained vec stays novel, the newcomer is a corpus near-dup
    verd3, _v4 = embedding_index_ingest(
        spark,
        idx,
        spark.createDataFrame([(5, vec(2)), (11, vec(2))], schema),
    )
    assert {r["vec_id"]: r["verdict"] for r in verd3.collect()} == {
        5: "known_neardup",
        11: "novel",
    }
    assert read_snapshot(spark, idx).count() == 4


def test_fingerprint_index_survives_compaction(spark, tmpdir_scratch):
    """Operational lifecycle at scale: many small ingest commits leave
    many small files; compact() rewrites the index into few files and
    the NEXT ingest must still see every fingerprint (no dup re-admitted,
    novel still detected)."""
    from ocr_application_spark.operators.dedup import fingerprint_index_ingest
    from ocr_application_spark.sources.snapshots import compact

    idx = tmpdir_scratch + "/fpidx_c"
    for i, txt in enumerate(["alpha", "beta", "gamma"]):
        fingerprint_index_ingest(
            spark, idx, spark.createDataFrame([(i, txt)], "doc_id long, text string")
        )
    compact(spark, idx)
    verd, _ = fingerprint_index_ingest(
        spark,
        idx,
        spark.createDataFrame(
            [(10, "alpha"), (11, "delta")], "doc_id long, text string"
        ),
    )
    assert {r["doc_id"]: r["verdict"] for r in verd.collect()} == {
        10: "known",
        11: "novel",
    }
    assert read_snapshot(spark, idx).count() == 4


def test_gc_orphan_files_age_gated(spark, tmpdir_scratch):
    """Orphan GC: a data file no manifest references (a crashed or
    conflict-losing commit's leftovers) is deleted once older than the
    grace period; younger orphans and every live file survive, and the
    table still reads identically afterwards."""
    import shutil as _sh
    import time as _time

    from ocr_application_spark.sources.snapshots import gc_orphan_files

    tbl = tmpdir_scratch + "/tbl_gc"
    commit(_pages(spark, range(4), "a"), tbl)
    commit(_pages(spark, range(4, 6), "b"), tbl)
    before = {(r.doc_id, r.payload) for r in read_snapshot(spark, tbl).collect()}

    # plant two orphans in a never-published commit dir: one old, one fresh
    data_root = os.path.join(tbl, "data")
    some_live = None
    for dirpath, _d, files in os.walk(data_root):
        for f in files:
            if f.endswith(".parquet"):
                some_live = os.path.join(dirpath, f)
                break
        if some_live:
            break
    orphan_dir = os.path.join(data_root, "c99-deadbeef")
    os.makedirs(orphan_dir)
    old_orphan = os.path.join(orphan_dir, "part-old.parquet")
    new_orphan = os.path.join(orphan_dir, "part-new.parquet")
    _sh.copy(some_live, old_orphan)
    _sh.copy(some_live, new_orphan)
    os.utime(old_orphan, (_time.time() - 7200, _time.time() - 7200))

    stats = gc_orphan_files(tbl, grace_seconds=3600)
    assert stats["files_deleted"] == 1 and stats["skipped_in_grace"] == 1
    assert not os.path.exists(old_orphan) and os.path.exists(new_orphan)
    # live data untouched, table reads identically
    after = {(r.doc_id, r.payload) for r in read_snapshot(spark, tbl).collect()}
    assert after == before

    # sweeping again with zero grace removes the remaining orphan and
    # prunes the now-empty fake commit dir
    stats2 = gc_orphan_files(tbl, grace_seconds=0)
    assert stats2["files_deleted"] == 1
    assert not os.path.isdir(orphan_dir)
    with pytest.raises(FileNotFoundError):
        gc_orphan_files(tmpdir_scratch + "/nope")


def test_merge_fails_on_concurrent_append(spark, tmpdir_scratch, monkeypatch):
    """A writer appending between merge_pages' snapshot read and its
    commit must fail the MERGE loudly (Iceberg's validation), never be
    silently absorbed into the merge manifest — absorption could carry
    a duplicate key the merge never validated against."""
    import ocr_application_spark.sources.snapshots as snap

    tbl = tmpdir_scratch + "/tbl_race"
    commit(_pages(spark, range(4), "a"), tbl)

    real_read_files = snap._read_files
    fired = {"done": False}

    def sneaky(*args, **kwargs):
        if not fired["done"]:
            fired["done"] = True
            commit(_pages(spark, [99], "zz"), tbl)  # concurrent append
        return real_read_files(*args, **kwargs)

    monkeypatch.setattr(snap, "_read_files", sneaky)
    upd = _pages(spark, [0, 1], "upd")
    with pytest.raises(snap.SnapshotConflictError, match="advanced"):
        snap.merge_pages(spark, tbl, upd, key=("doc_id",))
    # the table still reads: winner's append visible, no merge published
    assert read_snapshot(spark, tbl).count() == 5
    # retry after re-read succeeds
    snap.merge_pages(spark, tbl, upd, key=("doc_id",))
    out = {r.payload for r in read_snapshot(spark, tbl).collect()}
    assert out == {"upd-0", "upd-1", "a-2", "a-3", "zz-99"}


def test_merge_works_under_escaping_needy_path(spark, tmpdir_scratch):
    """input_file_name() percent-encodes paths ('my tbl' ->
    'my%20tbl'); the merge's affected-file matching must decode before
    comparing with the raw manifest paths, or every merge under such a
    root dies with a bogus conflict."""
    tbl = tmpdir_scratch + "/my tbl"
    commit(_pages(spark, range(4), "a"), tbl)
    from ocr_application_spark.sources.snapshots import merge_pages

    merge_pages(spark, tbl, _pages(spark, [0, 9], "u"), key=("doc_id",))
    out = {r.payload for r in read_snapshot(spark, tbl).collect()}
    assert out == {"u-0", "a-1", "a-2", "a-3", "u-9"}


def test_winnow_index_ingest_recrawl_lifecycle(spark, tmpdir_scratch):
    """Partial-overlap recrawl ingest against the persisted winnowing
    index: bootstrap commits every doc's fingerprint rows, an
    increment's verdicts split known_overlap / overlap_in_increment /
    novel (docs under k chars default to novel), a HALF-copied doc is
    caught (the capability minhash-of-the-whole-doc lacks), only novel
    docs' rows are appended, and replays are verdict-stable without
    index growth."""
    import random

    from ocr_application_spark.operators.dedup import winnow_index_ingest

    rng = random.Random(71)

    def words(n):
        return " ".join(
            "".join(rng.choice("abcdefghijklmnop") for _ in range(6))
            for _ in range(n)
        )

    t1, t2 = words(50), words(50)
    idx = tmpdir_scratch + "/winidx"
    base = spark.createDataFrame(
        [(1, t1), (2, t2)], "doc_id long, text string"
    )
    _, v1 = winnow_index_ingest(spark, idx, base)
    assert v1 == 1
    n_base_rows = read_snapshot(spark, idx).count()
    assert n_base_rows > 0

    t3 = words(50)
    half_of_t2 = t2[: len(t2) // 2] + " " + words(25)  # 50% copied, tail new
    inc = spark.createDataFrame(
        [
            (10, t1),          # full clone of base doc 1
            (11, t3),          # novel keeper
            (12, t3),          # in-increment clone
            (13, "tiny"),      # < k chars: no fingerprints
            # shares with NO in-batch doc, so the verdict must come
            # from CORPUS evidence — the partial copy is caught against
            # base doc 2 via its copied half
            (9, half_of_t2),   # PARTIAL copy of base doc 2
        ],
        "doc_id long, text string",
    )
    verd, _v2 = winnow_index_ingest(spark, idx, inc)
    got = {r["doc_id"]: r["verdict"] for r in verd.collect()}
    assert got == {
        9: "known_overlap",
        10: "known_overlap",
        11: "novel",
        12: "overlap_in_increment",
        13: "novel",
    }
    n_after = read_snapshot(spark, idx).count()
    assert n_after > n_base_rows  # doc 11's rows appended (13 has none)

    # crash-replay: verdicts reproduce exactly, index does not grow
    verd2, _v3 = winnow_index_ingest(spark, idx, inc)
    assert {r["doc_id"]: r["verdict"] for r in verd2.collect()} == got
    assert read_snapshot(spark, idx).count() == n_after

    # at-least-once redelivery: retained doc 11 (same id) stays novel
    # while a NEW lower-id clone of it is corpus evidence, not a second
    # novel; nothing appended
    verd3, _v4 = winnow_index_ingest(
        spark,
        idx,
        spark.createDataFrame([(5, t3), (11, t3)], "doc_id long, text string"),
    )
    assert {r["doc_id"]: r["verdict"] for r in verd3.collect()} == {
        5: "known_overlap",
        11: "novel",
    }
    assert read_snapshot(spark, idx).count() == n_after


def _class_payloads(family, n_classes):
    """One payload per document class, built so near-dup evidence is
    exact: identical payloads match, payloads of different classes
    share nothing. Embeddings are axis vectors (cosine 1 or 0); texts
    are long word strings over disjoint alphabets (no shared shingle,
    band signature or winnowed gram)."""
    import random

    from ocr_application_spark.operators.similarity import DIM

    if family == "embedding":
        return [[float(a == c) for a in range(DIM)] for c in range(n_classes)]
    rng = random.Random(5)
    out = []
    for c in range(n_classes):
        letters = "abcdefghijklmnopqrstuvwx"[6 * c : 6 * c + 6]
        out.append(
            " ".join("".join(rng.choice(letters) for _ in range(5)) for _ in range(40))
        )
    return out


@pytest.mark.parametrize("family", ["minhash", "winnow", "embedding"])
def test_near_dup_ingests_match_precedence_model(spark, tmpdir_scratch, family):
    """Differential test of the replay-stable verdict rule the three
    near-dup ingests share. Random batches re-deliver earlier ids (rule
    1: an id the index retains stays 'novel') and repeat document
    classes (rule 2: a lower id of the same class in the batch; rule 3:
    another id's index rows of the same class); a pure-Python model of
    that precedence and of the novel-only append predicts every verdict
    and the set of indexed ids. Replaying an earlier batch afterwards
    reproduces its verdicts and adds no index row."""
    import random

    from ocr_application_spark.operators.dedup import (
        _WINNOW_MIN_SHARED,
        minhash_index_ingest,
        winnow_fingerprints,
        winnow_index_ingest,
    )
    from ocr_application_spark.operators.similarity import embedding_index_ingest

    ingest, key, schema, inc_label, known_label = {
        "minhash": (minhash_index_ingest, "doc_id", "doc_id long, text string",
                    "neardup_in_increment", "known_neardup"),
        "winnow": (winnow_index_ingest, "doc_id", "doc_id long, text string",
                   "overlap_in_increment", "known_overlap"),
        "embedding": (embedding_index_ingest, "vec_id",
                      "vec_id long, embedding array<float>",
                      "neardup_in_increment", "known_neardup"),
    }[family]
    payload = _class_payloads(family, 4)
    if family == "winnow":
        fps = winnow_fingerprints(
            spark.createDataFrame([(0, payload[0])], "doc_id long, text string")
        )
        assert fps.select("fp_hash").distinct().count() >= _WINNOW_MIN_SHARED

    # seed 3 draws every rule: 6 re-delivered retained ids, 8
    # in-increment and 4 corpus near-dups over four batches
    rng = random.Random(3)
    klass: dict[int, int] = {}  # id -> class, fixed once the id exists
    batches = []
    for _ in range(4):
        seen = list(klass)
        fresh = rng.sample(range(100), rng.randint(3, 6))
        ids = sorted(set(rng.sample(seen, min(len(seen), rng.randint(0, 3))) + fresh))
        for i in ids:
            klass.setdefault(i, rng.randrange(len(payload)))
        batches.append(ids)

    retained: dict[int, int] = {}  # the model index: id -> class
    idx = tmpdir_scratch + f"/near_{family}"
    originals = []
    for ids in batches:
        expect = {}
        for i in ids:
            c = klass[i]
            if i in retained:
                expect[i] = "novel"
            elif any(j < i and klass[j] == c for j in ids):
                expect[i] = inc_label
            elif any(j != i and rc == c for j, rc in retained.items()):
                expect[i] = known_label
            else:
                expect[i] = "novel"
        for i, v in expect.items():
            if v == "novel":
                retained.setdefault(i, klass[i])
        df = spark.createDataFrame([(i, payload[klass[i]]) for i in ids], schema)
        verd, _ = ingest(spark, idx, df)
        got = {r[key]: r["verdict"] for r in verd.collect()}
        assert got == expect, (family, ids, got, expect)
        indexed = {r[key] for r in read_snapshot(spark, idx).select(key).distinct().collect()}
        assert indexed == set(retained), (family, ids)
        originals.append((df, got))

    n_rows = read_snapshot(spark, idx).count()
    df, first = originals[rng.randrange(len(originals) - 1)]
    verd, _ = ingest(spark, idx, df)
    assert {r[key]: r["verdict"] for r in verd.collect()} == first
    assert read_snapshot(spark, idx).count() == n_rows


def test_delete_rows_copy_on_write_and_time_travels(spark, tmpdir_scratch):
    """DELETE FROM analog: matched rows removed, untouched files carried
    verbatim in the new manifest, pre-delete snapshots still read the
    deleted rows, a file whose every row matches disappears entirely,
    and a pure-miss delete is a version-preserving no-op."""
    import json as _json

    from ocr_application_spark.sources.snapshots import (
        delete_pages,
        snapshot_info,
        snapshot_versions,
    )

    tbl = tmpdir_scratch + "/del_tbl"
    commit(_pages(spark, range(4), "a"), tbl)
    v2 = commit(_pages(spark, range(4, 8), "b"), tbl)

    keys = spark.createDataFrame([(1,), (2,), (999,)], "doc_id long")
    vd = delete_pages(spark, tbl, keys, key=("doc_id",))
    assert snapshot_info(tbl, vd)["mode"] == "merge"
    got = {r.doc_id for r in read_snapshot(spark, tbl).collect()}
    assert got == {0, 3, 4, 5, 6, 7}

    # time travel: pre-delete snapshot still has rows 1 and 2
    old = {r.doc_id for r in read_snapshot(spark, tbl, v2).collect()}
    assert old == set(range(8))

    # copy-on-write: the second commit's file had no matched key and
    # must be carried verbatim
    m_old = _json.load(open(tbl + f"/_snapshots/v{v2}.json"))
    m_new = _json.load(open(tbl + f"/_snapshots/v{vd}.json"))
    assert set(m_old["files"]) & set(m_new["files"]), "untouched file carried"

    # pure-miss delete: NO new version
    assert delete_pages(
        spark, tbl, spark.createDataFrame([(999,)], "doc_id long"), key=("doc_id",)
    ) == vd
    assert snapshot_versions(tbl)[-1] == vd

    # delete EVERY remaining first-commit row: all c1 files vanish from
    # the manifest, the table still reads correctly, time travel holds
    vd2 = delete_pages(
        spark, tbl, spark.createDataFrame([(0,), (3,)], "doc_id long"),
        key=("doc_id",),
    )
    assert {r.doc_id for r in read_snapshot(spark, tbl).collect()} == {4, 5, 6, 7}
    assert {r.doc_id for r in read_snapshot(spark, tbl, vd).collect()} == {
        0, 3, 4, 5, 6, 7,
    }
    m2 = _json.load(open(tbl + f"/_snapshots/v{vd2}.json"))
    # each delete rewrites ONLY the c1 files holding a matched key:
    # strictly fewer c1 files after each step (the leftovers are the
    # first commit's zero-row part files — 8 slices for 4 rows — which
    # never match a key and carry forever until compact())
    c1 = lambda m: {f for f in m["files"] if "/c1-" in f}
    assert c1(m2) < c1(m_new) < c1(m_old)


# --- refs: branches, tags, rollback, write-audit-publish ----------------------


def test_wap_stage_on_branch_then_publish(spark, tmpdir_scratch):
    """Write-audit-publish: commits staged on an audit branch are
    invisible to main readers until publish_branch fast-forwards main."""
    from ocr_application_spark.sources.snapshots import (
        create_branch,
        list_refs,
        publish_branch,
        read_snapshot_diff,
    )

    tbl = tmpdir_scratch + "/tbl"
    v1 = commit(_pages(spark, range(4), "a"), tbl)
    create_branch(tbl, "audit")
    vb = commit(_pages(spark, range(4, 7), "b"), tbl, branch="audit")
    vb2 = commit(_pages(spark, range(7, 9), "c"), tbl, branch="audit")

    # main readers see NONE of the staged rows; branch readers see all
    assert read_snapshot(spark, tbl).count() == 4
    assert read_snapshot(spark, tbl, ref="audit").count() == 9
    # the branch head moved with each staged commit
    assert list_refs(tbl)["audit"]["version"] == vb2
    # time travel into the staged chain still works by version
    assert read_snapshot(spark, tbl, vb).count() == 7

    head = publish_branch(tbl, "audit")
    assert head == vb2
    assert read_snapshot(spark, tbl).count() == 9
    # the published history is one line: incremental consumers diff it
    assert read_snapshot_diff(spark, tbl, v1).count() == 5


def test_publish_refuses_diverged_main(spark, tmpdir_scratch):
    """Non-fast-forward publish must fail loudly: flipping main onto a
    branch whose history does not contain main's head would silently
    drop main's commits."""
    from ocr_application_spark.sources.snapshots import (
        SnapshotConflictError,
        create_branch,
        publish_branch,
    )

    tbl = tmpdir_scratch + "/tbl"
    commit(_pages(spark, range(3), "a"), tbl)
    create_branch(tbl, "audit")
    commit(_pages(spark, range(3, 5), "b"), tbl, branch="audit")
    commit(_pages(spark, range(5, 6), "m"), tbl)  # main advances too
    with pytest.raises(SnapshotConflictError, match="not an ancestor"):
        publish_branch(tbl, "audit")
    # main kept its own history
    assert {r.payload for r in read_snapshot(spark, tbl).collect()} == {
        "a-0", "a-1", "a-2", "m-5",
    }


def test_tags_are_immutable_and_survive_expiry(spark, tmpdir_scratch):
    from ocr_application_spark.sources.snapshots import (
        create_tag,
        drop_ref,
        expire_snapshots,
    )

    tbl = tmpdir_scratch + "/tbl"
    v1 = commit(_pages(spark, range(3), "a"), tbl)
    create_tag(tbl, "baseline", v1)
    commit(_pages(spark, range(3, 5), "b"), tbl)
    v3 = commit(_pages(spark, range(5, 6), "c"), tbl)

    # a tag never takes commits and cannot be re-created
    with pytest.raises(ValueError, match="tag"):
        commit(_pages(spark, [9], "x"), tbl, branch="baseline")
    with pytest.raises(ValueError, match="already exists"):
        create_tag(tbl, "baseline", v3)

    # expiry keeps the tagged snapshot readable; the untagged middle
    # version expires normally
    res = expire_snapshots(tbl, keep_last=1)
    assert res["expired_versions"] == [2]
    assert read_snapshot(spark, tbl, ref="baseline").count() == 3
    assert read_snapshot(spark, tbl).count() == 6

    # dropping the tag releases it; main is never droppable
    drop_ref(tbl, "baseline")
    res2 = expire_snapshots(tbl, keep_last=1)
    assert res2["expired_versions"] == [1]
    with pytest.raises(ValueError, match="main"):
        drop_ref(tbl, "main")
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, tbl, ref="baseline")


def test_rollback_rewinds_main_along_its_history(spark, tmpdir_scratch):
    from ocr_application_spark.sources.snapshots import (
        create_branch,
        read_snapshot_diff,
        rollback,
    )

    tbl = tmpdir_scratch + "/tbl"
    v1 = commit(_pages(spark, range(3), "a"), tbl)
    v2 = commit(_pages(spark, range(3, 5), "b"), tbl)
    rollback(tbl, v1)
    assert read_snapshot(spark, tbl).count() == 3

    # the next commit parents off the rolled-back head, NOT v2: its
    # rows are v1's plus the new batch, and the diff-from-v1 stream
    # contains only the new batch (v2 is abandoned history)
    v3 = commit(_pages(spark, range(10, 12), "c"), tbl)
    assert v3 == 3  # global numbering continues past the abandoned v2
    got = {r.payload for r in read_snapshot(spark, tbl).collect()}
    assert got == {"a-0", "a-1", "a-2", "c-10", "c-11"}
    assert {r.payload for r in read_snapshot_diff(spark, tbl, v1).collect()} == {
        "c-10", "c-11",
    }
    # v2 still time-travels until expired
    assert read_snapshot(spark, tbl, v2).count() == 5

    # rollback only follows main's own ancestry: a snapshot minted on
    # another branch is rejected
    create_branch(tbl, "side", v1)
    vs = commit(_pages(spark, [99], "s"), tbl, branch="side")
    with pytest.raises(ValueError, match="not on main's history"):
        rollback(tbl, vs)
    # cross-history diff is refused (v2 was abandoned by the rollback,
    # so it is NOT an ancestor of the current head — the file-set
    # subtraction would be meaningless)
    with pytest.raises(ValueError, match="crosses branches"):
        read_snapshot_diff(spark, tbl, v2, to_version=v3)


def test_branch_commit_requires_existing_branch(spark, tmpdir_scratch):
    tbl = tmpdir_scratch + "/tbl"
    commit(_pages(spark, range(2), "a"), tbl)
    with pytest.raises(FileNotFoundError, match="create_branch"):
        commit(_pages(spark, [5], "b"), tbl, branch="audit")


def test_legacy_tables_unaffected_until_pinned(spark, tmpdir_scratch):
    """A table that never touched refs keeps the pre-refs contract:
    head = highest version, no refs dir, list_refs reports the implicit
    (unpinned) main."""
    from ocr_application_spark.sources.snapshots import list_refs

    tbl = tmpdir_scratch + "/tbl"
    commit(_pages(spark, range(2), "a"), tbl)
    v2 = commit(_pages(spark, range(2, 5), "b"), tbl)
    assert not os.path.isdir(tbl + "/_snapshots/refs")
    assert list_refs(tbl) == {
        "main": {"type": "branch", "version": v2, "pinned": False}
    }
    assert read_snapshot(spark, tbl).count() == 5


def test_binpack_compaction_rewrites_only_small_files(spark, tmpdir_scratch):
    """compact_small_files packs the small-file tail in O(small files):
    big files are carried into the new manifest verbatim, rows are
    unchanged, prior snapshots time-travel, and a pack with nothing to
    do is a version-preserving no-op."""
    import json as _json

    from ocr_application_spark.sources.snapshots import compact_small_files

    import hashlib

    tbl = tmpdir_scratch + "/tbl"
    # one BIG file (coalesced, many rows of incompressible payload so
    # the parquet bytes actually exceed the threshold) + many small ones
    big = spark.createDataFrame(
        [
            (i, hashlib.md5(str(i).encode()).hexdigest() * 8)
            for i in range(3000)
        ],
        "doc_id long, payload string",
    )
    commit(big.coalesce(1), tbl)
    for k in range(4):
        commit(
            spark.createDataFrame(
                [(10_000 + 10 * k + j, f"s-{k}-{j}") for j in range(3)],
                "doc_id long, payload string",
            ).coalesce(1),
            tbl,
        )
    v_before = snapshot_versions(tbl)[-1]
    m_before = _json.load(open(tbl + f"/_snapshots/v{v_before}.json"))
    sizes = {f: os.path.getsize(f) for f in m_before["files"]}
    big_files = {f for f, s in sizes.items() if s >= 100_000}
    small_files = set(m_before["files"]) - big_files
    assert big_files and len(small_files) >= 4

    n_rows = read_snapshot(spark, tbl).count()
    v_pack = compact_small_files(spark, tbl, small_bytes=100_000)
    m_after = _json.load(open(tbl + f"/_snapshots/v{v_pack}.json"))
    # big files carried verbatim; every small file replaced by fewer
    assert big_files <= set(m_after["files"])
    assert not small_files & set(m_after["files"])
    packed = set(m_after["files"]) - big_files
    assert 1 <= len(packed) < len(small_files)
    # content identical, time travel intact
    assert read_snapshot(spark, tbl).count() == n_rows
    cur = {(r.doc_id, r.payload) for r in read_snapshot(spark, tbl).collect()}
    old = {(r.doc_id, r.payload) for r in read_snapshot(spark, tbl, v_before).collect()}
    assert cur == old
    # packed files got zone stats (pruning keeps working)
    assert any(f in m_after.get("stats", {}) for f in packed)

    # second pack: the packed file may still be under the threshold but
    # alone it cannot pack further -> no-op, no new version
    assert compact_small_files(spark, tbl, small_bytes=100_000) == v_pack
    assert snapshot_versions(tbl)[-1] == v_pack


def test_refs_and_diff_usable_after_history_expiry(spark, tmpdir_scratch):
    """expire_snapshots deletes old MANIFESTS, leaving live manifests
    with dangling parent pointers — every parent-chain walk (diff,
    rollback, publish) must truncate at the oldest live ancestor, not
    crash with FileNotFoundError on the expired file."""
    from ocr_application_spark.sources.snapshots import (
        expire_snapshots,
        read_snapshot_diff,
        rollback,
    )

    tbl = tmpdir_scratch + "/tbl"
    commit(_pages(spark, range(3), "a"), tbl)
    commit(_pages(spark, [10], "b"), tbl)
    commit(_pages(spark, [20], "c"), tbl)
    expire_snapshots(tbl, keep_last=2)  # v1's manifest is gone
    assert snapshot_versions(tbl) == [2, 3]
    # diff across the live range still works
    got = {r.payload for r in read_snapshot_diff(spark, tbl, 2).collect()}
    assert got == {"c-20"}
    # rollback along the live chain still works
    rollback(tbl, 2)
    assert read_snapshot(spark, tbl).count() == 4


def test_pinned_main_commit_cas_detects_stale_parent(spark, tmpdir_scratch, monkeypatch):
    """Once a ref pins main, a commit's version NUMBER (global max+1)
    and its PARENT (the ref file) are read separately — a concurrent
    commit landing between the two reads must fail THIS writer loudly
    (parent re-validated under the ref lock), never be silently dropped
    from the branch by a fresh-numbered child of a stale parent."""
    import ocr_application_spark.sources.snapshots as snap

    tbl = tmpdir_scratch + "/tbl"
    commit(_pages(spark, range(4), "a"), tbl)
    snap.create_tag(tbl, "t0")  # pins main at v1

    real_versions = snap.snapshot_versions
    real_load_ref = snap._load_ref
    state = {"fired": False, "serve_stale": False, "stale": None}

    def versions_patch(path):
        if not state["fired"]:
            state["fired"] = True
            state["stale"] = real_load_ref(path, "main")
            commit(_pages(spark, [50], "in"), tbl)  # concurrent commit
            out = real_versions(path)  # outer sees the FRESH listing
            state["serve_stale"] = True  # ...but the PRE-race ref
            return out
        return real_versions(path)

    def load_ref_patch(path, name):
        if name == "main" and state["serve_stale"]:
            state["serve_stale"] = False  # only the plan-time read
            return state["stale"]
        return real_load_ref(path, name)

    monkeypatch.setattr(snap, "snapshot_versions", versions_patch)
    monkeypatch.setattr(snap, "_load_ref", load_ref_patch)
    with pytest.raises(snap.SnapshotConflictError, match="advanced"):
        commit(_pages(spark, [99], "out"), tbl)
    monkeypatch.undo()
    # loser's manifest was unlinked; winner's commit is the head
    assert snapshot_versions(tbl) == [1, 2]
    assert {r.payload for r in read_snapshot(spark, tbl).collect()} == {
        "a-0", "a-1", "a-2", "a-3", "in-50"
    }
    # retry after re-read succeeds
    commit(_pages(spark, [99], "out"), tbl)
    assert read_snapshot(spark, tbl).count() == 6


def test_cluster_snapshot_wide_range_and_concurrent_append(spark, tmpdir_scratch, monkeypatch):
    """Z-order scaling must survive unix_micros-scale column ranges
    (multiply-first int64 math overflows past ~2^47 at bits=16 under
    ANSI), and the replace_all rewrite must fail loudly when an append
    lands mid-rewrite instead of silently erasing it."""
    import ocr_application_spark.sources.snapshots as snap

    tbl = tmpdir_scratch + "/tbl"
    # ts spans ~6.3 years of microseconds (range 2e14)
    rows = spark.createDataFrame(
        [(i, (i * 37) % 100, i * 20_000_000_000) for i in range(10_000)],
        "doc_id long, k long, ts_us long",
    )
    commit(rows, tbl)
    v = snap.cluster_snapshot(spark, tbl, ["k", "ts_us"], target_files=4)
    out = read_snapshot(spark, tbl, v)
    assert out.count() == 10_000
    assert {r.doc_id for r in out.select("doc_id").collect()} == set(range(10_000))

    # concurrent append between the rewrite's read and its commit
    real_read_files = snap._read_files
    fired = {"done": False}

    def sneaky(*args, **kwargs):
        if not fired["done"]:
            fired["done"] = True
            commit(spark.createDataFrame([(77777, 1, 1)], "doc_id long, k long, ts_us long"), tbl)
        return real_read_files(*args, **kwargs)

    monkeypatch.setattr(snap, "_read_files", sneaky)
    with pytest.raises(snap.SnapshotConflictError, match="advanced"):
        snap.cluster_snapshot(spark, tbl, ["k"])
    monkeypatch.undo()
    # the concurrent append is still visible; retry succeeds
    assert read_snapshot(spark, tbl).count() == 10_001
    snap.cluster_snapshot(spark, tbl, ["k"])
    assert read_snapshot(spark, tbl).count() == 10_001


def test_ref_lock_steal_is_atomic_and_release_checks_ownership(tmpdir_scratch):
    """Two contenders observing the same stale lock must not BOTH end up
    inside the critical section (steal is by atomic rename, not
    rmdir-in-place), and a holder whose lock was stolen must not release
    the thief's lock on exit."""
    import os
    import time as _time

    import ocr_application_spark.sources.snapshots as snap

    tbl = tmpdir_scratch + "/locktbl"
    refs = snap._refs_dir(tbl)
    d = os.path.join(refs, ".reflock")

    # --- stale lock is stolen and re-acquired ---------------------------
    os.makedirs(d)
    old = _time.time() - 3600
    os.utime(d, (old, old))
    with snap._ref_lock(tbl):
        # thief acquired: fresh dir with our owner token inside
        assert os.path.exists(os.path.join(d, "owner"))
    assert not os.path.exists(d)  # clean release

    # --- loser of the steal race gets a conflict, not the lock ----------
    os.makedirs(d)
    os.utime(d, (old, old))
    real_rename = os.rename

    def losing_rename(src, dst):
        if os.path.basename(src) == ".reflock":
            # another thief won the rename first
            raise OSError("lost the steal race")
        return real_rename(src, dst)

    os.rename = losing_rename
    try:
        with pytest.raises(snap.SnapshotConflictError):
            with snap._ref_lock(tbl):
                pass
    finally:
        os.rename = real_rename
    os.rmdir(d)

    # --- release after theft must not remove the thief's lock -----------
    lock_cm = snap._ref_lock(tbl)
    lock_cm.__enter__()
    # simulate a steal while the holder is inside: rename aside, thief
    # re-acquires with its own token
    real_rename(d, d + ".stale.test")
    os.makedirs(d)
    with open(os.path.join(d, "owner"), "w") as fh:
        fh.write("thief-token")
    lock_cm.__exit__(None, None, None)
    # thief's lock survives the old holder's finally-release
    assert os.path.exists(d)
    with open(os.path.join(d, "owner")) as fh:
        assert fh.read() == "thief-token"
