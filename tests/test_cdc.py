"""Behavior tests for operators/cdc.py (content-defined chunking).

The property that justifies CDC over fixed-size blocking — boundaries
depend only on local content, so edits re-chunk only the region they
touch — is pinned directly: a head insertion must leave the tail
chunk-hash multiset intact.
"""

import contextlib
import hashlib
import io
import re

import pyspark.sql.functions as F
from hypothesis import example, given, settings
from hypothesis import strategies as st

from ocr_application_spark.operators import cdc as C
from ocr_application_spark.operators.dedup import winnow_fingerprints
from tests.test_winnow import _twin as _ref_winnow

SF = "/root/testdata/sf0.001"


def _chunks_of(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return C.cdc_chunks(df).collect()


def test_chunks_reconstruct_the_document(spark):
    """Concatenating chunks in chunk_no order rebuilds the lowercased
    text exactly — no gaps, no overlaps, for docs with and without
    boundaries."""
    base = "The quick brown fox jumps over the lazy dog. " * 20
    rows = [(1, base), (2, "tiny"), (3, "x" * 7)]
    got = {}
    for r in _chunks_of(spark, rows):
        got.setdefault(r["doc_id"], []).append((r["chunk_no"], r["chunk_chars"]))
    for doc_id, text in rows:
        lens = [c for _, c in sorted(got[doc_id])]
        assert sum(lens) == len(text), doc_id
        nos = [n for n, _ in sorted(got[doc_id])]
        assert nos == list(range(1, len(nos) + 1)), doc_id


def test_head_insertion_preserves_tail_chunks(spark):
    """CDC's reason to exist: prepending bytes must leave every chunk
    after the first re-synchronized boundary identical (same hashes),
    where fixed-size blocking would shift-break ALL of them."""
    body = (
        "in a village of la mancha the name of which i have no desire to "
        "call to mind there lived not long since one of those gentlemen "
    ) * 8
    rows = [(1, body), (2, "BREAKING UPDATE 2026: " + body)]
    out = _chunks_of(spark, rows)
    h1 = [r["chunk_hash"] for r in sorted(out, key=lambda r: r["chunk_no"]) if r["doc_id"] == 1]
    h2 = [r["chunk_hash"] for r in sorted(out, key=lambda r: r["chunk_no"]) if r["doc_id"] == 2]
    # multiset overlap (the repeated body yields repeated chunk hashes,
    # so a set compare would collapse them): everything but the head
    # region re-synchronizes
    from collections import Counter

    overlap = sum((Counter(h1) & Counter(h2)).values())
    assert overlap >= len(h1) - 2, (len(h1), len(h2), overlap)
    # and the suffix sequence is preserved, not just the multiset
    assert h1[-5:] == h2[-5:]


def test_empty_docs_emit_nothing_short_docs_one_chunk(spark):
    out = _chunks_of(spark, [(1, ""), (2, None), (3, "abc")])
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 1 not in by_doc and 2 not in by_doc
    assert len(by_doc[3]) == 1 and by_doc[3][0]["chunk_chars"] == 3


def test_mean_chunk_size_tracks_the_mask(spark):
    """h % 32 == 0 on a ~uniform 40-bit hash -> mean gap ~32 grams;
    chunks should average within a loose band of mask + k on real
    text (the knob a deployment tunes)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ch = C.cdc_chunks(docs)
    mean = ch.agg((F.sum("chunk_chars") / F.count("*")).alias("m")).collect()[0]["m"]
    assert 20 <= mean <= 80, mean


def test_gate_ratio_bounds_and_self_consistency(spark):
    out = C.dedup_cdc_chunks(spark, SF)
    bad = out.filter(
        (F.col("shared_chars") > F.col("total_chars"))
        | (F.col("shared_bp") < 0)
        | (F.col("shared_bp") > 10000)
        | (F.col("n_chunks") < 1)
    )
    assert bad.count() == 0


def test_plan_no_cartesian_and_bounded_exchanges(spark):
    df = C.dedup_cdc_chunks(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    # chunking fuses into the scan projection; the exchanges are the
    # chunk-hash distinct-agg (two-phase), the join side, and the doc
    # agg — all keyed O(chunks), never O(pairs)
    assert len(re.findall(r"\bExchange\b", plan)) <= 6, plan


# --- differential property test vs a pure-Python reference -----------------


def _h40(s):
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:10], 16)


def _ref_cdc(text):
    """(chunk_no, chunk_chars, chunk_hash) rows of one doc, from
    code-point slices of the lowered text."""
    k, m = C._CDC_K, C._CDC_MASK
    t = (text or "").lower()
    bs = [p + k - 1 for p in range(1, len(t) - k + 2) if _h40(t[p - 1 : p - 1 + k]) % m == 0]
    cuts = zip([1] + [e + 1 for e in bs], bs + [len(t)])
    chunks = [c for c in (t[s - 1 : e] for s, e in cuts) if c]
    return [(i + 1, len(c), _h40(c)) for i, c in enumerate(chunks)]


# ASCII, multi-byte BMP (2- and 3-byte UTF-8), combining marks, astral
# plane (4-byte UTF-8, one code point but two UTF-16 units), and an
# astral letter with a case mapping (Deseret U+10400 -> U+10428)
_ALPHABET = "aAbZ09 .\né\u00c9\u00df\u0301\u0308漢字한😀🙂𝔘\U00010400"
_texts = st.one_of(
    st.none(),
    st.text(alphabet=_ALPHABET, max_size=300),
    # lengths k-1, k and k+1 around the gram width
    st.integers(C._CDC_K - 1, C._CDC_K + 1).flatmap(
        lambda n: st.text(alphabet=_ALPHABET, min_size=n, max_size=n)
    ),
)


@given(texts=st.lists(_texts, min_size=1, max_size=12))
@example(texts=["😀" * 7, "😀" * 8, "😀" * 9, "", None, "abc", "漢字" * 40])
@example(texts=["e\u0301" * 3, "A\u0308b\u0301" * 40, "𝔘\U00010400x" * 50])
@settings(max_examples=15, deadline=None)
def test_cdc_and_winnow_match_python_reference(spark, texts):
    """cdc_chunks and winnow_fingerprints against md5 over code-point
    slices in Python: every boundary, chunk length, chunk hash and
    fingerprint must agree, whatever the UTF-8 width of the text."""
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {}
    for r in C.cdc_chunks(df).collect():
        got.setdefault(r["doc_id"], []).append((r["chunk_no"], r["chunk_chars"], r["chunk_hash"]))
    want = {i: _ref_cdc(t) for i, t in enumerate(texts) if _ref_cdc(t)}
    assert {i: sorted(v) for i, v in got.items()} == want
    for k, w in ((8, 4), (3, 2)):
        got_w = {}
        for r in winnow_fingerprints(df, k=k, w=w).collect():
            got_w.setdefault(r["doc_id"], []).append((r["fp_pos"], r["fp_hash"]))
        assert all(len(v) == len(set(v)) for v in got_w.values())
        want_w = {i: _ref_winnow(t or "", k, w) for i, t in enumerate(texts)}
        assert {i: set(v) for i, v in got_w.items()} == {i: v for i, v in want_w.items() if v}, (k, w)


# --- chunk-store incremental ingest ------------------------------------------


def test_cdc_store_replay_adds_zero_bytes(spark, tmp_path):
    """Re-ingesting the same batch must find every chunk in the store:
    all 'known', zero novel chars, saved_bp == 10000 — and the store
    gains no rows."""
    from ocr_application_spark.operators.cdc import cdc_store_ingest
    from ocr_application_spark.sources.snapshots import read_snapshot

    docs = spark.createDataFrame(
        [(i, f"document body {i} " + "shared template tail " * 4) for i in range(20)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "chunkstore")
    r1, v1 = cdc_store_ingest(spark, store, docs)
    r1.collect()
    n_store_1 = read_snapshot(spark, store).count()
    r2, v2 = cdc_store_ingest(spark, store, docs)
    rows = r2.collect()
    assert all(r["n_novel"] == 0 and r["novel_chars"] == 0 for r in rows)
    assert all(r["saved_bp"] == 10000 for r in rows)
    assert all(r["n_known"] == r["n_chunks"] for r in rows)
    assert read_snapshot(spark, store).count() == n_store_1  # nothing appended
    assert v2 > v1  # but the commit itself is still recorded


def test_cdc_store_attribution_charges_first_holder(spark, tmp_path):
    """A chunk novel to the store is charged to exactly ONE increment
    doc; total novel chars across the report equals the store's
    appended chunk bytes."""
    import pyspark.sql.functions as F

    from ocr_application_spark.operators.cdc import cdc_store_ingest
    from ocr_application_spark.sources.snapshots import read_snapshot

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta " * 6), (2, "alpha beta gamma delta " * 6),
         (3, "completely different body text here " * 4)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "s2")
    rep, _ = cdc_store_ingest(spark, store, docs)
    rows = {r["doc_id"]: r for r in rep.collect()}
    # doc 2 duplicates doc 1: every one of its chunks is dup_in_increment
    assert rows[2]["n_novel"] == 0 and rows[2]["n_dup_increment"] == rows[2]["n_chunks"]
    stored = read_snapshot(spark, store).agg(F.sum("chunk_chars")).collect()[0][0]
    assert stored == sum(r["novel_chars"] for r in rows.values())


def test_cdc_bloom_prefilter_is_verdict_identical_and_maintains_sidecar(
    spark, tmp_path
):
    """bloom_prefilter is a pure cost dial: bootstrap+recrawl with the
    flag on must produce the SAME per-doc report as the plain path,
    the sidecar must exist and cover the committed version, and a
    replay through the bloom path still appends nothing."""
    import os

    import pyspark.sql.functions as F

    from ocr_application_spark.operators.cdc import cdc_store_ingest
    from ocr_application_spark.sources.snapshots import read_snapshot, snapshot_versions

    base = [(i, f"base doc {i} " + "common template tail " * 5) for i in range(12)]
    inc = [(100 + i, f"inc doc {i} " + "common template tail " * 5) for i in range(6)]
    inc += [(200, base[0][1])]  # full clone of a base doc -> all known
    bdf = spark.createDataFrame(base, "doc_id long, text string")
    idf = spark.createDataFrame(inc, "doc_id long, text string")

    def run(store, flag):
        cdc_store_ingest(spark, store, bdf, bloom_prefilter=flag)
        rep, v = cdc_store_ingest(spark, store, idf, bloom_prefilter=flag)
        return sorted(tuple(r) for r in rep.collect()), v

    plain, _ = run(str(tmp_path / "s_plain"), False)
    bloomed, v = run(str(tmp_path / "s_bloom"), True)
    assert plain == bloomed  # bit-identical verdicts
    bpath = str(tmp_path / "s_bloom") + "_bloom"
    assert snapshot_versions(bpath), "sidecar missing"
    meta = read_snapshot(spark, bpath).select("covers_version").first()
    assert meta["covers_version"] == v
    # replay through the bloom path: everything known, nothing appended
    store_rows = read_snapshot(spark, str(tmp_path / "s_bloom")).count()
    rep3, _ = cdc_store_ingest(
        spark, str(tmp_path / "s_bloom"), idf, bloom_prefilter=True
    )
    assert rep3.agg(F.sum("n_novel")).collect()[0][0] == 0
    assert read_snapshot(spark, str(tmp_path / "s_bloom")).count() == store_rows


def _ingest_fixture(spark):
    base = [(i, f"base doc {i} " + "common template tail " * 5) for i in range(12)]
    inc = [(100 + i, f"inc doc {i} " + "common template tail " * 5) for i in range(6)]
    inc += [(200, base[0][1])]  # full clone of a base doc -> all known
    return (
        spark.createDataFrame(base, "doc_id long, text string"),
        spark.createDataFrame(inc, "doc_id long, text string"),
    )


def test_cdc_bucketed_probe_is_verdict_identical_and_replay_stable(
    spark, tmp_path
):
    """bucketed_probe is a pure layout dial (PERF §7b's all-dup-replay
    fix): bootstrap + recrawl with the flag on — and with bloom AND
    bucketed together — must produce the SAME per-doc reports as the
    plain path; a replay appends nothing; the mirror state covers the
    committed version."""
    from ocr_application_spark.operators.cdc import (
        _read_mirror_state,
        cdc_store_ingest,
    )
    from ocr_application_spark.sources.snapshots import read_snapshot, snapshot_versions

    bdf, idf = _ingest_fixture(spark)

    def run(store, **kw):
        rep0, _ = cdc_store_ingest(spark, store, bdf, **kw)
        b0 = sorted(tuple(r) for r in rep0.collect())
        rep, v = cdc_store_ingest(spark, store, idf, **kw)
        return b0, sorted(tuple(r) for r in rep.collect()), v

    p0, p1, _ = run(str(tmp_path / "s_plain"))
    b0, b1, v = run(str(tmp_path / "s_buck"), bucketed_probe=True, probe_buckets=8)
    assert (p0, p1) == (b0, b1)  # bit-identical verdicts
    c0, c1, _ = run(
        str(tmp_path / "s_both"),
        bucketed_probe=True,
        probe_buckets=8,
        bloom_prefilter=True,
    )
    assert (p0, p1) == (c0, c1)  # flags compose
    st = _read_mirror_state(str(tmp_path / "s_buck"))
    assert (st["covers_version"], st["n_buckets"]) == (v, 8)
    assert st["n_hashes"] > 0
    # all-dup replay through the bucketed path: nothing appended
    store = str(tmp_path / "s_buck")
    n_before = read_snapshot(spark, store).count()
    rep3, v3 = cdc_store_ingest(spark, store, idf, bucketed_probe=True, probe_buckets=8)
    assert rep3.agg(F.sum("n_novel")).collect()[0][0] == 0
    assert read_snapshot(spark, store).count() == n_before
    assert _read_mirror_state(store)["covers_version"] == v3
    assert v3 == snapshot_versions(store)[-1]


def test_cdc_bucketed_mirror_heals_stale_state_and_lost_catalog(
    spark, tmp_path
):
    """The mirror is a sidecar, not a second source of truth: a store
    that advanced WITHOUT mirror maintenance (crash analog: plain-path
    ingest between bucketed ones) gets topped up from the snapshot
    diff on the next covering call; a catalog that forgot the external
    table (new-session analog) re-adopts the surviving bucketed files
    via DDL. Verdicts match the plain twin throughout."""
    from ocr_application_spark.operators.cdc import (
        _mirror_names,
        _read_mirror_state,
        cdc_store_ingest,
    )

    bdf, idf = _ingest_fixture(spark)
    store, twin = str(tmp_path / "s_heal"), str(tmp_path / "s_twin")
    # bootstrap bucketed (mirror at v1), then advance the store PLAIN
    # (mirror now stale at v1 while the store is at v2)
    cdc_store_ingest(spark, store, bdf, bucketed_probe=True, probe_buckets=8)
    v1 = _read_mirror_state(store)["covers_version"]
    cdc_store_ingest(spark, store, idf)  # no mirror maintenance
    assert _read_mirror_state(store)["covers_version"] == v1  # stale
    # twin runs the same two ingests plain
    cdc_store_ingest(spark, twin, bdf)
    cdc_store_ingest(spark, twin, idf)
    # new increment: half clones (known), half fresh
    inc2 = [(300, "wholly fresh content never chunked before " * 4)]
    inc2 += [(301, "inc doc 0 " + "common template tail " * 5)]
    i2 = spark.createDataFrame(inc2, "doc_id long, text string")
    # simulate a NEW session's empty in-memory catalog: drop the
    # external table entry (files survive) so covering must re-adopt
    _, tbl, _ = _mirror_names(store)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    rep_b, vb = cdc_store_ingest(spark, store, i2, bucketed_probe=True, probe_buckets=8)
    rep_p, _ = cdc_store_ingest(spark, twin, i2)
    got = sorted(tuple(r) for r in rep_b.collect())
    want = sorted(tuple(r) for r in rep_p.collect())
    assert got == want
    assert _read_mirror_state(store)["covers_version"] == vb  # healed


def test_cdc_bucketed_mirror_rebuilds_when_data_dir_lost(spark, tmp_path):
    """A data dir deleted behind a surviving state file must REBUILD at
    adoption (the row-count cross-check), never probe an empty mirror —
    which would re-commit store-known chunks as novel."""
    import shutil

    from ocr_application_spark.operators.cdc import (
        _mirror_names,
        cdc_store_ingest,
    )
    from ocr_application_spark.sources.snapshots import read_snapshot

    bdf, idf = _ingest_fixture(spark)
    store = str(tmp_path / "s_corrupt")
    cdc_store_ingest(spark, store, bdf, bucketed_probe=True, probe_buckets=8)
    n_store = read_snapshot(spark, store).count()
    # lose the mirror DATA but keep the state file; also drop the
    # catalog entry so the covering call takes the adoption path
    _, tbl, ddir = _mirror_names(store)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(f"{ddir}/data", ignore_errors=True)
    rep, _ = cdc_store_ingest(spark, store, idf, bucketed_probe=True, probe_buckets=8)
    # the clone doc (200) must still be ALL-known — an empty mirror
    # would have called its chunks novel
    clone = {r["doc_id"]: r for r in rep.collect()}[200]
    assert clone["n_known"] == clone["n_chunks"]
    # and the store must not have been double-committed with old hashes
    assert read_snapshot(spark, store).count() > n_store  # only the real novels
    got = {r["chunk_hash"] for r in read_snapshot(spark, store).select("chunk_hash").collect()}
    assert len(got) == read_snapshot(spark, store).count()  # no dup hashes


def test_cdc_bucketed_probe_plan_store_side_scan_local(spark, tmp_path):
    """The structural claim of the layout fix: the probe semi-join
    reads the mirror as a BUCKETED scan (Bucketed: true) with NO
    exchange between the store scan and the join — only the
    increment side is shuffled."""
    from ocr_application_spark.operators.cdc import (
        _bucketed_store_covering,
        _read_mirror_state,
        cdc_store_ingest,
    )

    bdf, idf = _ingest_fixture(spark)
    store = str(tmp_path / "s_plan")
    cdc_store_ingest(spark, store, bdf, bucketed_probe=True, probe_buckets=8)
    v = _read_mirror_state(store)["covers_version"]
    mirror = _bucketed_store_covering(spark, store, v, 8)
    keys = C.cdc_chunks(idf).select("chunk_hash").distinct()
    # force the merge path: at real scale neither side broadcasts
    probe = mirror.hint("merge").join(keys, "chunk_hash", "left_semi")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan
    # the store branch (FileScan ... store_b) must not sit under an
    # Exchange: exactly one Exchange in the whole probe (the keys side)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "store_b" in plan


def test_cdc_bucketed_mirror_in_session_data_loss_rebuilds(spark, tmp_path):
    """The row-count cross-check runs EVERY covering call, not only at
    adoption: a data dir deleted in-session (catalog entry intact,
    cached file listing stale) must rebuild, not crash or probe an
    empty mirror."""
    import shutil

    from ocr_application_spark.operators.cdc import (
        _mirror_names,
        cdc_store_ingest,
    )
    from ocr_application_spark.sources.snapshots import read_snapshot

    bdf, idf = _ingest_fixture(spark)
    store = str(tmp_path / "s_inlive")
    cdc_store_ingest(spark, store, bdf, bucketed_probe=True, probe_buckets=8)
    _, _, ddir = _mirror_names(store)
    shutil.rmtree(f"{ddir}/data", ignore_errors=True)  # NO table drop
    rep, _ = cdc_store_ingest(spark, store, idf, bucketed_probe=True, probe_buckets=8)
    clone = {r["doc_id"]: r for r in rep.collect()}[200]
    assert clone["n_known"] == clone["n_chunks"]
    hashes = read_snapshot(spark, store).select("chunk_hash")
    assert hashes.count() == hashes.distinct().count()  # no dup commits


def test_cdc_bucketed_mirror_double_append_cannot_mask_lost_file(spark, tmp_path):
    """A tolerated double-append leaves duplicate hash rows in the
    mirror, so its raw row count can still reach the stamp after a data
    file is lost. The integrity check counts DISTINCT hashes: with one
    mirror file duplicated and another deleted, the next bucketed ingest
    must rebuild, and its verdicts and store match the plain path."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    from ocr_application_spark.operators.cdc import _mirror_names, cdc_store_ingest
    from ocr_application_spark.sources.snapshots import read_snapshot

    bdf, _ = _ingest_fixture(spark)
    store, twin = str(tmp_path / "s_dupfile"), str(tmp_path / "s_dupfile_twin")
    cdc_store_ingest(spark, store, bdf, bucketed_probe=True, probe_buckets=8)
    cdc_store_ingest(spark, twin, bdf)
    _, _, ddir = _mirror_names(store)
    files = sorted(
        (pq.ParquetFile(f).metadata.num_rows, f)
        for f in glob.glob(f"{ddir}/data/*.parquet")
    )
    files = [(n, f) for n, f in files if n > 0]
    assert len(files) >= 2, files
    (_, smallest), (_, largest) = files[0], files[-1]
    # the double-append: a second copy of the largest bucket file (same
    # bucket id in its name, so the bucketed scan still reads it) ...
    d, name = os.path.split(largest)
    shutil.copy(largest, os.path.join(d, "dup-" + name))
    # ... outweighs the rows of the lost smallest one
    os.remove(smallest)
    # replay the base: every chunk is in the store, so a mirror missing
    # the lost file's hashes would report them novel and re-commit them
    rep_b, _ = cdc_store_ingest(spark, store, bdf, bucketed_probe=True, probe_buckets=8)
    rep_p, _ = cdc_store_ingest(spark, twin, bdf)
    assert sorted(tuple(r) for r in rep_b.collect()) == sorted(
        tuple(r) for r in rep_p.collect()
    )
    assert sorted(tuple(r) for r in read_snapshot(spark, store).collect()) == sorted(
        tuple(r) for r in read_snapshot(spark, twin).collect()
    )


def test_cdc_mirror_refuses_to_delete_unclaimed_dir(spark, tmp_path):
    """A rebuild must never rmtree a directory it cannot prove is its
    own mirror (no _STATE.json): fail loud instead of destroying a
    sibling store's or user's files."""
    import pytest as _pytest

    from ocr_application_spark.operators.cdc import _mirror_names, cdc_store_ingest

    bdf, idf = _ingest_fixture(spark)
    store = str(tmp_path / "s_occupied")
    _, _, ddir = _mirror_names(store)
    # occupy the mirror location with foreign data, no state stamp
    import os

    os.makedirs(f"{ddir}/data", exist_ok=True)
    with open(f"{ddir}/data/precious.txt", "w") as f:
        f.write("not yours")
    cdc_store_ingest(spark, store, bdf)  # plain bootstrap, no mirror
    with _pytest.raises(ValueError, match="occupied"):
        cdc_store_ingest(spark, store, idf, bucketed_probe=True, probe_buckets=8)
    with open(f"{ddir}/data/precious.txt") as f:
        assert f.read() == "not yours"  # nothing deleted


def test_cdc_mirror_path_normalization(spark):
    """'store' and 'store/' must name ONE mirror (two catalog tables
    over one shared location would race each other's rebuilds)."""
    from ocr_application_spark.operators.cdc import _mirror_names

    a, b = _mirror_names("/x/y/store"), _mirror_names("/x/y/store/")
    assert a == b


def test_cdc_bucketed_mirror_rebuilds_across_overwrite_commit(spark, tmp_path):
    """A mirror top-up appends the snapshot diff, which lists additions
    only. An overwrite_partitions commit between two bucketed covering
    calls removes store rows, so topping up would leave their hashes in
    the mirror and report re-ingested chunks of removed rows as known.
    The covering call must rebuild instead; verdicts match a plain twin
    with the same store history."""
    from ocr_application_spark.operators.cdc import (
        _bucketed_store_covering,
        _read_mirror_state,
        cdc_store_ingest,
    )
    from ocr_application_spark.sources.snapshots import commit, read_snapshot

    bdf, idf = _ingest_fixture(spark)
    seed = C.cdc_chunks(bdf).select("chunk_hash", "chunk_chars").distinct()
    # the chunk lengths of base doc 0, which increment doc 200 clones
    gone = sorted(
        r["chunk_chars"]
        for r in C.cdc_chunks(bdf.filter("doc_id = 0")).select("chunk_chars").distinct().collect()
    )
    filler = spark.createDataFrame([(1, gone[0])], "chunk_hash long, chunk_chars int")

    def history(store, mirrored):
        v1 = commit(seed, store, partition_by="chunk_chars")
        if mirrored:
            _bucketed_store_covering(spark, store, v1, 8)
        # drop every partition holding a chunk length of doc 0
        return commit(
            filler, store, mode="overwrite_partitions",
            partition_by="chunk_chars", replace_partitions=gone,
        )

    store, twin = str(tmp_path / "s_over"), str(tmp_path / "s_over_twin")
    history(store, True)
    v2 = history(twin, False)
    assert _read_mirror_state(store)["covers_version"] == v2 - 1
    mirror = _bucketed_store_covering(spark, store, v2, 8)
    want = {r[0] for r in read_snapshot(spark, store, version=v2).select("chunk_hash").collect()}
    assert {r[0] for r in mirror.distinct().collect()} == want
    rep_b, _ = cdc_store_ingest(spark, store, idf, bucketed_probe=True, probe_buckets=8)
    rep_p, _ = cdc_store_ingest(spark, twin, idf)
    assert sorted(tuple(r) for r in rep_b.collect()) == sorted(tuple(r) for r in rep_p.collect())
