"""Behavior tests for operators/cdc.py (content-defined chunking).

The property that justifies CDC over fixed-size blocking — boundaries
depend only on local content, so edits re-chunk only the region they
touch — is pinned directly: a head insertion must leave the tail
chunk-hash multiset intact.
"""

import contextlib
import glob
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


def _ingest_fixture(spark):
    base = [(i, f"base doc {i} " + "common template tail " * 5) for i in range(12)]
    inc = [(100 + i, f"inc doc {i} " + "common template tail " * 5) for i in range(6)]
    inc += [(200, base[0][1])]  # full clone of a base doc -> all known
    return (
        spark.createDataFrame(base, "doc_id long, text string"),
        spark.createDataFrame(inc, "doc_id long, text string"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cdc_store_ingest_after_overwrite_commit(spark, tmp_path):
    """A non-append commit removes store rows: after an
    overwrite_partitions that drops every chunk length of base doc 0,
    the ingest must probe the store as that snapshot lists it. The
    increment's holders of the removed chunks come out 'novel' and are
    re-committed, and the report equals that of a fresh store seeded
    with the post-overwrite contents."""
    from ocr_application_spark.operators.cdc import cdc_store_ingest
    from ocr_application_spark.sources.snapshots import (
        commit,
        read_snapshot,
        read_snapshot_diff,
    )

    bdf, idf = _ingest_fixture(spark)
    seed = C.cdc_chunks(bdf).select("chunk_hash", "chunk_chars").distinct()
    # the chunk lengths of base doc 0, which increment doc 200 clones
    gone = sorted(
        r["chunk_chars"]
        for r in C.cdc_chunks(bdf.filter("doc_id = 0")).select("chunk_chars").distinct().collect()
    )
    filler = spark.createDataFrame([(1, gone[0])], "chunk_hash long, chunk_chars int")
    store, twin = str(tmp_path / "s_over"), str(tmp_path / "s_over_twin")
    commit(seed, store, partition_by="chunk_chars")
    v2 = commit(
        filler, store, mode="overwrite_partitions",
        partition_by="chunk_chars", replace_partitions=gone,
    )
    post = read_snapshot(spark, store, version=v2).select("chunk_hash", "chunk_chars")
    commit(post, twin)

    def hashes(df):
        return {r[0] for r in df.select("chunk_hash").collect()}

    removed = (hashes(seed) - hashes(post)) & hashes(C.cdc_chunks(idf))
    assert removed  # the increment holds chunks the overwrite took away
    rep, v3 = cdc_store_ingest(spark, store, idf)
    rep_twin, _ = cdc_store_ingest(spark, twin, idf)
    assert _rows(rep) == _rows(rep_twin)
    clone = {r["doc_id"]: r for r in rep.collect()}[200]
    assert clone["n_known"] == 0  # every chunk of doc 0 was removed
    assert removed <= hashes(read_snapshot_diff(spark, store, v2, v3))


def test_cdc_store_ingest_holds_one_cached_copy_across_calls(spark, tmp_path):
    """State that outlives one call: three ingests in one session
    (bootstrap, recrawl, replay) must not pile up persisted RDDs. The
    per-chunk verdicts sit in one bounded_cache slot that the next call
    frees, so after the first call the persisted-RDD count stays flat."""
    from ocr_application_spark.operators.cdc import cdc_store_ingest

    bdf, idf = _ingest_fixture(spark)
    store = str(tmp_path / "s_slot")
    jsc = spark.sparkContext._jsc
    reports, persisted = [], []
    for df in (bdf, idf, idf):
        rep, _ = cdc_store_ingest(spark, store, df)
        reports.append(_rows(rep))
        persisted.append(jsc.getPersistentRDDs().size())
    assert persisted[1:] == [persisted[0]] * 2, persisted
    assert reports[1] != reports[2]
    assert sum(r[5] for r in reports[2]) == 0  # the replay's n_novel


def _ingest_model(store, docs):
    """Pure-Python ``cdc_store_ingest`` on ``_ref_cdc`` chunks: the
    owner of a hash is its min (doc_id, chunk_no) holder, store hits
    are 'known'. Returns (sorted report rows, store hash set after the
    commit)."""
    rows = [(d, *c) for d, t in docs for c in _ref_cdc(t)]
    owner = {}
    for d, no, _chars, h in rows:
        owner[h] = min(owner.get(h, (d, no)), (d, no))
    per_doc, novel = {}, set()
    for d, no, chars, h in rows:
        v = "known" if h in store else "novel" if (d, no) == owner[h] else "dup"
        a = per_doc.setdefault(d, [0, 0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += chars
        a[2] += v == "known"
        a[3] += v == "dup"
        a[4] += v == "novel"
        a[5] += chars if v == "novel" else 0
        if v == "novel":
            novel.add(h)
    report = sorted(
        (d, *a, 10000 * (a[1] - a[5]) // a[1]) for d, a in per_doc.items()
    )
    return report, store | novel


_WORDS = ["alpha ", "beta ", "gamma ", "délta ", "漢字 ", "😀 ", "template tail ", "x"]
_doc_text = st.lists(st.sampled_from(_WORDS), min_size=0, max_size=60).map("".join)


@given(
    base=st.lists(_doc_text, min_size=1, max_size=5),
    new=st.lists(st.one_of(st.none(), _doc_text), max_size=3),
    pick=st.integers(0, 4),
    at=st.integers(0, 10_000),
    tie=st.booleans(),
)
@example(
    base=["alpha beta gamma délta " * 8, "template tail " * 12],
    new=[None, ""], pick=0, at=37, tie=True,
)
@settings(max_examples=6, deadline=None)
def test_cdc_store_ingest_matches_python_model(spark, tmp_path_factory, base, new, pick, at, tie):
    """A bootstrap and an increment into a fresh store against
    ``_ingest_model``. The increment repeats a doc's text twice in one
    doc, clones a doc under two new ids, changes one char of a stored
    doc, carries NULL and empty text, and (``tie``) sends the edited
    doc twice under one doc_id below every other holder, so the owner
    rows tie on (doc_id, chunk_no) and both count as 'novel'."""
    from ocr_application_spark.operators.cdc import cdc_store_ingest
    from ocr_application_spark.sources.snapshots import read_snapshot

    src = base[pick % len(base)]
    edited = src[:at % (len(src) + 1)] + "Q" + src[at % (len(src) + 1) + 1 :]
    inc = [(100, src + src), (101, src), (102, src), (103, edited), (104, None), (105, "")]
    inc += [(110 + i, t) for i, t in enumerate(new)]
    if tie:  # doc 99 owns the edit's chunks, in two tied rows each
        inc += [(99, edited), (99, edited)]
    docs = list(enumerate(base))
    store_path = str(tmp_path_factory.mktemp("cdc_model") / "store")
    store = set()
    for batch in (docs, inc):
        df = spark.createDataFrame(batch, "doc_id long, text string")
        rep, _ = cdc_store_ingest(spark, store_path, df)
        want, store = _ingest_model(store, batch)
        assert _rows(rep) == want
        got = {r[0] for r in read_snapshot(spark, store_path).select("chunk_hash").collect()}
        assert got == store


def test_cdc_store_report_survives_cache_loss(spark, tmp_path):
    """State that outlives one call: the report of a recrawl ingest
    reads the cached verdicts, and once that cache is gone (its slot
    released, or freed by the next ingest into another store) it
    recomputes from the docs and the pinned pre-commit snapshot. The
    rows stay the same and the ingest's own novel chunks never flip to
    'known', although the commit has put them in the store."""
    from ocr_application_spark.operators.cdc import cdc_store_ingest
    from ocr_application_spark.session import release_slot

    bdf, idf = _ingest_fixture(spark)
    store = str(tmp_path / "s_loss")
    cdc_store_ingest(spark, store, bdf)[0].collect()
    rep, _ = cdc_store_ingest(spark, store, idf)
    want = _rows(rep)
    assert sum(r[5] for r in want) > 0  # the increment has novel chunks
    release_slot("cdc_store_ingest")
    assert _rows(rep) == want
    assert _rows(rep.select("*")) == want  # a fresh plan: no cache to find
    cdc_store_ingest(spark, str(tmp_path / "s_other"), bdf)
    assert _rows(rep) == want
    assert _rows(rep.select("*")) == want


def _exec_nodes(plan):
    """Class names of an executed plan's nodes, through AQE wrappers and
    query stages; a cached relation's own plan is not descended into."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [plan.plan()]
    else:
        ch = plan.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    return [name] + [n for k in kids for n in _exec_nodes(k)]


def test_cdc_store_report_reads_only_cached_verdicts(spark, tmp_path):
    """Verdicts once per call: after the ingest returns, its report is
    an aggregate over the cached verdicts. Its executed plan scans the
    cache and no parquet file: not the docs, not the store. The commit
    reads the same cache, whose partitions AQE may still coalesce: a
    small commit writes one file, not one per shuffle partition."""
    from ocr_application_spark.operators.cdc import cdc_store_ingest

    bdf, idf = _ingest_fixture(spark)
    store = str(tmp_path / "s_once")
    cdc_store_ingest(spark, store, bdf)
    for docs in (idf, idf):  # a recrawl, then a replay
        rep, _ = cdc_store_ingest(spark, store, docs)
        rep.collect()
        nodes = _exec_nodes(rep._jdf.queryExecution().executedPlan())
        assert "InMemoryTableScanExec" in nodes, nodes
        assert "FileSourceScanExec" not in nodes, nodes
    commits = glob.glob(f"{store}/data/c*")
    assert len(commits) == 3
    assert all(len(glob.glob(f"{c}/*.parquet")) == 1 for c in commits), commits
