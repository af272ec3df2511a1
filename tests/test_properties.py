"""Property tests for the pure extraction spec (SURVEY §5).

These pin the invariants that make parallel execution safe: total
determinism, partition-into-lines, tolerance bounds, and robustness to
arbitrary bytes (error envelopes, never crashes).
"""

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_application_spark.core.extraction_core import (
    LINE_TOL,
    extract_document,
    group_lines,
    span_passes_filters,
)
from ocr_application_spark.datagen.webgen import gen_page

spans_strategy = st.lists(
    st.builds(
        lambda page, x0, y0, w, h, text: {
            "page": page,
            "x0": float(x0),
            "y0": float(y0),
            "x1": float(x0 + w),
            "y1": float(y0 + h),
            "conf": 1.0,
            "text": text,
        },
        page=st.integers(0, 2),
        x0=st.integers(0, 900),
        y0=st.integers(0, 1200),
        w=st.integers(15, 120),
        h=st.integers(10, 30),
        text=st.text(
            alphabet=st.characters(min_codepoint=97, max_codepoint=122), min_size=2, max_size=8
        ),
    ),
    max_size=40,
)


@given(spans_strategy)
@settings(max_examples=60, deadline=None)
def test_group_lines_partitions_spans(spans):
    lines = group_lines(spans, 1000.0)
    flat = [id(s) for grp in lines for s in grp]
    assert sorted(flat) == sorted(id(s) for s in spans)  # exactly-one-line
    for grp in lines:
        pages = {int(s.get("page", 0)) for s in grp}
        assert len(pages) == 1  # never merge across pages
        xs = [s["x0"] for s in grp]
        assert xs == sorted(xs)  # left-to-right within a group


@given(spans_strategy)
@settings(max_examples=60, deadline=None)
def test_group_lines_gap_bound(spans):
    # consecutive members of one group are chained within tolerance in
    # center-y (gap-sessionization invariant, layout_detector config.py:22)
    lines = group_lines(spans, 1000.0)
    for grp in lines:
        cys = sorted((s["y0"] + s["y1"]) / 2.0 for s in grp)
        ref = cys[0]
        for cy in cys[1:]:
            assert cy - ref <= LINE_TOL + 1e-9


@given(st.binary(max_size=400), st.one_of(st.none(), st.text(max_size=200)))
@settings(max_examples=100, deadline=None)
def test_extract_document_total(raw, text):
    rec = extract_document(raw, text)
    assert isinstance(rec["extracted_text"], str)
    assert len(rec["digest"]) == 64
    assert rec["status"] in ("success", "error") or rec["status"].startswith("error")


@given(st.integers(0, 200000))
@settings(max_examples=40, deadline=None)
def test_gen_and_extract_deterministic(doc_id):
    p1, p2 = gen_page(doc_id), gen_page(doc_id)
    assert p1 == p2  # datagen is a pure function of doc_id
    r1 = extract_document(p1["html"], p1["text"])
    r2 = extract_document(p2["html"], p2["text"])
    assert r1["digest"] == r2["digest"]


@given(
    st.builds(
        lambda x0, y0, w, h, conf, text: {
            "x0": x0, "y0": y0, "x1": x0 + w, "y1": y0 + h, "conf": conf, "text": text,
        },
        x0=st.floats(0, 1000), y0=st.floats(0, 1000),
        w=st.floats(0, 200), h=st.floats(0, 200),
        conf=st.floats(0, 1), text=st.text(max_size=10),
    )
)
@settings(max_examples=100, deadline=None)
def test_span_filter_thresholds(s):
    keep = span_passes_filters(s)
    w, h = s["x1"] - s["x0"], s["y1"] - s["y0"]
    manual = (
        s["conf"] >= 0.7
        and len(s["text"].strip()) >= 2
        and not any("؀" <= c <= "ۿ" for c in s["text"])
        and w >= 15 and h >= 10 and w * h >= 150
    )
    assert keep == manual


def test_pdf_payload_fuzz_never_crashes():
    for raw in [b"%FPDF", b"%FPDF1\n", b"%FPDF1 nan\n{}", b"%FPDF1 100\n" + b"\xff" * 50,
                ("%FPDF1 100\n" + json.dumps({"x0": 1}) + "\n").encode()]:
        rec = extract_document(raw, None)
        assert rec["status"] == "success" or rec["status"].startswith("error")


# -- inlined hot-path driver == dispatch reference driver --------------------

_HTML_CHUNK = st.one_of(
    st.text(alphabet="ab <>&;/=\"'x1éأ\n\tp", max_size=12),
    st.sampled_from(
        [
            "<p>", "</p>", "<div>", "</div>", "<article>", "</article>",
            "<a href='/x'>", "</a>", "<nav>", "</nav>", "<script>", "</script>",
            "<script>var a='</p>';</script>", "<br/>", "<input/>", "<table>",
            "</table>", "<td>", "</td>", "<!-- c -->", "<![CDATA[z]]>",
            "&amp;", "&lt;p&gt;", "text 42", "<style>p{}</style>", "<SCRIPT>",
            "<p >", "</ p>", "<h2>", "</h2>", "<li>", "</li>", "<form>", "</form>",
            # truncated/pathological constructs (linear-time guard inputs)
            "<a ", "<!-- open", "<!doctype", "<?pi", "<![CDATA[x", "<p/ >",
            "<img src=/>", "</", "< p>", "<a href=a/b>", "<!-->", "<!--->",
        ]
    ),
)


@given(st.lists(_HTML_CHUNK, max_size=40).map("".join))
@settings(max_examples=300, deadline=None)
def test_run_matches_dispatch_reference(html):
    """The locals-inlined `run` must produce the exact same parser state
    as the readable `run_dispatch` spec on arbitrary tag soup."""
    from ocr_application_spark.core.extraction_core import _MainContentParser

    a, b = _MainContentParser(), _MainContentParser()
    a.run(html)
    b.run_dispatch(html)

    def state(p):
        return (
            p.kill_depth, p.link_depth, p.n_links, p.n_tables, p.n_inputs,
            p.order,
            [(c.order, c.blocks, c.text_chars, c.link_chars, c.p_count)
             for c in p.candidates],
            [c.order for c in p.cand_stack],
            p.block_stack,
        )

    assert state(a) == state(b)


def test_pathological_pages_parse_in_linear_time():
    """Poisoned-page guard: unclosed tags/comments must not trigger
    quadratic rescans (a single crawled page could stall an executor
    task otherwise). 240 KB of hostile input must parse in well under a
    second; before the possessive/consume-to-EOF tokenizer it took
    minutes."""
    import time

    for raw in [
        b"<a " * 80000,
        b"<!--x" + b"y<p>z" * 40000,
        b"<!doc " * 60000,
        b"</script" + b"<a " * 60000,
        b"<" * 200000,
    ]:
        t0 = time.perf_counter()
        rec = extract_document(raw, None)
        assert rec["status"] == "success"
        assert time.perf_counter() - t0 < 2.0  # generous VM-noise margin


# --- connected-components propagation vs union-find reference ---------------
def _uf_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in range(n_nodes)}


def _cc_cases():
    import random

    rng = random.Random(42)
    yield "path", 8, [(i, i + 1) for i in range(7)]  # worst-case diameter
    yield "star", 7, [(0, i) for i in range(1, 7)]
    yield "two_components_plus_singletons", 9, [(0, 1), (1, 2), (4, 5)]
    yield "random_seeded", 10, sorted(
        {tuple(sorted(rng.sample(range(10), 2))) for _ in range(12)}
    )
    yield "empty", 4, []


def test_propagate_components_matches_union_find(spark):
    """BOTH component engines (min-label propagation and large-star/
    small-star contraction) == union-find on representative graphs:
    worst-case-diameter path, star, disconnected pieces + singletons, a
    seeded random graph, and the empty graph. (Deterministic cases, not
    hypothesis: every superstep is real Spark jobs, so example count x
    diameter is wall-clock; these five pin the same failure modes.)"""
    from ocr_application_spark.operators.dedup import (
        propagate_components,
        propagate_components_star,
    )

    for name, n_nodes, es in _cc_cases():
        expected = _uf_components(n_nodes, es)
        nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id long")
        pairs = spark.createDataFrame(es, "doc_a long, doc_b long")
        for engine in (propagate_components, propagate_components_star):
            got = {r.doc_id: r.rep for r in engine(pairs, nodes).collect()}
            assert got == expected, f"{engine.__name__}: {name}"


def test_adversarial_chain_falls_back_to_star(spark, monkeypatch):
    """The poisoned-crawl case: a pair graph chained into a path far
    longer than the propagation superstep cap. Propagation must never
    return partial labels: it falls back to star contraction, warns,
    and returns the exact components. (Cap monkeypatched down so the
    test doesn't burn 50 real supersteps; the fallback logic is
    identical at any cap.)"""
    import warnings

    import ocr_application_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "_CC_MAX_ITERS", 5)
    n = 30  # path diameter 29 >> cap 5
    es = [(i, i + 1) for i in range(n - 1)]
    expected = _uf_components(n, es)  # everything -> rep 0
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(es, "doc_a long, doc_b long")

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {r.doc_id: r.rep for r in dd.propagate_components(pairs, nodes).collect()}
    assert got == expected
    assert any(
        issubclass(w.category, RuntimeWarning) and "star contraction" in str(w.message)
        for w in caught
    )


def test_text_rewriting_ops_match_python_twins(spark, tmpdir_scratch):
    """Seeded-random fuzz for the two line-rewriting operators: the
    Spark output (counts + rebuilt-text sha256) must equal a pure-Python
    twin on arbitrary text — unicode, control chars, quote/punct edge
    cases, empty/whitespace lines, long runs. One Spark round trip for
    the whole corpus (per-example round trips would be minutes)."""
    import hashlib
    import random
    import re

    import pandas as pd

    from ocr_application_spark.operators.curation import (
        dedup_consecutive_lines,
        text_c4_line_filter,
    )

    rng = random.Random(1234)
    alphabet = (
        "abcdefgh .!?\"{}éü　 #\t'"
        "javascript cookie lorem ipsum"
    )
    words = ["".join(rng.choice(alphabet) for _ in range(rng.randint(1, 8)))
             for _ in range(60)]
    docs = []
    for i in range(300):
        n_lines = rng.randint(0, 12)
        lines = []
        for _ in range(n_lines):
            ws = [rng.choice(words) for _ in range(rng.randint(0, 9))]
            line = " ".join(ws)
            if rng.random() < 0.4:
                line += rng.choice(".!?\"")
            if rng.random() < 0.25 and lines:
                line = lines[-1]  # consecutive duplicate runs
            lines.append(line)
        docs.append((i, "\n".join(lines)))
    pdf = pd.DataFrame(
        [(i, t, "en", "s", 0) for i, t in docs],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    pdf.to_parquet(f"{tmpdir_scratch}/documents.parquet")

    def sha(s):
        return hashlib.sha256(s.encode()).hexdigest()

    def c4_line_ok(line):
        low = line.lower()
        return (
            re.search(r'[.!?"]\Z', line) is not None
            and len([w for w in line.split(" ") if w]) >= 5
            and "lorem ipsum" not in low
            and "javascript" not in low
            and "{" not in low
            and "cookie" not in low
        )

    got_c4 = {r["doc_id"]: r for r in
              text_c4_line_filter(spark, tmpdir_scratch).collect()}
    got_ld = {r["doc_id"]: r for r in
              dedup_consecutive_lines(spark, tmpdir_scratch).collect()}
    for i, t in docs:
        ls = t.split("\n")
        kept = [l for l in ls if c4_line_ok(l)]
        r = got_c4[i]
        assert (r["n_lines"], r["n_kept"]) == (len(ls), len(kept)), i
        assert r["digest"] == sha("\n".join(kept)), i
        collapsed = [l for j, l in enumerate(ls) if j == 0 or l != ls[j - 1]]
        r = got_ld[i]
        assert (r["n_lines"], r["n_kept"]) == (len(ls), len(collapsed)), i
        assert r["digest"] == sha("\n".join(collapsed)), i


def test_bpe_train_matches_python_reference(spark):
    """Distributed BPE (operators/bpe.py) must learn the EXACT merge
    sequence a pure-Python reference BPE (Sennrich-style: pair counts
    over the word histogram, greedy left-to-right apply, deterministic
    (count desc, pair asc) tie-break) learns on the same corpus, and
    leave every word tokenized identically."""
    from collections import Counter

    from ocr_application_spark.operators.bpe import _END, bpe_train

    docs_rows = [
        (0, "low lower lowest low low slow slower", "en", "s", 0),
        (1, "new newer newest new news knew", "en", "s", 0),
        (2, "low new low new slow knew lowest", "en", "s", 0),
        (3, "", "en", "s", 0),
        (4, "a aa aaa aaaa", "en", "s", 0),  # overlapping-pair edge
    ]
    docs = spark.createDataFrame(
        docs_rows, "doc_id long, text string, lang string, source string, n_chars long"
    )

    # --- pure-Python reference ------------------------------------
    hist = Counter()
    for _, text, *_ in docs_rows:
        for w in text.split(" "):
            if w:
                hist[w] += 1
    syms = {w: list(w) + [_END] for w in hist}

    def ref_round():
        pairs = Counter()
        for w, n in hist.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += n
        if not pairs:
            return None
        # (count desc, left asc, right asc)
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (a, b), c = best
        for w in syms:
            s, out = syms[w], []
            for tok in s:
                if out and out[-1] == a and tok == b:
                    out[-1] = a + b
                else:
                    out.append(tok)
            syms[w] = out
        return {"left": a, "right": b, "merged": a + b, "pair_count": c}

    n_merges = 8
    expected = []
    for _ in range(n_merges):
        m = ref_round()
        if m is None:
            break
        expected.append(m)

    got_merges, got_hist = bpe_train(docs, n_merges=n_merges)
    assert [
        {k: m[k] for k in ("left", "right", "merged", "pair_count")}
        for m in got_merges
    ] == expected
    got_syms = {r["word"]: list(r["syms"]) for r in got_hist.collect()}
    assert got_syms == syms


def test_bpe_apply_roundtrips_training_tokenization(spark):
    """bpe_apply (rank-priority merge loop, broadcast table, per-batch
    word cache) must tokenize every document EXACTLY as training's
    final word histogram does — i.e. applying the learned merge table
    reproduces the tokenization training left behind."""
    from ocr_application_spark.operators.bpe import bpe_apply, bpe_train

    rows = [
        (0, "low lower lowest low low slow slower", "en", "s", 0),
        (1, "new newer newest new news knew", "en", "s", 0),
        (2, "low new low new slow knew lowest", "en", "s", 0),
        (3, "", "en", "s", 0),
        (4, "a aa aaa aaaa", "en", "s", 0),
        (5, "multi  space   runs", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    merges, hist = bpe_train(docs, n_merges=8)
    word_toks = {r["word"]: list(r["syms"]) for r in hist.collect()}
    got = {r["doc_id"]: list(r["tokens"]) for r in bpe_apply(docs, merges).collect()}
    for doc_id, text, *_ in rows:
        expect = []
        for w in text.split(" "):
            if w:
                expect.extend(word_toks[w])
        assert got[doc_id] == expect, doc_id


def test_minhash_band_dial_recall_monotone(spark):
    """The MinHash band dial: narrower bands (smaller rows_per_band)
    must recall (weakly) more of the exact-Jaccard near-dup pairs —
    the LSH s-curve P(candidate) = 1-(1-s^rows)^bands is monotone in
    bands — and rows_per_band=2 must generate exactly the production
    banding's candidate set (pinned against the oracle-checked
    dedup_minhash_lsh operator). Numbers feed PERF.md's
    minhash recall curve."""
    import __spark_entry__ as entrymod
    from ocr_application_spark.operators.dedup import minhash_candidate_pairs

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    truth = {
        (r.doc_a, r.doc_b)
        for r in entrymod.queries()["dedup_ngram_jaccard"](spark, sf).collect()
    }
    assert truth  # fixture has near-dup pairs at jaccard >= 0.2

    recalls = {}
    cands = {}
    for rows in (1, 2, 4, 8):
        got = {
            (r.doc_a, r.doc_b)
            for r in minhash_candidate_pairs(docs, rows_per_band=rows).collect()
        }
        cands[rows] = got
        recalls[rows] = len(got & truth) / len(truth)
    # monotone: more/narrower bands never recall less
    keys = sorted(recalls)
    assert all(
        recalls[a] >= recalls[b] - 1e-9 for a, b in zip(keys, keys[1:])
    ), recalls
    assert recalls[1] > recalls[8], recalls  # the dial actually moves

    # rows_per_band=2 == the production banding, pinned against the
    # oracle-checked OPERATOR itself (not a re-implementation of its join)
    prod = {
        (r.doc_a, r.doc_b)
        for r in entrymod.queries()["dedup_minhash_lsh"](spark, sf).collect()
    }
    assert cands[2] == prod
