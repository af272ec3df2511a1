"""Static guards over every module of the package.

No per-position ``substring`` inside a ``sequence`` lambda:
``substring(t, p, k)`` on a Spark string walks UTF-8 code points from
the start of ``t``, so calling it once per position of a
``transform(sequence(1, n), p -> ...)`` costs O(n) per call and O(n^2)
per document. Per-position readers split the text into code points once
(``dedup._with_code_points``) and index the array. The scan covers both
SQL text in string literals and the Python column API, so the quadratic
pattern cannot come back.

One query registry: only ``operators/registry.py`` holds ``QUERIES``
and ``ORACLES``; operator modules register through its ``op`` and
define no ``_q`` decorator of their own.

Dial-free recrawl ingest: the five ingest entry points share one
signature, ``(spark, path, frame, *, op_label)``, the streaming
front-end forwards nothing else, and component propagation has no
switch.

One verdict pass per chunk-store ingest: ``cdc_store_ingest`` chunks
its docs once and caches the verdicts once.

One verdict rule for the near-dup ingests: the minhash, winnow and
embedding ingests delegate index pinning, caching and the commit to
``dedup._retained_index_ingest``; and every snapshot read is planned
from the manifest schema (``spark.read.schema(...)``), never inferred.

The ANN-PQ, streaming and curation entry points take no dials either,
and each repeated step of those families exists once: the ANN training
sample, the ADC lookup table, the exact re-rank and the exactly-once
streaming sink.

Each repeated step of the source layer exists once too: the WARC
framing walk, the segment-parse batch loop and the binary packer of
``sources/warc.py``; the empty-snapshot frame and the copy-on-write file
set of ``sources/snapshots.py``.

The tree under test is the tree that gets tested: no package, job,
script or test file holds an absolute path into a checkout, so a copy of
the tree packages, submits and stages its data in itself.
"""

import ast
import importlib
import inspect
import pathlib
import re

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "ocr_application_spark"
_SUBSTR = {"substring", "substr"}
_LAMBDA_HOFS = {"transform", "filter", "exists", "forall", "aggregate"}


def _close(s, i):
    """Index of the parenthesis closing the one at ``s[i]`` (or len(s)
    when the literal ends first: SQL is often built from fragments)."""
    depth = 0
    for j in range(i, len(s)):
        if s[j] == "(":
            depth += 1
        elif s[j] == ")":
            depth -= 1
            if depth == 0:
                return j
    return len(s)


def _top_args(s):
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
            continue
        depth += ch == "("
        depth -= ch == ")"
        cur.append(ch)
    return out + ["".join(cur)]


def sql_offenders(text):
    """``substring(<text>, <lambda var>, ...)`` calls inside the body of
    a lambda whose array argument is ``sequence(...)``, in SQL text."""
    hits = []
    for m in re.finditer(r"\bsequence\s*\(", text):
        end = _close(text, m.end() - 1)
        lam = re.match(r"\s*,\s*\(?\s*(\w+)(?:\s*,\s*\w+)*\s*\)?\s*->", text[end + 1 :])
        if not lam:
            continue
        var = re.compile(rf"\b{lam.group(1)}\b")
        start = end + 1 + lam.end()
        depth, stop = 0, len(text)
        for j in range(start, len(text)):
            depth += text[j] == "("
            depth -= text[j] == ")"
            if depth < 0:
                stop = j
                break
        body = text[start:stop]
        for sm in re.finditer(r"\b(?:substring|substr)\s*\(", body):
            args = _top_args(body[sm.end() : _close(body, sm.end() - 1)])
            if len(args) >= 2 and var.search(args[1]) and not var.search(args[0]):
                hits.append(body[sm.start() : _close(body, sm.end() - 1) + 1])
    return hits


def _name(func):
    return func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)


def _literal_text(node):
    """Text of a string literal; f-string fields read as ``X``."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "X" for v in node.values
        )
    return None


def api_offenders(tree):
    """``F.substring(col, <lambda var>, ...)`` inside a Python lambda
    passed to a higher-order function over ``F.sequence(...)``."""
    hits = []
    for call in ast.walk(tree):
        if not (
            isinstance(call, ast.Call)
            and _name(call.func) in _LAMBDA_HOFS
            and call.args
            and isinstance(call.args[0], ast.Call)
            and _name(call.args[0].func) == "sequence"
        ):
            continue
        for lam in (a for a in call.args[1:] if isinstance(a, ast.Lambda)):
            params = {a.arg for a in lam.args.args}
            for sub in ast.walk(lam.body):
                if not (isinstance(sub, ast.Call) and _name(sub.func) in _SUBSTR):
                    continue
                if len(sub.args) < 2:
                    continue
                used = [
                    {n.id for n in ast.walk(a) if isinstance(n, ast.Name)} & params
                    for a in sub.args[:2]
                ]
                if used[1] and not used[0]:
                    hits.append(ast.unparse(sub))
    return hits


def _scan(source):
    tree = ast.parse(source)
    hits = api_offenders(tree)
    for node in ast.walk(tree):
        text = _literal_text(node)
        if text:
            hits += sql_offenders(text)
    return hits


def test_detector_flags_the_quadratic_gram_reader():
    """The guard must recognize the pattern it exists to forbid."""
    sql = (
        'x = (f"transform(filter(sequence(1, length(t) - {k} + 1), p -> "\n'
        '     f"cast(conv(substring(md5(substring(t, p, {k})), 1, 10), 16, 10) '
        'as bigint) % 32 = 0), e -> e + 7)")\n'
    )
    assert _scan(sql) == ["substring(t, p, X)"]
    api = "y = F.transform(F.sequence(F.lit(1), n), lambda i: F.md5(F.substring(t, i, 8)))\n"
    assert _scan(api) == ["F.substring(t, i, 8)"]
    # per-window md5 slices and the code-point reader are fine
    ok = (
        'z = "transform(sequence(0, n - 1), k -> substring(md5(array_join('
        "slice(tk, k * 4 + 1, 8), ' ')), 1, 16))\"\n"
        'w = "transform(sequence(1, size(cs) - 7), p -> md5(concat(cs[p - 1], cs[p])))"\n'
    )
    assert _scan(ok) == []


def test_no_per_position_substring_in_sequence_lambdas():
    files = sorted(PKG.rglob("*.py"))
    assert len(files) > 20
    hits = {
        str(f.relative_to(PKG)): h
        for f in files
        if (h := _scan(f.read_text(encoding="utf-8")))
    }
    assert hits == {}, hits


_REGISTRY_NAMES = {"QUERIES", "ORACLES"}


def registry_offenders(tree):
    """Module-level assignments to ``QUERIES``/``ORACLES`` (plain,
    annotated, augmented or by key) and any ``_q`` definition."""
    hits = [
        f"def _q (line {n.lineno})"
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and n.name == "_q"
    ]
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            targets = [node.target]
        else:
            continue
        for t in targets:
            base = t.value if isinstance(t, ast.Subscript) else t
            if isinstance(base, ast.Name) and base.id in _REGISTRY_NAMES:
                hits.append(f"{ast.unparse(t)} = ... (line {node.lineno})")
    return hits


def test_detector_flags_module_local_registries():
    bad = (
        "QUERIES: dict = {}\nORACLES = {}\nQUERIES['a'] = f\n"
        "def _q(name, oracle=None):\n    pass\n"
    )
    assert len(registry_offenders(ast.parse(bad))) == 4
    ok = (
        "from ocr_application_spark.operators.registry import op\n"
        "op('a', 'select 1')(f)\n_BM25_QUERIES = ()\n"
        "def g():\n    QUERIES = {}\n"
    )
    assert registry_offenders(ast.parse(ok)) == []


def test_only_the_registry_holds_queries_and_oracles():
    hits = {
        str(f.relative_to(PKG)): h
        for f in sorted(PKG.rglob("*.py"))
        if f != PKG / "operators" / "registry.py"
        and (h := registry_offenders(ast.parse(f.read_text(encoding="utf-8"))))
    }
    assert hits == {}, hits


def _shape(fn):
    """Parameter names of ``fn`` as written, with ``*`` before the
    keyword-only ones."""
    out, star = [], False
    for p in inspect.signature(fn).parameters.values():
        if p.kind == p.KEYWORD_ONLY and not star:
            out.append("*")
            star = True
        out.append({p.VAR_POSITIONAL: "*", p.VAR_KEYWORD: "**"}.get(p.kind, "") + p.name)
    return ", ".join(out)


_INGEST = "spark, index_path, docs, *, op_label"


@pytest.mark.parametrize(
    "mod, name, shape",
    [
        ("operators.dedup", "fingerprint_index_ingest", _INGEST),
        ("operators.dedup", "minhash_index_ingest", _INGEST),
        ("operators.dedup", "winnow_index_ingest", _INGEST),
        (
            "operators.similarity",
            "embedding_index_ingest",
            _INGEST.replace("docs", "vectors"),
        ),
        ("operators.cdc", "cdc_store_ingest", _INGEST.replace("index", "store")),
        (
            "streaming.stream",
            "run_stream_ingest",
            "spark, input_path, index_path, out_path, checkpoint, max_files, family",
        ),
        ("operators.dedup", "propagate_components", "pairs, nodes"),
        ("operators.similarity", "quantized_topk", "cand"),
        ("operators.ann_ivf", "train_codebook", "spark, sf_dir"),
        ("operators.ann_pq", "train_pq_codebooks", "spark, sf_dir"),
        ("operators.ann_pq", "pq_shortlist", "spark, sf_dir, shortlist"),
        ("operators.ann_pq", "pq_topk", "spark, sf_dir, shortlist"),
        ("operators.ann_pq", "build_ivfpq_index", "spark, sf_dir, path"),
        (
            "operators.ann_pq",
            "ivfpq_topk",
            "spark, sf_dir, path, cent, books, nprobe, shortlist",
        ),
        (
            "streaming.stream",
            "run_stream_to_table",
            "spark, input_path, out_path, checkpoint",
        ),
        ("streaming.stream", "stream_metrics", "extracted"),
        ("streaming.stream", "stream_dedup_urls", "pages"),
        ("operators.curation", "word_blocklist_gate", "docs"),
        ("operators.curation", "dsir_weights", "docs, target_pred"),
        ("operators.curation", "window_chunks", "df"),
    ],
)
def test_recrawl_entry_points_take_no_dials(mod, name, shape):
    fn = getattr(importlib.import_module(f"ocr_application_spark.{mod}"), name)
    assert _shape(fn) == shape


def test_cdc_store_ingest_chunks_and_caches_once():
    """One verdict pass per ingest: the body chunks the docs in one
    ``cdc_chunks`` call and caches the verdicts in one ``bounded_cache``
    slot, which both the store commit and the report read. A second
    call of either would add a second pass over the increment."""
    from ocr_application_spark.operators.cdc import cdc_store_ingest

    tree = ast.parse(inspect.getsource(cdc_store_ingest))
    calls = [
        n.func.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    ]
    assert calls.count("cdc_chunks") == 1, calls
    assert calls.count("bounded_cache") == 1, calls


@pytest.mark.parametrize(
    "mod, name",
    [
        ("operators.dedup", "minhash_index_ingest"),
        ("operators.dedup", "winnow_index_ingest"),
        ("operators.similarity", "embedding_index_ingest"),
    ],
)
def test_near_dup_ingests_share_one_ingest_body(mod, name):
    """The pre-commit pin, the caches and the commit of the near-dup
    ingests live once, in ``dedup._retained_index_ingest``; a family
    body calling any of them would be a second copy of the rule."""
    fn = getattr(importlib.import_module(f"ocr_application_spark.{mod}"), name)
    called = {
        n.func.id if isinstance(n.func, ast.Name) else getattr(n.func, "attr", None)
        for n in ast.walk(ast.parse(inspect.getsource(fn)))
        if isinstance(n, ast.Call)
    }
    shared = {"snapshot_versions", "read_snapshot", "commit", "bounded_cache"}
    assert called & shared == set(), called & shared
    assert "_retained_index_ingest" in called


def test_snapshot_reads_are_planned_from_the_manifest_schema():
    """Every ``spark.read`` in ``sources/snapshots.py`` is followed by
    ``.schema(...)``: an inferred schema costs one Spark job per commit
    directory on every read."""
    tree = ast.parse((PKG / "sources" / "snapshots.py").read_text(encoding="utf-8"))
    reads = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute)
        and n.attr == "read"
        and isinstance(n.value, ast.Name)
        and n.value.id == "spark"
    ]
    followed = {
        id(n.value): n.attr
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute)
    }
    assert reads
    assert [followed.get(id(r)) for r in reads] == ["schema"] * len(reads)


def _calls(tree: ast.AST, name: str) -> int:
    """Calls of ``name`` in ``tree``, bare (``f()``) or as an attribute
    (``x.f()``)."""
    return sum(
        isinstance(n, ast.Call)
        and name in (getattr(n.func, "id", None), getattr(n.func, "attr", None))
        for n in ast.walk(tree)
    )


def _module(rel: str) -> ast.Module:
    return ast.parse((PKG / rel).read_text(encoding="utf-8"))


def _defs(tree: ast.AST, *names: str) -> list[ast.FunctionDef]:
    return [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name in names]


def test_ann_pq_builds_one_lut_and_one_exact_rerank():
    """The ADC lookup table and the exact-cosine re-rank of the PQ
    family exist once each (``_adc_udfs`` and ``_rerank``), shared by
    the standalone and the IVF-PQ top-k."""
    tree = _module("operators/ann_pq.py")
    assert _calls(tree, "einsum") == 1
    assert len(_defs(tree, "exact_cos")) == 1


def test_ann_trainers_share_one_training_sample():
    """Both ANN codebooks collect their sample through
    ``ann_ivf._training_sample``: one ``collect`` between the trainers."""
    ivf, pq = _module("operators/ann_ivf.py"), _module("operators/ann_pq.py")
    (sample,) = _defs(ivf, "_training_sample")
    assert _calls(sample, "collect") == 1
    trainers = _defs(ivf, "train_codebook") + _defs(pq, "train_pq_codebooks")
    assert len(trainers) == 2
    assert [(_calls(t, "_training_sample"), _calls(t, "collect")) for t in trainers] == [
        (1, 0),
        (1, 0),
    ]


def test_streaming_has_one_exactly_once_sink():
    """Every streaming job starts its query through
    ``stream._start_exactly_once``: one ``writeStream`` and one epoch-0
    ``rmtree`` in the module."""
    tree = _module("streaming/stream.py")
    write_streams = sum(
        isinstance(n, ast.Attribute) and n.attr == "writeStream" for n in ast.walk(tree)
    )
    assert write_streams == 1
    assert _calls(tree, "rmtree") == 1


def test_warc_source_has_one_framing_walk_one_kernel_and_one_packer():
    """``_warc_blocks`` is the only WARC header search, ``_parse_kernel``
    the only loop over segment payloads, ``pack_record_segments`` the
    only hex join."""
    tree = _module("sources/warc.py")
    header_finds = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and _name(n.func) == "find"
        and getattr(n.func.value, "id", None) == "payload"
        and n.args
        and getattr(n.args[0], "id", None) == "_HDR_END"
    ]
    assert len(header_finds) == 1
    assert _calls(tree, "unhex") == 1
    payload_reads = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Subscript)
        and getattr(n.value, "id", None) == "pdf"
        and getattr(n.slice, "value", None) == "payload"
    ]
    assert len(payload_reads) == 1


def test_snapshots_have_one_empty_frame_and_one_rewrite_set():
    """The empty-snapshot frame is built in ``_read_files`` only, and the
    affected-file semi-join of merge and delete lives in
    ``_rewrite_set`` only."""
    tree = _module("sources/snapshots.py")
    assert _calls(tree, "input_file_name") == 1
    assert _calls(tree, "createDataFrame") == 1


def _checkout_paths(text: str, root: pathlib.Path) -> list[str]:
    """Quoted absolute paths into ``root``: the root itself, or any path
    with a component named like the checkout directory (so a copy of the
    tree still flags paths into the checkout it was copied from)."""
    name = re.escape(root.name)
    pat = rf"""["'](?:{re.escape(str(root))}|/(?:[^"'/\s]+/)*{name})(?:/[^"'\s]*)?["']"""
    return re.findall(pat, text)


def test_detector_flags_absolute_checkout_paths():
    root = pathlib.Path("/srv/work/tree")
    flagged = 'cwd="/srv/work/tree"\nx = "/home/u/tree/.scratch"\n'
    clean = 'x = Path(__file__).parents[1] / "tree"\nd = "/data/trees/sf0.001"\n'
    assert len(_checkout_paths(flagged, root)) == 2
    assert _checkout_paths(clean, root) == []


def test_no_absolute_checkout_paths():
    files = [
        f
        for d in ("ocr_application_spark", "jobs", "scripts", "tests")
        for f in sorted((ROOT / d).rglob("*"))
        if f.suffix in (".py", ".sh")
    ]
    assert len(files) > 100
    bad = {
        str(f.relative_to(ROOT)): hits
        for f in files
        if (hits := _checkout_paths(f.read_text(), ROOT))
    }
    assert not bad, bad
