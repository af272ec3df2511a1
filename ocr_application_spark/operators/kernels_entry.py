"""Kernel-stage queries for the driver contract.

``pipeline_extract_digest`` runs the REAL extraction engine (HTML wrap ->
mapInPandas Readability kernel -> sha256 digest) and is still fully
oracle-checked: because the docwrap templating is deterministic, DuckDB
can reconstruct the expected extracted text (title block + 25-word
paragraph chunks) and hash it with sha256 — a value-level cross-engine
check of the entire kernel path, not just a row count.

``multimodal_features`` exercises the binary-payload plumbing with a
deterministic stand-in decode, so it too is value-checked in SQL.
``classify_distribution`` is pytest-only (not in ``QUERIES``): the
model's argmax sits on float log1p/softmax boundaries where a
cross-engine ulp difference could flip a class, so an "exact" SQL twin
would be a flaky oracle, and the value-checked ``classify_docwrap``
already oracle-checks the full model; the 4-way routing itself is
pinned by ``tests/test_pipeline_identity.py::test_classifier_accuracy``
and ``test_classify_distribution_covers_all_routes``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.operators.registry import op

# Python str.split()/str.strip()'s EXACT whitespace set as a DuckDB
# regex class (incl. \x1c-\x1f, NEL, NBSP, the U+2000 block, LS/PS,
# NNBSP, MMSP, ideographic space) — RE2's ASCII-only \s would leave
# e.g. chr(28) intact and break byte-exactness on arbitrary text
# (ADVICE r01); pinned by the unicode-whitespace rows in
# test_digest_oracle_survives_adversarial_text. ONE copy, interpolated
# into every oracle that mirrors a Python strip/split.
_PYWS = (
    "[\\t\\n\\x0B\\f\\r\\x1C-\\x1F \\x{0085}\\x{00A0}\\x{1680}"
    "\\x{2000}-\\x{200A}\\x{2028}\\x{2029}\\x{202F}\\x{205F}\\x{3000}]"
)

# The SQL reconstruction of the extraction kernel's output text for
# docwrap-wrapped documents (title block + 25-word paragraph chunks,
# whitespace-normalized, mojibake-repaired). Shared by the digest oracle
# and the classifier oracle so the spec of "what the kernel extracts"
# exists exactly once in SQL.
_ETEXT_CTES = """
    with toks as (
      select doc_id, string_split(text, ' ') as t from documents
    ),
    chunks as (
      -- chunk boundaries over the RAW split list (empties included,
      -- exactly docwrap's words[i:i+25]); each chunk is then trimmed
      -- and whitespace-collapsed like the extractor's block normalize,
      -- using the _PYWS class (Python's exact whitespace set)
      select doc_id, u.j,
             trim(regexp_replace(
               array_to_string(t[u.j*25+1 : least((u.j+1)*25, len(t))], ' '),
               '@PYWS@+',
               ' ', 'g')) as c
      from toks, unnest(range(0, cast(ceil(len(t) / 25.0) as int))) u(j)
    ),
    rebuilt as (
      -- empty chunks vanish (docwrap emits no <p>); all-empty text falls
      -- back to the '<p>empty</p>' placeholder, as the wrapper does
      select doc_id,
             'document ' || cast(doc_id as varchar) || chr(10) ||
             coalesce(string_agg(c, chr(10) order by j) filter (where c <> ''),
                      'empty') as etext0
      from chunks group by doc_id
    ),
    final as (
      -- repair_mojibake: first replace consumes every '??' so the 'à'
      -- pass can never fire; then strip (trim)
      select doc_id, trim(replace(etext0, '??', 'é')) as etext from rebuilt
    )
""".replace("@PYWS@", _PYWS)


@op(
    "pipeline_extract_digest",
    _ETEXT_CTES
    + """
    select 'https://docs.example/' || printf('%08d', doc_id) as url,
           length(etext) as n_chars,
           sha256(etext) as digest
    from final
    """,
)
def pipeline_extract_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship kernel path, value-checked end-to-end: documents ->
    deterministic HTML wrap -> Arrow-batched extraction kernel ->
    (url, n_chars, sha256 digest). The oracle rebuilds the expected
    main-content text in SQL and must hash identically — the DuckDB
    twin of the pytest byte-identity gate."""
    from ocr_application_spark.datagen.docwrap import documents_as_pages
    from ocr_application_spark.kernels.extract import extract

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = extract(documents_as_pages(docs))
    return out.select("url", "n_chars", "digest")


def classify_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-routing counts from the broadcast-weights classifier
    (K1 analog) — rows-only (model semantics live in the kernel).

    Input is the driver's documents table (uniform article-like prose,
    which the model routes to one class) unioned with the deterministic
    synthetic corpus whose invoice/form/link-farm page mix exercises all
    four routes — so this query actually checks the 4-way routing, not a
    single degenerate bucket."""
    from ocr_application_spark.datagen.docwrap import documents_as_pages
    from ocr_application_spark.pipeline import extract_pages
    from ocr_application_spark.sources.webpages import synth_pages

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = documents_as_pages(docs).unionByName(synth_pages(spark, 2000))
    out = extract_pages(pages)
    return (
        out.groupBy("doc_class")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("confidence"), 4).alias("avg_conf"),
        )
        .orderBy("doc_class")
    )



@op(
    "extract_yield_report",
    _ETEXT_CTES
    + """
    , perdoc as (
      select f.doc_id, d.lang,
             length(f.etext) as n_ext,
             greatest(length(d.text), 1) as n_src
      from final f join documents d using (doc_id)
    )
    select lang,
           cast(count(*) as bigint) as n_docs,
           cast(sum(n_src) as bigint) as chars_src,
           cast(sum(n_ext) as bigint) as chars_extracted,
           cast(sum(n_ext) * 1000 // sum(n_src) as bigint) as yield_milli,
           cast(sum(case when n_ext * 1000 // n_src < 900 then 1 else 0 end)
                as bigint) as n_low_yield
    from perdoc
    group by lang
    """,
)
def extract_yield_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-yield QA over the kernel output: per-language
    extracted-vs-source character totals, integer-milli yield ratio,
    and a low-yield doc count (per-doc yield < 900 permille). This is
    the observability read a 100 TB extraction fleet watches per
    host/language to catch extractor regressions (a parser change that
    silently drops content shows up as a falling yield long before any
    correctness gate fires); the oracle rebuilds the expected extracted
    text via the shared _ETEXT_CTES spec, so the report itself is
    value-checked, not just plumbing-checked. Plan: the same narrow
    Arrow extraction stage as pipeline_extract_digest, one join back to
    documents on doc_id, one per-lang aggregate — the join key is the
    table's natural bucket key, so at scale this co-partitions with the
    corpus layout instead of adding a raw-row shuffle."""
    from ocr_application_spark.datagen.docwrap import documents_as_pages
    from ocr_application_spark.kernels.extract import extract

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = extract(documents_as_pages(docs))
    perdoc = out.select(
        F.substring("url", -8, 8).cast("long").alias("doc_id"),
        F.col("n_chars").alias("n_ext"),
    ).join(
        docs.select(
            "doc_id",
            "lang",
            F.greatest(F.length("text"), F.lit(1)).alias("n_src"),
        ),
        "doc_id",
    )
    return perdoc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_src").cast("long").alias("chars_src"),
        F.sum("n_ext").cast("long").alias("chars_extracted"),
        F.expr("sum(n_ext) * 1000 div sum(n_src)").cast("long").alias("yield_milli"),
        F.sum(F.when(F.expr("n_ext * 1000 div n_src < 900"), 1).otherwise(0))
        .cast("long")
        .alias("n_low_yield"),
    )


@op(
    "streaming_extract_digest",
    _ETEXT_CTES
    + """
    select 'https://docs.example/' || printf('%08d', doc_id) as url,
           length(etext) as n_chars,
           sha256(etext) as digest
    from final
    """,
)
def streaming_extract_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING path under the batch digest oracle: docwrap pages
    written to a directory, consumed by the Structured Streaming query
    (readStream -> the same mapInPandas kernel -> foreachBatch
    epoch-idempotent sink), output read back and compared against the
    SQL-rebuilt text — proving stream output == batch semantics at the
    value level, not just row counts (one engine, two execution modes).
    Runs availableNow with several micro-batches (maxFilesPerTrigger)."""
    import hashlib
    import os
    import shutil

    from ocr_application_spark.datagen.docwrap import documents_as_pages
    from ocr_application_spark.sources.webpages import default_scratch
    from ocr_application_spark.streaming.stream import run_stream_to_table

    # ONE scratch dir per (input, process), recycled: a fresh mkdtemp
    # per call would leak a corpus copy (pages + output + checkpoint) on
    # every bench/gate invocation, while a purely input-keyed dir would
    # let two concurrent processes rmtree each other mid-stream. The
    # pid suffix isolates processes; dirs left by DEAD pids are swept
    # here so cross-process accumulation stays bounded too. Within one
    # process, the previous call's DataFrame has been consumed by the
    # time a caller re-invokes (bench and the driver both collect
    # before re-running), so recycling our own dir is safe.
    scratch = default_scratch()
    os.makedirs(scratch, exist_ok=True)
    for d in os.listdir(scratch):
        if d.startswith("stream_digest_") and "_pid" in d:
            try:
                pid = int(d.rsplit("_pid", 1)[1])
                os.kill(pid, 0)  # raises if the owner is gone
            except (ValueError, ProcessLookupError):
                shutil.rmtree(os.path.join(scratch, d), ignore_errors=True)
            except PermissionError:
                pass  # pid alive under another user: leave it
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    base = os.path.join(scratch, f"stream_digest_{tag}_pid{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    documents_as_pages(docs).write.mode("overwrite").parquet(f"{base}/pages")
    q = run_stream_to_table(spark, f"{base}/pages", f"{base}/out", f"{base}/ckpt")
    q.awaitTermination()
    return spark.read.parquet(f"{base}/out").select("url", "n_chars", "digest")


# --- value-checked classifier (K1) over docwrap pages ------------------------
# Docwrap pages have CONSTANT structural features by construction:
# n_links = 6 (3 nav + 2 aside + 1 footer anchor; counted page-globally
# even inside killed regions), n_tables = n_inputs = 0, and
# link_density = 0.0 (every <a> sits inside a KILL_TAGS region, so the
# body candidate accumulates zero link_chars). The only per-doc features
# are text_len and digit_ratio — both derivable from the same etext the
# digest oracle rebuilds. That makes the full classifier (features ->
# linear logits -> argmax route) expressible in SQL with the weight
# matrix inlined. Exact-computation features quantize at ppm (the
# repo's cross-engine float rule); the class route compares as a
# string; the softmax confidence is deliberately NOT driver-compared
# (see the note in classify_docwrap) and is pinned Spark-side instead.
def _classify_oracle_sql() -> str:
    import numpy as np

    from ocr_application_spark.kernels.classify import _W

    x0 = repr(float(np.log1p(6.0)))  # log1p(n_links), constant for docwrap

    def logit(i: int) -> str:
        w = [float(v) for v in _W[i]]
        # zero-feature terms (tables/inputs/link_density) drop out:
        # w*0.0 adds an exact +-0.0, which is an IEEE identity
        return f"({w[0]!r} * {x0} + {w[3]!r} * x3 + {w[5]!r} * x5 + {w[6]!r})"

    classes = ("article", "invoice", "form", "other")
    argmax = (
        f"case when l0 >= l1 and l0 >= l2 and l0 >= l3 then '{classes[0]}' "
        f"when l1 >= l2 and l1 >= l3 then '{classes[1]}' "
        f"when l2 >= l3 then '{classes[2]}' else '{classes[3]}' end"
    )
    return (
        _ETEXT_CTES
        + f"""
    , feats as (
      select doc_id,
             cast(length(etext) as bigint) as text_len,
             cast(length(etext)
                  - length(regexp_replace(etext, '[0-9]', '', 'g')) as bigint)
               as n_digits
      from final
    ),
    x as (
      select doc_id, text_len, n_digits,
             ln(1.0 + text_len) as x3,
             cast(n_digits as double) / greatest(1, text_len) as x5
      from feats
    ),
    logits as (
      select doc_id, text_len, x5,
             {logit(0)} as l0, {logit(1)} as l1,
             {logit(2)} as l2, {logit(3)} as l3
      from x
    )
    select 'https://docs.example/' || printf('%08d', doc_id) as url,
           {argmax} as doc_class,
           text_len,
           cast(round(x5 * 1000000.0, 0) as bigint) as digit_ppm
    from logits
    """
    )


@op("classify_docwrap", _classify_oracle_sql())
def classify_docwrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 value check: the REAL broadcast-weights classifier kernel over
    the docwrap corpus, per-document — route + the two live features —
    against a SQL twin that recomputes the linear model from the
    rebuilt etext (see _classify_oracle_sql header). Complements classify_distribution (which exercises the
    4-way routing on the synthetic labeled mix but is rows-only, since
    synth_pages can't be regenerated in SQL)."""
    from ocr_application_spark.datagen.docwrap import documents_as_pages
    from ocr_application_spark.kernels.extract import extract

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = extract(documents_as_pages(docs))  # the kernel classifies its batch
    # deliberately NO confidence column here: the logits sum in the
    # SQL twin's order, but the softmax does not (numpy's SIMD exp and
    # row normalisation vs libm exp in SQL), so any quantized
    # confidence comparison retains a rounding-boundary straddle risk —
    # the repo invariant forbids comparing floats whose computation
    # differs between engines. The route (argmax of those same logits,
    # decisively separated on docwrap pages) plus the exact features
    # value-check the model; the softmax itself is pinned Spark-side in
    # test_classifier_confidence_is_softmax.
    return out.select(
        "url",
        "doc_class",
        F.col("features")[3].cast("bigint").alias("text_len"),
        F.round(F.col("features")[5] * 1000000.0, 0).cast("bigint").alias("digit_ppm"),
    )


@op(
    "multimodal_features",
    """
    select doc_id,
           cast(octet_length(encode(text)) as int) as n_bytes,
           cast(octet_length(encode(text)) % 640 as int) as width,
           cast(octet_length(encode(text)) % 480 as int) as height,
           substr(sha256(text), 1, 16) as checksum
    from documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: treat document bytes as an opaque binary
    payload column and run a feature-extraction kernel over mapInPandas
    (batch shape, schema, partitioning are real; the decode itself is a
    deterministic stand-in since no image libs ship in this container —
    marked STUB). Because the stand-in is deterministic (sha256 +
    size-derived dims), the whole binary-payload path is value-checked:
    DuckDB's sha256(varchar) hashes the same utf-8 bytes the kernel
    receives from encode(text)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payloads = d.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"), F.lit("text/plain").alias("mime")
    )

    schema = "doc_id long, n_bytes int, width int, height int, checksum string"

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            payload = pdf["payload"]
            # STUB decode: deterministic fake dimensions derived from size;
            # a real deployment drops in PIL/cv2 decode here — the Spark
            # plumbing (Arrow batches, schema, partitioning) is unchanged.
            n = payload.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n,
                    "width": (n % 640).astype("int32"),
                    "height": (n % 480).astype("int32"),
                    "checksum": [hashlib.sha256(b).hexdigest()[:16] for b in payload],
                }
            )

    return payloads.mapInPandas(feats, schema=schema)


@op(
    "multimodal_resize",
    """
    select doc_id,
           octet_length(encode(text)) as in_bytes,
           octet_length(encode(substring(text, 1, cast(ceil(length(text) / 2.0) as int)))) as out_bytes,
           substr(sha256(substring(text, 1, cast(ceil(length(text) / 2.0) as int))), 1, 16) as out_checksum
    from documents
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/transcode plumbing: binary payload in, transformed payload
    out, 1:1 (the third multimodal kernel shape, after scalar-out
    feature extraction and explode-out frame sampling). The transform is
    a STUB crop-to-half (a real deployment drops in PIL resize /
    ffmpeg transcode); being deterministic, the output payload is
    value-checked end-to-end via its sha256. The kernel returns the new
    payload as binary — downstream stages keep operating on the column —
    while the oracle checks its length + digest."""
    import hashlib
    import math

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payloads = d.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))

    schema = "doc_id long, in_bytes int, out_bytes int, out_checksum string"

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for payload in pdf["payload"]:
                text = payload.decode("utf-8")  # STUB decode
                outs.append(text[: math.ceil(len(text) / 2)].encode("utf-8"))  # STUB resize
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "in_bytes": pdf["payload"].map(len),
                    "out_bytes": [len(o) for o in outs],
                    "out_checksum": [hashlib.sha256(o).hexdigest()[:16] for o in outs],
                }
            )

    return payloads.mapInPandas(resize, schema=schema)


@op(
    "multimodal_enhance",
    """
    with px as (
      select doc_id, u.i as i, unicode(substring(text, u.i, 1)) as p
      from documents, unnest(range(1, length(text) + 1)) u(i)
    ),
    stats as (
      select doc_id, min(p) as lo, max(p) as hi, count(*) as n_px
      from px group by 1
    ),
    mapped as (
      select s.doc_id, s.lo, s.hi, s.n_px,
             sum(px.i * (((px.p - s.lo) * 255) // greatest(1, s.hi - s.lo)))
               as poly
      from px join stats s on px.doc_id = s.doc_id
      group by 1, 2, 3, 4
    )
    select d.doc_id,
           coalesce(m.n_px, 0) as n_px,
           coalesce(m.lo, 0) as lo,
           coalesce(m.hi, 0) as hi,
           cast(coalesce(m.poly, 0) as bigint) as poly
    from documents d left join mapped m on d.doc_id = m.doc_id
    """,
)
def multimodal_enhance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K10 analog (image enhance — dead code in the reference,
    extraction_service/app/ocr/utils.py:5-10 CLAHE): a deterministic
    min-max contrast stretch over the payload's "pixels" (STUB decode:
    code points stand in for grayscale values, since no image lib ships
    in this container). s_i = (p_i - lo) * 255 // max(1, hi - lo), all
    integer arithmetic, value-checked end-to-end by an exact integer
    polynomial fingerprint poly = sum(i * s_i) — the blob-free way to
    pin every output pixel in SQL. The Spark plumbing (Arrow batches,
    per-doc independent kernel, no shuffle) is the real enhance shape."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")

    schema = "doc_id long, n_px long, lo long, hi long, poly long"

    def enhance(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "n_px": [], "lo": [], "hi": [], "poly": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                pixels = [ord(c) for c in (text or "")]
                if pixels:
                    lo, hi = min(pixels), max(pixels)
                    span = max(1, hi - lo)
                    poly = sum(
                        i * (((p - lo) * 255) // span)
                        for i, p in enumerate(pixels, start=1)
                    )
                else:
                    lo = hi = poly = 0
                out["doc_id"].append(doc_id)
                out["n_px"].append(len(pixels))
                out["lo"].append(lo)
                out["hi"].append(hi)
                out["poly"].append(poly)
            yield pd.DataFrame(out)

    return d.select("doc_id", "text").mapInPandas(enhance, schema=schema)


@op(
    "multimodal_frame_sample",
    """
    select doc_id,
           u.i as frame_no,
           length(substring(text, u.i * 600 + 1, 200)) as frame_chars,
           substr(sha256(substring(text, u.i * 600 + 1, 200)), 1, 16) as frame_checksum
    from documents,
         unnest(range(0, cast(ceil(length(text) / 600.0) as int))) u(i)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over an opaque payload column: one binary in, many
    frame rows out (the explode-shaped multimodal kernel — video frame
    extraction / audio windowing have exactly this Spark plumbing).

    The kernel decodes the payload (STUB: utf-8 text stand-in for a real
    container demuxer) and samples the leading 200 chars of each
    600-char stride. Deterministic -> exact DuckDB oracle, including the
    per-frame sha256. Scale: narrow mapInPandas, output fans out ~len/600
    rows per doc with no shuffle; frame rows inherit the input's
    partitioning for downstream per-frame batch inference."""
    import hashlib
    import math

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    payloads = d.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))

    schema = "doc_id long, frame_no long, frame_chars int, frame_checksum string"

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frames, nos = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                text = payload.decode("utf-8")  # STUB decode (see above)
                for i in range(math.ceil(len(text) / 600)):
                    ids.append(doc_id)
                    nos.append(i)
                    frames.append(text[i * 600 : i * 600 + 200])
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_no": nos,
                    "frame_chars": [len(f) for f in frames],
                    "frame_checksum": [
                        hashlib.sha256(f.encode("utf-8")).hexdigest()[:16] for f in frames
                    ],
                }
            )

    return payloads.mapInPandas(sample, schema=schema)


# Value-level oracle for the standalone normalize kernel: DuckDB
# rebuilds the docwrap page (datagen/docwrap._TPL + html.escape'd
# 25-word chunks, mirrored verbatim) and applies repair_mojibake's
# replace+strip to the whole decoded page, so the charset sniff, the
# decode and the repair are all hash-checked cross-engine. The 'utf-8'
# charset constant is exact because the fixture text contains no
# iso-8859/latin-1 meta needles in any sf (verified; sniff_charset
# would otherwise fire on article text inside the first 1024 bytes).
_NORMALIZE_ORACLE = (
    """
    with toks as (
      select doc_id, lang, string_split(coalesce(text, ''), ' ') as t
      from documents
    ),
    chunks as (
      -- docwrap chunking: ' '.join(words[j*25:(j+1)*25]).strip() —
      -- leading/trailing runs of Python's FULL whitespace set stripped,
      -- NO interior collapse (unlike the extractor's block normalize)
      select doc_id, u.j,
             regexp_replace(regexp_replace(
               array_to_string(t[u.j*25+1 : least((u.j+1)*25, len(t))], ' '),
               '^@PYWS@+', ''), '@PYWS@+$', '') as c
      from toks, unnest(range(0, cast(ceil(len(t) / 25.0) as int))) u(j)
    ),
    esc as (
      -- html.escape(chunk): '&' first, then < > " ' (exact order)
      select doc_id, j,
             replace(replace(replace(replace(replace(c,
               '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
               '"', '&quot;'), chr(39), '&#x27;') as e
      from chunks where c <> ''
    ),
    paras as (
      select doc_id, string_agg('<p>' || e || '</p>', '' order by j) as p
      from esc group by doc_id
    ),
    page as (
      select k.doc_id,
             '<html><head><meta charset="utf-8"/><title>doc '
             || cast(k.doc_id as varchar) || '</title></head><body>'
             || '<nav><a href="/home">home</a><a href="/about">about</a><a href="/index">index</a></nav>'
             || '<header><h1>corpus viewer</h1></header>'
             || '<aside><a href="/ad1">sponsored link one</a><a href="/ad2">sponsored link two</a><p>ad text</p></aside>'
             || '<article><h2>document ' || cast(k.doc_id as varchar) || '</h2>'
             || coalesce(p.p, '<p>empty</p>') || '</article>'
             -- Python str.format renders a None lang as 'None'; a raw
             -- SQL concat would instead null the whole page
             || '<footer><p>footer ' || coalesce(k.lang, 'None')
             || '</p><a href="/terms">terms</a></footer></body></html>'
             as html
      from toks k left join paras p on p.doc_id = k.doc_id
    ),
    norm as (
      -- repair_mojibake on the whole decoded page: replace('??','é')
      -- (the 'à' pass can never fire) then Python strip (a no-op on
      -- '<html>…</html>' but mirrored verbatim)
      select doc_id,
             regexp_replace(regexp_replace(replace(html, '??', 'é'),
               '^@PYWS@+', ''), '@PYWS@+$', '') as html_norm
      from page
    )
    select 'https://docs.example/' || printf('%08d', doc_id) as url,
           'utf-8' as charset,
           length(html_norm) as n_chars_norm,
           sha256(html_norm) as digest
    from norm
""".replace("@PYWS@", _PYWS)
)


@op("kernel_normalize", _NORMALIZE_ORACLE)
def kernel_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standalone normalize stage (kernels/normalize.py — charset
    sniff -> decode -> mojibake repair, the reference's normalize-and-
    forward service as a DataFrame op), value-checked end-to-end:
    documents -> docwrap pages -> normalize -> (url, charset, chars,
    sha256 of the repaired decoded html). The oracle rebuilds the page
    and the repair in SQL and must hash identically."""
    from ocr_application_spark.datagen.docwrap import documents_as_pages
    from ocr_application_spark.kernels.normalize import normalize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = normalize(documents_as_pages(docs))
    return out.select(
        "url",
        "charset",
        F.length("html_norm").cast("long").alias("n_chars_norm"),
        F.sha2("html_norm", 256).alias("digest"),
    )


# Value-level oracle for the outlink kernel over docwrap pages: the
# template carries exactly six root-relative links (/home /about /index
# /ad1 /ad2 /terms — datagen/docwrap._TPL) and the article text is
# html-escaped (markup-looking text can never form a tag), so every
# page resolves to the same six absolute outlinks. The oracle digest is
# deliberately constant-per-row: any page where the kernel extracts a
# different set (missed tag, failed resolution, an escaped-text false
# positive) breaks its row. The non-degenerate shapes (quotes, relative
# paths, entities, hostile input) are pinned by the html.parser
# differential in tests/test_links.py.
_LINKS_ORACLE = """
    select 'https://docs.example/' || printf('%08d', doc_id) as url,
           cast(6 as bigint) as n_outlinks,
           sha256(array_to_string([
             'https://docs.example/about', 'https://docs.example/ad1',
             'https://docs.example/ad2', 'https://docs.example/home',
             'https://docs.example/index', 'https://docs.example/terms'
           ], chr(10))) as links_digest
    from documents
"""


@op("link_outdegree", _LINKS_ORACLE)
def link_outdegree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction (kernels/links.py — the crawl-graph feature
    stage) value-checked end-to-end: documents -> docwrap pages ->
    regex kernel -> per-url outdegree + sha256 of the sorted outlink
    set; the oracle reconstructs the template's six resolved links."""
    from ocr_application_spark.datagen.docwrap import documents_as_pages
    from ocr_application_spark.kernels.links import extract_outlinks

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    links = extract_outlinks(documents_as_pages(docs))
    return links.groupBy("url").agg(
        F.count("*").alias("n_outlinks"),
        F.sha2(
            F.concat_ws("\n", F.sort_array(F.collect_list("outlink"))), 256
        ).alias("links_digest"),
    )


def _pagerank_oracle_sql(iters: int = 4, scale: int = 10**9, dp: int = 85) -> str:
    """Unrolled integer-exact PageRank oracle. The edge synthesis is pure
    doc_id arithmetic (src = doc_id mod 89, dst = (31*doc_id + 7) mod 97,
    weight 1 + doc_id mod 3), so both engines reconstruct the IDENTICAL
    multigraph: 97 hosts, 8 of them dangling (h89..h96 never occur as
    src), cycles via gcd(31, 97) = 1. Every iteration is the kernel's
    canonical op sequence verbatim (see kernels/links.host_pagerank):
    DuckDB ``//`` == Spark ``div`` on nonnegative int64."""
    sql = f"""
    with raw as (
      select printf('h%02d', cast(doc_id % 89 as int)) as src,
             printf('h%02d', cast((doc_id * 31 + 7) % 97 as int)) as dst,
             cast(1 + doc_id % 3 as bigint) as w
      from documents
    ),
    edges as (select src, dst, cast(sum(w) as bigint) as w
              from raw group by src, dst),
    nodes as (select distinct h as host from
              (select src as h from edges union all select dst from edges)),
    consts as (select cast({scale} as bigint) // count(*) as r0 from nodes),
    wt as (select src, cast(sum(w) as bigint) as wtot from edges group by src),
    r0 as (select host, (select r0 from consts) as rank from nodes)"""
    for i in range(1, iters + 1):
        sql += f""",
    m{i} as (
      select e.dst as host,
             cast(sum((r.rank * e.w) // t.wtot) as bigint) as m
      from edges e
      join r{i - 1} r on r.host = e.src
      join wt t on t.src = e.src
      group by e.dst
    ),
    r{i} as (
      select n.host,
             ({100 - dp} * (select r0 from consts)) // 100
               + ({dp} * coalesce(m.m, 0)) // 100 as rank
      from nodes n left join m{i} m on m.host = n.host
    )"""
    sql += f"\n    select host, cast(rank as bigint) as rank from r{iters}"
    return sql


@op("link_host_pagerank", _pagerank_oracle_sql())
def link_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph PageRank (kernels/links.host_pagerank — the crawl
    quality prior) value-checked end-to-end on a deterministic 97-host
    multigraph synthesized from doc_id arithmetic. Integer fixed-point
    throughout, so the 4-iteration ranks must match the oracle's
    unrolled CTEs bit-for-bit — including the 8 dangling hosts decaying
    toward the teleport floor."""
    from ocr_application_spark.kernels.links import host_pagerank

    return host_pagerank(_synth_host_edges(spark, sf_dir), iterations=4)


def _synth_host_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic 97-host doc_id-arithmetic multigraph shared by
    the PageRank and HITS gate queries (oracle twin: the `raw`/`edges`
    CTEs in their unrolled SQL)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.select(
            F.format_string("h%02d", (F.col("doc_id") % 89).cast("int")).alias(
                "src_host"
            ),
            F.format_string(
                "h%02d", ((F.col("doc_id") * 31 + 7) % 97).cast("int")
            ).alias("dst_host"),
            (F.lit(1) + F.col("doc_id") % 3).cast("long").alias("w"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.sum("w").alias("n_links"))
    )


def _hits_oracle_sql(iters: int = 3, scale: int = 10**6) -> str:
    """Unrolled integer-exact HITS oracle over the same doc_id-arithmetic
    multigraph as the PageRank gate. Each iteration mirrors the kernel's
    canonical sequence verbatim (see kernels/links.host_hits): exact
    integer w*score sums, then ONE L1 normalization division per phase —
    DuckDB ``//`` == Spark ``div`` on nonnegative int64."""
    sql = f"""
    with raw as (
      select printf('h%02d', cast(doc_id % 89 as int)) as src,
             printf('h%02d', cast((doc_id * 31 + 7) % 97 as int)) as dst,
             cast(1 + doc_id % 3 as bigint) as w
      from documents
    ),
    edges as (select src, dst, cast(sum(w) as bigint) as w
              from raw group by src, dst),
    nodes as (select distinct h as host from
              (select src as h from edges union all select dst from edges)),
    s0 as (select host,
                  cast({scale} as bigint) // (select count(*) from nodes) as hub,
                  cast({scale} as bigint) // (select count(*) from nodes) as authority
           from nodes)"""
    for i in range(1, iters + 1):
        sql += f""",
    ar{i} as (
      select e.dst as host, cast(sum(e.w * s.hub) as bigint) as raw
      from edges e join s{i - 1} s on s.host = e.src group by e.dst
    ),
    a{i} as (
      select n.host,
             case when t.tot is null or t.tot = 0 then 0
                  else ({scale} * coalesce(r.raw, 0)) // t.tot end as authority
      from nodes n
      left join ar{i} r on r.host = n.host,
      (select sum(raw) as tot from ar{i}) t
    ),
    hr{i} as (
      select e.src as host, cast(sum(e.w * a.authority) as bigint) as raw
      from edges e join a{i} a on a.host = e.dst group by e.src
    ),
    s{i} as (
      select n.host,
             case when t.tot is null or t.tot = 0 then 0
                  else ({scale} * coalesce(r.raw, 0)) // t.tot end as hub,
             a.authority
      from nodes n
      left join hr{i} r on r.host = n.host
      join a{i} a on a.host = n.host,
      (select sum(raw) as tot from hr{i}) t
    )"""
    sql += (
        f"\n    select host, cast(hub as bigint) as hub,"
        f" cast(authority as bigint) as authority from s{iters}"
    )
    return sql


@op("link_host_hits", _hits_oracle_sql())
def link_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph HITS hubs/authorities (kernels/links.host_hits — the
    aggregator-vs-content signal PageRank can't give: a link directory
    scores high hub / low authority, so the sampler can crawl it for
    frontier discovery while downweighting its text) value-checked
    end-to-end on the shared 97-host multigraph, bit-for-bit over 3
    integer fixed-point iterations."""
    from ocr_application_spark.kernels.links import host_hits

    return host_hits(_synth_host_edges(spark, sf_dir), iterations=3)


# Constant-per-row oracle like _LINKS_ORACLE: the docwrap template's
# six links carry fixed anchor texts (nav labels, the two sponsored
# aside links, the footer terms link; article text is html-escaped so
# it can never form an <a>), so every page yields the same sorted
# (link TAB anchor) lines. Any page where the anchor kernel reads a
# different pairing breaks its row.
_ANCHORS_ORACLE = """
    select 'https://docs.example/' || printf('%08d', doc_id) as url,
           cast(6 as bigint) as n_pairs,
           sha256(array_to_string([
             'https://docs.example/about' || chr(9) || 'about',
             'https://docs.example/ad1' || chr(9) || 'sponsored link one',
             'https://docs.example/ad2' || chr(9) || 'sponsored link two',
             'https://docs.example/home' || chr(9) || 'home',
             'https://docs.example/index' || chr(9) || 'index',
             'https://docs.example/terms' || chr(9) || 'terms'
           ], chr(10))) as anchors_digest
    from documents
"""


@op("link_anchor_texts", _ANCHORS_ORACLE)
def link_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text extraction (kernels/links.extract_anchors — what
    OTHER pages say a url is about, the classic web-graph retrieval /
    quality signal) value-checked end-to-end: documents -> docwrap
    pages -> anchor kernel -> per-url pair count + sha256 of the sorted
    (outlink TAB anchor) lines; the oracle reconstructs the template's
    six links with their literal anchor texts."""
    from ocr_application_spark.datagen.docwrap import documents_as_pages
    from ocr_application_spark.kernels.links import extract_anchors

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = extract_anchors(documents_as_pages(docs))
    line = F.concat_ws("\t", F.col("outlink"), F.col("anchor"))
    return pairs.groupBy("url").agg(
        F.count("*").alias("n_pairs"),
        F.sha2(
            F.concat_ws("\n", F.sort_array(F.collect_list(line))), 256
        ).alias("anchors_digest"),
    )


# --- host components (site-cluster mining) -----------------------------------
#
# The link-graph twin of the dedup cluster machinery: hosts joined by
# links collapse into SITE CLUSTERS (CDNs, mirror farms, language
# subdomains of one property), the unit a diversity-aware sampler
# counts — 40 hosts of one cluster are one voice, not forty. Reuses
# dedup.propagate_components verbatim (it is type-agnostic: min-label
# over strings), proving the component machinery composes beyond
# doc_id domains.
#
# Fixture: a DELIBERATELY disconnected host graph (the pagerank
# multigraph is one giant component — useless for this op): hosts
# h00..h95 with edges only INSIDE blocks of 8 (dst = block + (5*doc_id
# + 3) % 8), plus h96..h99 which occur as nodes but never in an edge
# -> 12 block clusters + 4 singletons, cluster id = lexicographically
# smallest member.

_HC_ORACLE = """
    with recursive nodes as (
      select distinct printf('h%02d', cast(doc_id % 100 as int)) as host
      from documents
    ),
    p0 as (
      select distinct
             printf('h%02d', cast(doc_id % 96 as int)) as a,
             printf('h%02d', cast((doc_id % 96) - (doc_id % 96) % 8
                                  + (doc_id * 5 + 3) % 8 as int)) as b
      from documents
    ),
    p as (select a, b from p0 where a != b),
    edges as (
      select a as u, b as v from p union all select b as u, a as v from p
    ),
    reach(u, v) as (
      select host, host from nodes
      union
      select e.u, r.v from edges e join reach r on e.v = r.u
    )
    select u as host, min(v) as cluster_rep from reach group by u
"""


@op("link_host_components", _HC_ORACLE)
def link_host_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(host, cluster_rep) over the blocked host graph — every h00..h95
    host labels with its block's smallest member, h96..h99 label
    themselves. Oracle = recursive-CTE transitive closure, so the
    min-label propagation (and its singleton rejoin) is value-checked
    on a string-keyed domain too."""
    from ocr_application_spark.operators.dedup import propagate_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    srcn = F.col("doc_id") % 96
    dstn = srcn - srcn % 8 + (F.col("doc_id") * 5 + 3) % 8
    pairs = (
        docs.select(
            F.printf(F.lit("h%02d"), srcn.cast("int")).alias("doc_a"),
            F.printf(F.lit("h%02d"), dstn.cast("int")).alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )
    nodes = docs.select(
        F.printf(F.lit("h%02d"), (F.col("doc_id") % 100).cast("int")).alias("doc_id")
    ).distinct()
    return propagate_components(pairs, nodes).select(
        F.col("doc_id").alias("host"), F.col("rep").alias("cluster_rep")
    )
