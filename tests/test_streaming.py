"""Streaming: same extraction kernel over readStream, exactly-once sink,
watermarked metrics (SURVEY §2.7 mapping)."""

from ocr_application_spark.kernels.extract import extract
from ocr_application_spark.pipeline import extract_pages
from ocr_application_spark.sources.webpages import synth_pages
from ocr_application_spark.streaming.stream import (
    run_stream_to_table,
    stream_metrics,
    stream_pages,
)

N = 300


def test_stream_matches_batch(spark, tmpdir_scratch):
    inp = tmpdir_scratch + "/in"
    synth_pages(spark, N).write.parquet(inp)

    q = run_stream_to_table(
        spark, inp, tmpdir_scratch + "/out", tmpdir_scratch + "/ckpt"
    )
    assert q.awaitTermination(120)  # False = still running (timeout)

    got = spark.read.parquet(tmpdir_scratch + "/out")
    batch = extract_pages(synth_pages(spark, N)).filter("status = 'success'")
    # exact row count FIRST: a replayed-epoch append regression would
    # duplicate rows that a set comparison silently collapses
    assert got.count() == batch.count()
    a = {(r.url, r.digest) for r in got.select("url", "digest").collect()}
    b = {(r.url, r.digest) for r in batch.select("url", "digest").collect()}
    assert a == b  # stream == batch, same kernel


def test_stream_metrics_windowing(spark, tmpdir_scratch):
    inp = tmpdir_scratch + "/in"
    synth_pages(spark, N).write.parquet(inp)
    metrics = stream_metrics(extract(stream_pages(spark, inp)))
    q = (
        metrics.writeStream.outputMode("append")
        .format("memory")
        .queryName("m_out")
        .option("checkpointLocation", tmpdir_scratch + "/ckpt2")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("select * from m_out").collect()
    # append mode emits only watermark-closed windows; the tail windows
    # stay open, so totals are bounded — but multiple micro-batches
    # (maxFilesPerTrigger) advance the watermark, so SOME window must
    # have closed: an empty result would mean the metrics stream is dead
    assert rows, "no closed windows emitted"
    assert sum(r.n_docs for r in rows) <= N
    assert all(r.method in ("html", "pdf", "passthrough", "empty") for r in rows)


def test_stateful_host_progress(spark, tmpdir_scratch):
    from pyspark.sql import functions as F

    from ocr_application_spark.streaming.stream import stateful_host_progress

    inp = tmpdir_scratch + "/in"
    # 8 files -> 4 micro-batches at maxFilesPerTrigger=2: state must
    # carry across batches, not just within one
    synth_pages(spark, N).repartition(8).write.parquet(inp)

    prog = stateful_host_progress(extract(stream_pages(spark, inp, max_files=2)))
    q = (
        prog.writeStream.outputMode("update")
        .format("memory")
        .queryName("host_prog")
        .option("checkpointLocation", tmpdir_scratch + "/ckpt3")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    # last emitted row per host == cumulative total == batch ground truth
    emitted = spark.sql(
        "select host, max(n_docs) as n_docs, max(n_chars) as n_chars "
        "from host_prog group by host"
    ).collect()
    batch = (
        extract_pages(synth_pages(spark, N))
        .select(
            F.parse_url("url", F.lit("HOST")).alias("host"), "n_chars"
        )
        .groupBy("host")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars"))
        .collect()
    )
    want = {(r.host, r.n_docs, r.n_chars) for r in batch}
    got = {(r.host, r.n_docs, r.n_chars) for r in emitted}
    assert got == want


def test_stream_dedup_urls(spark, tmpdir_scratch):
    """Recrawl duplicates (same canonical url, messy variants) collapse
    to one row per key in the stream."""
    from pyspark.sql import functions as F

    from ocr_application_spark.streaming.stream import stream_dedup_urls

    inp = tmpdir_scratch + "/in_dedup"
    base = synth_pages(spark, N)
    # recrawl twins: same page re-delivered with utm + fragment noise
    noisy = base.withColumn(
        "url", F.concat("url", F.lit("?utm_source=feed#frag"))
    )
    base.write.parquet(inp)
    noisy.write.mode("append").parquet(inp)

    deduped = stream_dedup_urls(stream_pages(spark, inp))
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", tmpdir_scratch + "/ckpt_dedup")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("select url_canonical, count(*) n from dedup_out group by 1").collect()
    assert len(rows) == N  # every logical page survives exactly once
    assert all(r.n == 1 for r in rows)


def test_stream_curate_matches_batch(spark, tmpdir_scratch):
    """The curation verdict stream (Gopher rule card + C4 line rules +
    PII-scrub digest as one stateless projection) must be value-identical
    to the batch form of the same expressions — every column, including
    the reconstruction digests, on text with lines/junk/PII/unicode."""
    import shutil

    from ocr_application_spark.streaming.stream import (
        stream_curate,
        stream_documents,
    )

    src = tmpdir_scratch + "/docs_curate"
    rows = [
        (0, "", "en", "s0", 0),
        (
            1,
            "A proper first line with enough words.\nshort.\n"
            "Enable javascript to continue browsing now.\n"
            "The quick brown fox jumps over the lazy dog and that is that.\n"
            "Second proper line with plenty of words here!\n"
            "Third proper line with plenty of words too?",
            "en",
            "s1",
            0,
        ),
        (2, "mail me at spam@mail.example or call 415-555-0000 now.", "en", "s2", 0),
        (3, "déjà vu über café " * 20, "fr", "s3", 0),
        (4, "#### ### ... " * 30 + "the end of that have with", "en", "s0", 0),
        (123456789012, "big id doc body words " * 10, "en", "s1", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(src)

    batch = stream_curate(spark.read.parquet(src))
    q = (
        stream_curate(stream_documents(spark, src))
        .writeStream.format("memory")
        .queryName("curate_out")
        .option("checkpointLocation", tmpdir_scratch + "/ckpt_curate")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.table("curate_out")
    assert got.count() == len(rows)
    # exact multiset equality across every column (digests included)
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    shutil.rmtree(tmpdir_scratch + "/ckpt_curate", ignore_errors=True)


def test_stream_ingest_index_and_replay(spark, tmpdir_scratch):
    """Streaming incremental ingest: two micro-batches build the
    fingerprint index epoch by epoch; a full replay (fresh checkpoint,
    SAME index) appends nothing and reproduces the identical verdict-
    tagged output — the crash-replay contract end-to-end."""
    import os
    import shutil

    from ocr_application_spark.sources.snapshots import read_snapshot
    from ocr_application_spark.streaming.stream import run_stream_ingest

    src = tmpdir_scratch + "/ingest_src"
    rows1 = [(1, "alpha text body", "en", "web", 15), (2, "beta text body", "en", "web", 14)]
    rows2 = [
        (3, "alpha text body", "en", "web", 15),   # known (epoch-1 content)
        (4, "gamma text body", "en", "web", 15),   # novel keeper
        (5, "gamma text body", "en", "web", 15),   # dup_in_increment
    ]
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(src + "/f2")
    # deterministic epoch order: file-source batches by modification time
    t = 1_700_000_000
    for i, d in enumerate(("f1", "f2")):
        for f in os.listdir(f"{src}/{d}"):
            os.utime(f"{src}/{d}/{f}", (t + i * 100, t + i * 100))

    idx = tmpdir_scratch + "/ingest_idx"
    out = tmpdir_scratch + "/ingest_out"
    ckpt = tmpdir_scratch + "/ingest_ckpt"
    glob_src = src + "/*/"

    def run_once():
        q = run_stream_ingest(spark, glob_src, idx, out, ckpt, max_files=1)
        q.awaitTermination(120)

    run_once()
    got = {
        r["doc_id"]: r["verdict"]
        for r in spark.read.parquet(out).select("doc_id", "verdict").collect()
    }
    assert got == {
        1: "novel",
        2: "novel",
        3: "known",
        4: "novel",
        5: "dup_in_increment",
    }
    assert read_snapshot(spark, idx).count() == 3  # alpha, beta, gamma

    # full replay: wipe the checkpoint (positioning only), keep the index
    shutil.rmtree(ckpt)
    run_once()
    got2 = {
        r["doc_id"]: r["verdict"]
        for r in spark.read.parquet(out).select("doc_id", "verdict").collect()
    }
    assert got2 == got                              # verdicts reproduce exactly
    assert read_snapshot(spark, idx).count() == 3   # zero rows appended


def test_stream_ingest_checkpoint_wipe_rebatch(spark, tmpdir_scratch):
    """Wiping the CHECKPOINT and re-running with different micro-batch
    boundaries must not duplicate output rows: epoch numbering restarts
    at 0, so the sink clears out_path before the first epoch (stale
    epoch dirs from the old numbering would otherwise survive). The
    kept/dropped DECISION per fingerprint is index-held and unchanged;
    the dup LABEL is batch-composition-relative (doc 3 reads
    'dup_in_increment' when batched together with alpha's keeper,
    'known' when alone) — pinned here as documented behavior."""
    import os
    import shutil

    from ocr_application_spark.sources.snapshots import read_snapshot
    from ocr_application_spark.streaming.stream import run_stream_ingest

    src = tmpdir_scratch + "/rb_src"
    rows1 = [(1, "alpha text body", "en", "web", 15), (2, "beta text body", "en", "web", 14)]
    rows2 = [
        (3, "alpha text body", "en", "web", 15),
        (4, "gamma text body", "en", "web", 15),
        (5, "gamma text body", "en", "web", 15),
    ]
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(src + "/f2")
    t = 1_700_000_000
    for i, d in enumerate(("f1", "f2")):
        for f in os.listdir(f"{src}/{d}"):
            os.utime(f"{src}/{d}/{f}", (t + i * 100, t + i * 100))

    idx = tmpdir_scratch + "/rb_idx"
    out = tmpdir_scratch + "/rb_out"
    ckpt = tmpdir_scratch + "/rb_ckpt"

    # first run: two epochs (max_files=1) -> epoch=0 and epoch=1 dirs
    q = run_stream_ingest(spark, src + "/*/", idx, out, ckpt, max_files=1)
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r["verdict"]
        for r in spark.read.parquet(out).select("doc_id", "verdict").collect()
    }
    assert len(got) == 5

    # wipe the checkpoint, re-run with BOTH files in ONE batch: the old
    # epoch=1 dir must not survive alongside the new single epoch=0
    shutil.rmtree(ckpt)
    q = run_stream_ingest(spark, src + "/*/", idx, out, ckpt, max_files=2)
    q.awaitTermination(120)
    rows = spark.read.parquet(out).select("doc_id", "verdict").collect()
    assert len(rows) == 5  # no stale-epoch duplication
    got2 = {r["doc_id"]: r["verdict"] for r in rows}
    # the kept set (the decision) is identical; dups stay dups
    assert {d for d, v in got2.items() if v == "novel"} == {
        d for d, v in got.items() if v == "novel"
    }
    assert got2[3] in ("known", "dup_in_increment")  # label is batch-relative
    assert read_snapshot(spark, idx).count() == 3  # zero rows appended


def test_stream_ingest_duplicate_doc_id_in_batch(spark, tmpdir_scratch):
    """A micro-batch that re-delivers the same doc_id (recrawl while the
    batch accumulates) must yield ONE output row per doc_id, tagged with
    its OWN fingerprint — not a join fan-out cross-tagging the copies.
    Deterministic keeper: the smallest text fingerprint wins."""
    import hashlib

    from ocr_application_spark.streaming.stream import run_stream_ingest

    src = tmpdir_scratch + "/dup_src"
    rows = [
        (7, "first crawl body", "en", "web", 16),
        (7, "second crawl body", "en", "web", 17),  # same id, new text
        (8, "other doc", "en", "web", 9),
        (8, "other doc", "en", "web", 9),           # byte-identical redelivery
    ]
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src + "/f1")

    q = run_stream_ingest(
        spark,
        src + "/*/",
        tmpdir_scratch + "/dup_idx",
        tmpdir_scratch + "/dup_out",
        tmpdir_scratch + "/dup_ckpt",
        max_files=4,
    )
    q.awaitTermination(120)
    out = spark.read.parquet(tmpdir_scratch + "/dup_out")
    rows_out = out.select("doc_id", "text", "fingerprint", "verdict").collect()
    assert len(rows_out) == 2  # one row per doc_id, no fan-out
    by_id = {r["doc_id"]: r for r in rows_out}
    # doc 7 keeps the smaller-fingerprint text, tagged with ITS fingerprint
    fps = {t: hashlib.md5(t.encode()).hexdigest() for t in ("first crawl body", "second crawl body")}
    want_text = min(fps, key=fps.get)
    assert by_id[7]["text"] == want_text
    assert by_id[7]["fingerprint"] == fps[want_text]
    assert by_id[7]["verdict"] == "novel"
    assert by_id[8]["verdict"] == "novel"


def test_ingest_cache_slot_bounded(spark, tmpdir_scratch):
    """Repeated index-ingest calls must not accumulate live cached RDD
    blocks: the slot-bounded cache (session.bounded_cache) frees the
    previous call's blocks, so a per-epoch streaming caller holds ONE
    live cache regardless of epoch count (the tarification-leak class).
    persist-based, so a late consumer degrades to recompute, never a
    truncated-lineage crash."""
    from ocr_application_spark.operators.dedup import fingerprint_index_ingest

    idx = tmpdir_scratch + "/bounded_idx"
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(20)], "doc_id bigint, text string"
    )

    def live_cached_rdds() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    v, _ = fingerprint_index_ingest(spark, idx, docs, op_label="e0")
    v.count()
    base = live_cached_rdds()
    for k in range(3):
        v, _ = fingerprint_index_ingest(spark, idx, docs, op_label=f"e{k + 1}")
        v.count()
    assert live_cached_rdds() <= base


def test_ingest_stale_handle_recomputes_not_crashes(spark, tmpdir_scratch):
    """A verdicts handle collected AFTER the next ingest call has released
    its cache must recompute gracefully (persist semantics), not die on
    truncated lineage — the library op is public API and nothing forces
    callers to consume in order."""
    from ocr_application_spark.operators.dedup import fingerprint_index_ingest

    idx = tmpdir_scratch + "/stale_idx"
    d1 = spark.createDataFrame([(1, "aa"), (2, "bb")], "doc_id bigint, text string")
    d2 = spark.createDataFrame([(3, "cc")], "doc_id bigint, text string")
    v1, _ = fingerprint_index_ingest(spark, idx, d1, op_label="b1")
    v2, _ = fingerprint_index_ingest(spark, idx, d2, op_label="b2")  # releases v1's cache
    got1 = {r["doc_id"]: r["verdict"] for r in v1.collect()}  # stale handle
    assert got1 == {1: "novel", 2: "novel"}
    assert {r["doc_id"]: r["verdict"] for r in v2.collect()} == {3: "novel"}


def test_stream_ingest_minhash_family(spark, tmpdir_scratch):
    """The NEAR-dup family through the same streaming front-end: two
    epochs build the MinHash band index; a base doc's re-crawled clone
    in epoch 2 reads 'known_neardup', a fresh doc 'novel'. Replay with a
    wiped checkpoint reproduces the verdicts (replay-stable precedence)
    and appends zero index rows."""
    import os
    import shutil

    from ocr_application_spark.sources.snapshots import read_snapshot
    from ocr_application_spark.streaming.stream import run_stream_ingest

    body_a = "the quick brown fox jumps over the lazy dog again and again " * 3
    body_b = "completely different content about snapshot tables and spark " * 3
    src = tmpdir_scratch + "/mh_src"
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    spark.createDataFrame(
        [(1, body_a, "en", "web", 0), (2, body_b, "en", "web", 0)], schema
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(3, body_a, "en", "web", 0)], schema  # near-dup clone of doc 1
    ).coalesce(1).write.parquet(src + "/f2")
    t = 1_700_000_000
    for i, d in enumerate(("f1", "f2")):
        for f in os.listdir(f"{src}/{d}"):
            os.utime(f"{src}/{d}/{f}", (t + i * 100, t + i * 100))

    idx = tmpdir_scratch + "/mh_idx"
    out = tmpdir_scratch + "/mh_out"
    ckpt = tmpdir_scratch + "/mh_ckpt"

    def run_once():
        q = run_stream_ingest(
            spark, src + "/*/", idx, out, ckpt, max_files=1, family="minhash"
        )
        q.awaitTermination(120)

    run_once()
    got = {
        r["doc_id"]: r["verdict"]
        for r in spark.read.parquet(out).select("doc_id", "verdict").collect()
    }
    assert got == {1: "novel", 2: "novel", 3: "known_neardup"}
    n_idx = read_snapshot(spark, idx).select("doc_id").distinct().count()
    assert n_idx == 2  # only the retained docs' band rows

    shutil.rmtree(ckpt)
    run_once()
    got2 = {
        r["doc_id"]: r["verdict"]
        for r in spark.read.parquet(out).select("doc_id", "verdict").collect()
    }
    assert got2 == got
    assert read_snapshot(spark, idx).select("doc_id").distinct().count() == n_idx


def test_stream_ingest_semantic_family(spark, tmpdir_scratch):
    """The embedding family through the same streaming front-end, over a
    VECTOR stream: a re-delivered base vector (cosine exactly 1) reads
    'known_neardup', an orthogonal one 'novel'."""
    from ocr_application_spark.streaming.stream import run_stream_ingest

    dim = 64
    e1 = [1.0] + [0.0] * (dim - 1)
    e2 = [0.0, 1.0] + [0.0] * (dim - 2)
    e3 = [0.0, 0.0, 1.0] + [0.0] * (dim - 3)
    src = tmpdir_scratch + "/sem_src"
    schema = "vec_id bigint, embedding array<float>"
    spark.createDataFrame([(1, e1), (2, e2)], schema).coalesce(1).write.parquet(
        src + "/f1"
    )

    idx = tmpdir_scratch + "/sem_idx"
    q = run_stream_ingest(
        spark,
        src + "/*/",
        idx,
        tmpdir_scratch + "/sem_out",
        tmpdir_scratch + "/sem_ckpt",
        max_files=2,
        family="semantic",
    )
    q.awaitTermination(120)

    # second stream: clone of vector 1 (same direction) + a fresh basis vector
    spark.createDataFrame([(10, e1), (11, e3)], schema).coalesce(1).write.parquet(
        src + "/f2"
    )
    q = run_stream_ingest(
        spark,
        src + "/f2",
        idx,
        tmpdir_scratch + "/sem_out2",
        tmpdir_scratch + "/sem_ckpt2",
        max_files=2,
        family="semantic",
    )
    q.awaitTermination(120)
    got = {
        r["vec_id"]: r["verdict"]
        for r in spark.read.parquet(tmpdir_scratch + "/sem_out2").collect()
    }
    assert got == {10: "known_neardup", 11: "novel"}


def test_stream_ingest_semantic_replay(spark, tmpdir_scratch):
    """Checkpoint-wipe replay for the SEMANTIC family: re-running the
    drained vector stream with a fresh checkpoint (same index) appends
    zero index rows and reproduces the verdicts — the replay-stable
    precedence rule, pinned per family (the minhash twin is
    test_stream_ingest_minhash_family)."""
    import shutil

    from ocr_application_spark.sources.snapshots import read_snapshot
    from ocr_application_spark.streaming.stream import run_stream_ingest

    dim = 64
    e1 = [1.0] + [0.0] * (dim - 1)
    e2 = [0.0, 1.0] + [0.0] * (dim - 2)
    src = tmpdir_scratch + "/semr_src"
    spark.createDataFrame(
        [(1, e1), (2, e2), (3, e1)], "vec_id bigint, embedding array<float>"
    ).coalesce(1).write.parquet(src)

    idx = tmpdir_scratch + "/semr_idx"
    out = tmpdir_scratch + "/semr_out"
    ckpt = tmpdir_scratch + "/semr_ckpt"

    def run_once():
        q = run_stream_ingest(spark, src, idx, out, ckpt, family="semantic")
        q.awaitTermination(120)

    run_once()
    got = {
        r["vec_id"]: r["verdict"]
        for r in spark.read.parquet(out).select("vec_id", "verdict").collect()
    }
    assert got == {1: "novel", 2: "novel", 3: "neardup_in_increment"}
    n_idx = read_snapshot(spark, idx).count()
    assert n_idx == 2  # only retained vectors

    shutil.rmtree(ckpt)
    run_once()
    got2 = {
        r["vec_id"]: r["verdict"]
        for r in spark.read.parquet(out).select("vec_id", "verdict").collect()
    }
    assert got2 == got  # replay-stable: retained vec 1 stays 'novel'
    assert read_snapshot(spark, idx).count() == n_idx  # zero appended


def test_stream_ingest_winnow_family(spark, tmpdir_scratch):
    """The PARTIAL-overlap family through the same streaming front-end:
    two epochs build the winnowing-fingerprint index; epoch 2 carries a
    half-copy of a base doc ('known_overlap' — the substring-level
    catch) and a fresh doc ('novel'). Replay with a wiped checkpoint
    reproduces the verdicts and appends zero index rows."""
    import os
    import random
    import shutil

    from ocr_application_spark.sources.snapshots import read_snapshot
    from ocr_application_spark.streaming.stream import run_stream_ingest

    rng = random.Random(73)

    def words(n):
        return " ".join(
            "".join(rng.choice("abcdefghijklmnop") for _ in range(6))
            for _ in range(n)
        )

    body_a, body_b, body_c = words(50), words(50), words(50)
    half_a = body_a[: len(body_a) // 2] + " " + words(25)
    src = tmpdir_scratch + "/win_src"
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    spark.createDataFrame(
        [(1, body_a, "en", "web", 0), (2, body_b, "en", "web", 0)], schema
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(3, half_a, "en", "web", 0), (4, body_c, "en", "web", 0)], schema
    ).coalesce(1).write.parquet(src + "/f2")
    t = 1_700_000_000
    for i, d in enumerate(("f1", "f2")):
        for f in os.listdir(f"{src}/{d}"):
            os.utime(f"{src}/{d}/{f}", (t + i * 100, t + i * 100))

    idx = tmpdir_scratch + "/win_idx"
    out = tmpdir_scratch + "/win_out"
    ckpt = tmpdir_scratch + "/win_ckpt"

    def run_once():
        q = run_stream_ingest(
            spark, src + "/*/", idx, out, ckpt, max_files=1, family="winnow"
        )
        q.awaitTermination(120)

    run_once()
    got = {
        r["doc_id"]: r["verdict"]
        for r in spark.read.parquet(out).select("doc_id", "verdict").collect()
    }
    assert got == {1: "novel", 2: "novel", 3: "known_overlap", 4: "novel"}
    n_idx = read_snapshot(spark, idx).select("doc_id").distinct().count()
    assert n_idx == 3  # docs 1, 2, 4 retained

    shutil.rmtree(ckpt)
    run_once()
    got2 = {
        r["doc_id"]: r["verdict"]
        for r in spark.read.parquet(out).select("doc_id", "verdict").collect()
    }
    assert got2 == got
    assert read_snapshot(spark, idx).select("doc_id").distinct().count() == n_idx
