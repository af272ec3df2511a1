"""Packaged-run smoke (north_star: "run via spark-submit --py-files"):
the REAL spark-submit binary, the REAL zip artifact, both job modes —
synth batch and snapshot-incremental with its version watermark."""

import json
import os
import subprocess
from pathlib import Path

import pytest

# the checkout these tests belong to: a copy of the tree packages and
# submits its own code, never another checkout's
ROOT = str(Path(__file__).resolve().parents[1])

_SPARK_SUBMIT = os.path.join(
    os.path.dirname(os.__file__), "site-packages", "pyspark", "bin", "spark-submit"
)


def _submit(args, cwd=ROOT):
    r = subprocess.run(
        [
            _SPARK_SUBMIT,
            "--master",
            "local[4]",
            "--py-files",
            "dist/ocr_application_spark.zip",
            "jobs/extract_job.py",
            *args,
        ],
        capture_output=True,
        text=True,
        cwd=cwd,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return r.stdout + r.stderr


@pytest.mark.slow
def test_spark_submit_synth_and_incremental(spark, tmpdir_scratch):
    if not os.path.exists(_SPARK_SUBMIT):
        pytest.skip("spark-submit binary not found")
    subprocess.run(["bash", "scripts/package.sh"], cwd=ROOT, check=True)

    # mode 1: synth batch
    out = _submit(
        [
            "--synth", "300",
            "--output", tmpdir_scratch + "/out",
            "--lineage", tmpdir_scratch + "/lin",
            "--buckets", "8",
        ]
    )
    assert "committed 8 buckets" in out
    assert spark.read.parquet(tmpdir_scratch + "/out").count() == 300

    # mode 2: snapshot-incremental with watermark
    from ocr_application_spark.sources.snapshots import commit
    from ocr_application_spark.sources.webpages import synth_pages

    tbl = tmpdir_scratch + "/crawl"
    commit(synth_pages(spark, 200), tbl)
    inc_args = [
        "--snapshot-input", tbl,
        "--output", tmpdir_scratch + "/iout",
        "--lineage", tmpdir_scratch + "/ilin",
        "--buckets", "8",
    ]
    _submit(inc_args)
    state = json.load(open(tmpdir_scratch + "/ilin/_ingest_state.json"))
    assert state["processed_version"] == 1
    assert spark.read.parquet(tmpdir_scratch + "/iout").count() == 200

    # no new snapshot -> no-op
    out = _submit(inc_args)
    assert "nothing to do" in out

    # new snapshot -> only the diff is processed, shards accumulate
    commit(synth_pages(spark, 260), tbl)  # 200 recrawls + 60 new
    _submit(inc_args)
    df = spark.read.parquet(tmpdir_scratch + "/iout")
    assert json.load(open(tmpdir_scratch + "/ilin/_ingest_state.json"))[
        "processed_version"
    ] == 2
    assert df.count() == 460  # 200 (v1 shard) + 260 (v2 diff shard)
    assert {r.ingest_v for r in df.select("ingest_v").distinct().collect()} == {1, 2}
    # distinct urls across shards = full 260-page corpus
    assert df.select("url").distinct().count() == 260

    # source compaction (content-preserving rewrite) -> the watermark
    # skips over it with nothing processed; a following append ingests
    # only its diff
    from ocr_application_spark.sources.snapshots import compact

    compact(spark, tbl, target_files=2)  # v3
    commit(synth_pages(spark, 280), tbl)  # v4: 260 recrawls + 20 new
    out = _submit(inc_args)
    assert "skipped compaction commit v3" in out
    df = spark.read.parquet(tmpdir_scratch + "/iout")
    assert json.load(open(tmpdir_scratch + "/ilin/_ingest_state.json"))[
        "processed_version"
    ] == 4
    assert df.select("url").distinct().count() == 280
    assert {r.ingest_v for r in df.select("ingest_v").distinct().collect()} == {1, 2, 4}

    # a MERGE (copy-on-write rewrite) in the source: incremental ingest
    # must refuse loudly with the rebaseline recipe — surviving rows
    # re-surfacing as diff "additions" would duplicate them downstream
    from ocr_application_spark.sources.snapshots import merge_pages

    merge_pages(spark, tbl, synth_pages(spark, 5), key=("url",))  # v5
    r = subprocess.run(
        [
            _SPARK_SUBMIT, "--master", "local[4]",
            "--py-files", "dist/ocr_application_spark.zip",
            "jobs/extract_job.py", *inc_args,
        ],
        capture_output=True, text=True, cwd=ROOT, timeout=420,
    )
    assert r.returncode != 0
    assert "--rebaseline 5" in (r.stdout + r.stderr)
    # watermark unchanged by the refused run
    assert json.load(open(tmpdir_scratch + "/ilin/_ingest_state.json"))[
        "processed_version"
    ] == 4

    # operator recovery: rebaseline AT the merge commit, then a later
    # append still ingests incrementally
    out = _submit(inc_args + ["--rebaseline", "5"])
    assert "rebaselined watermark at v5" in out
    commit(synth_pages(spark, 290), tbl)  # v6: 280 recrawls + 10 new
    _submit(inc_args)
    df = spark.read.parquet(tmpdir_scratch + "/iout")
    assert json.load(open(tmpdir_scratch + "/ilin/_ingest_state.json"))[
        "processed_version"
    ] == 6
    assert {r.ingest_v for r in df.select("ingest_v").distinct().collect()} == {
        1, 2, 4, 6,
    }
    assert df.select("url").distinct().count() == 290


@pytest.mark.slow
def test_spark_submit_curate_job(spark, tmpdir_scratch):
    """Packaged curation funnel: clean -> Gopher -> rank-quality -> PII
    scrub -> holdout split via the real spark-submit + zip artifact.
    The stage metrics must form a monotone funnel and the curated
    output must be split-partitioned with scrubbed text."""
    if not os.path.exists(_SPARK_SUBMIT):
        pytest.skip("spark-submit binary not found")
    subprocess.run(["bash", "scripts/package.sh"], cwd=ROOT, check=True)
    r = subprocess.run(
        [
            _SPARK_SUBMIT, "--master", "local[4]",
            "--py-files", "dist/ocr_application_spark.zip",
            "jobs/curate_job.py",
            "--input", "/root/testdata/sf0.001",
            "--output", tmpdir_scratch + "/curated",
        ],
        capture_output=True, text=True, cwd=ROOT, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    lines = [json.loads(l) for l in r.stdout.splitlines()
             if l.startswith('{"stage"')]
    stages = [l["stage"] for l in lines]
    assert stages == [
        "clean_lang_quality_dedup", "gopher_repetition", "rank_quality", "write",
    ]
    # monotone funnel, each stage's rows_in == previous rows_out
    assert lines[0]["rows_in"] == 500
    for prev, cur in zip(lines, lines[1:-1]):
        assert cur["rows_in"] == prev["rows_out"]
        assert cur["rows_out"] <= cur["rows_in"]
    assert lines[-1]["rows_out"] == lines[-2]["rows_out"] > 0
    out = spark.read.parquet(tmpdir_scratch + "/curated")
    assert set(out.columns) == {"doc_id", "text", "lang", "source",
                                "n_chars", "split", "shard"}
    splits = {row["split"] for row in out.select("split").distinct().collect()}
    assert splits <= {"train", "valid", "test"} and "train" in splits
    # the curated rows are exactly the docs every gate kept, and the
    # split coin is reproducible from doc_id alone
    from pyspark.sql import functions as F
    coin = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    expect = (F.when(coin < "e6666666", "train")
              .when(coin < "f3333333", "valid").otherwise("test"))
    assert out.filter(F.col("split") != expect).count() == 0
    # the trainer shard is the same pure function of doc_id as the
    # shard_shuffle operator
    shard_expect = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":shard"))),
                1, 15,
            ),
            16, 10,
        ).cast("bigint") % 8
    )
    assert out.filter(F.col("shard") != shard_expect).count() == 0


def test_curate_optin_gates_rebuild_text(spark, tmpdir_scratch):
    """The opt-in c4 + gopher_quality gates must (a) drop exactly the
    docs their rules condemn and (b) rebuild each surviving document
    from its surviving lines — checked against an independent Python
    twin of the line rules. Unknown gate names must fail loudly."""
    import re

    import pandas as pd
    import pytest as _pytest

    from jobs.curate_job import curate

    # prose generator: rotating word banks so no 2-/5-gram repeats
    # (survives gopher_repetition), a small head vocabulary + the Gopher
    # stop words so the rank/rule-card gates pass, junk lines that the
    # c4 rules strip from the rebuilt text
    tails = (
        "river stone market garden window travel yellow copper bridge "
        "candle forest meadow silver hammer basket lantern orchard harbor "
        "village wagon barrel cellar chimney saddle kettle ribbon ladder "
        "anchor marble velvet walnut falcon timber canvas pepper saffron "
        "compass harvest quarry signal"
    ).split()
    heads = "water light sound earth music metal paper glass".split()
    pairs = [("the", "of"), ("and", "with"), ("that", "be"), ("have", "to")]

    def doc_text(i):
        lines = []
        for j in range(8):
            t = lambda k: tails[(i * 7 + j * 5 + k * 3) % len(tails)]
            h = lambda k: heads[(i + 3 * j + k) % len(heads)]
            s1, s2 = pairs[j % 4]
            ws = [t(0), s1, h(0), h(1), h(2), s2, h(3), t(1)]
            lines.append(" ".join(ws) + ".")
        lines.insert(2, "enable javascript in your browser")
        lines.insert(5, "tiny.")
        return "\n".join(lines)

    rows = [(i, doc_text(i), "en", f"src{i % 3}", 0) for i in range(40)]
    # die at clean (no stop words, exact dups of each other)
    rows += [(100 + i, "no punctuation anywhere here", "en", "src0", 28)
             for i in range(4)]
    # dies at c4 (good prose words, but a single unpunctuated line)
    rows += [(200, doc_text(3).replace("\n", " ").replace(".", ""),
              "en", "src1", 0)]
    # dies at gopher_quality (symbol-heavy words flip r_symbols; its
    # lines still end in '.', so c4 passes it through)
    sym = "\n".join(
        " ".join(["###"] * 3 + [w for p in pairs for w in p][:2]
                 + [tails[(k * 11 + j) % len(tails)] for k in range(3)]) + "."
        for j in range(8)
    )
    rows += [(201, sym, "en", "src2", 0)]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf.to_parquet(f"{tmpdir_scratch}/documents.parquet")

    with _pytest.raises(ValueError, match="unknown gates"):
        curate(spark, tmpdir_scratch, gates=("clean", "nope"))

    # lm_keep_quantile=0.0: the lm stage must run (stage row below) but
    # its relative cut sits at the corpus minimum, so this test keeps
    # its exact per-doc survivor accounting; the quantile dial itself
    # is pinned by test_lm_gate_in_curation_funnel
    curated, metrics = curate(
        # the prose-shaped opt-in chain this test accounts doc-by-doc;
        # the r04 blocklist/script/cdc gates have their own funnel test
        # (test_curate_funnel_new_gates_run_and_stay_monotone)
        spark,
        tmpdir_scratch,
        gates=("clean", "c4", "gopher_quality", "repetition", "rank", "lm"),
        lm_keep_quantile=0.0,
    )
    stages = {m["stage"]: m for m in metrics}
    assert list(stages) == [
        "clean_lang_quality_dedup", "c4_line_rules", "gopher_quality",
        "gopher_repetition", "rank_quality", "lm_perplexity",
    ]
    for prev, cur in zip(metrics, metrics[1:]):
        assert cur["rows_in"] == prev["rows_out"]
        assert cur["rows_out"] <= cur["rows_in"]
    assert stages["c4_line_rules"]["dropped"] >= 1       # doc 200
    assert stages["gopher_quality"]["dropped"] >= 1      # doc 201

    def line_ok(line: str) -> bool:
        low = line.lower()
        return (
            re.search(r'[.!?"]\Z', line) is not None
            and len([w for w in line.split(" ") if w]) >= 5
            and "lorem ipsum" not in low
            and "javascript" not in low
            and "{" not in low
            and "cookie" not in low
        )

    got = curated.select("doc_id", "text").collect()
    assert {r["doc_id"] for r in got} == set(range(40))
    for r in got:
        expected = "\n".join(
            l for l in doc_text(r["doc_id"]).split("\n") if line_ok(l)
        )
        assert r["text"] == expected


def test_curate_script_and_cdc_gates_give_nulltext_explicit_verdicts(
    spark, tmpdir_scratch
):
    """NULL-/empty-text docs have no chunk rows (the cdc report only
    covers chunkable docs) and a NULL script-mix flag
    (regexp_count(NULL)); both gates must KEEP them explicitly — zero
    chunks shares nothing, no text has no script mix — instead of
    dropping them through an inner join / three-valued filter
    (ADVICE r04)."""
    import pandas as pd

    from jobs.curate_job import curate

    rows = [
        (1, "river stone market garden window travel yellow copper bridge",
         "en", "s0", 0),
        (2, None, "en", "s0", 0),
        (3, "", "en", "s1", 0),
        (4, "   ", "en", "s1", 0),
    ]
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(f"{tmpdir_scratch}/documents.parquet")
    curated, metrics = curate(spark, tmpdir_scratch, gates=("script", "cdc"))
    assert [m["stage"] for m in metrics] == ["script_mix", "cdc_shared_chunks"]
    # nothing here is mixed-script or cross-doc chunk-shared: every doc
    # must survive with an explicit verdict
    assert {r["doc_id"] for r in curated.select("doc_id").collect()} == {1, 2, 3, 4}
    for m in metrics:
        assert m["dropped"] == 0, m


def test_curate_releases_previous_invocations_cache(spark, tmpdir_scratch):
    """Repeated curate() calls in one session must not accumulate cached
    id-set blocks (the tarification cache-leak class): the number of
    persisted RDDs stays flat across calls instead of growing by one
    per invocation. (Asserting via df.storageLevel is confounded by the
    CacheManager matching the next call's byte-identical plan.)"""
    import pandas as pd

    from jobs import curate_job

    rows = [(i, f"word{i} the and of text here", "en", "s0", 0) for i in range(30)]
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(f"{tmpdir_scratch}/documents.parquet")

    def n_persisted():
        return spark.sparkContext._jsc.sc().getRDDStorageInfo().__len__()

    curate_job.curate(spark, tmpdir_scratch)
    n1 = n_persisted()
    first = curate_job._last_cur
    assert first is not None
    curate_job.curate(spark, tmpdir_scratch)
    assert n_persisted() <= n1  # no accumulation across invocations
    assert curate_job._last_cur is not first
    # release the final invocation's cache so later tests start clean
    curate_job._last_cur.unpersist()
    curate_job._last_cur = None


def test_curate_incremental_dedup_index_across_runs(spark, tmpdir_scratch):
    """--dedup-index makes the funnel's exact dedup incremental ACROSS
    runs: run 1 keeps one 'novel' doc per distinct text and commits the
    index; run 2 over a batch mixing recrawls with fresh content drops
    exactly the recrawled texts at the incremental_dedup stage, before
    any other gate."""
    from jobs.curate_job import curate

    def write_docs(path, rows):
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(path + "/documents.parquet")

    idx = tmpdir_scratch + "/cur_idx"
    in1 = tmpdir_scratch + "/cur_in1"
    # gates=() isolates the dedup stage; texts A (duplicated) and B
    write_docs(in1, [
        (1, "text alpha body", "en", "s", 15),
        (2, "text beta body", "en", "s", 14),
        (3, "text alpha body", "en", "s", 15),   # in-batch dup of 1
    ])
    curated1, m1 = curate(spark, in1, gates=(), dedup_index=idx)
    assert {r["doc_id"] for r in curated1.select("doc_id").collect()} == {1, 2}
    assert m1[0]["stage"] == "incremental_dedup" and m1[0]["rows_out"] == 2

    in2 = tmpdir_scratch + "/cur_in2"
    write_docs(in2, [
        (10, "text alpha body", "en", "s", 15),  # recrawl of run-1 content
        (11, "text gamma body", "en", "s", 15),  # fresh
    ])
    curated2, m2 = curate(spark, in2, gates=(), dedup_index=idx)
    assert {r["doc_id"] for r in curated2.select("doc_id").collect()} == {11}
    assert m2[0] == {"stage": "incremental_dedup", "rows_in": 2,
                     "rows_out": 1, "dropped": 1}

    # replay-safety: re-running run 2 against the index it built keeps
    # the SAME survivor (doc 11 is the index's own keeper for gamma)
    curated2b, _ = curate(spark, in2, gates=(), dedup_index=idx)
    assert {r["doc_id"] for r in curated2b.select("doc_id").collect()} == {11}


@pytest.mark.slow
def test_spark_submit_ingest_job(spark, tmpdir_scratch):
    """The streaming ingest entrypoint through the REAL spark-submit +
    zip artifact: drain a two-file landing dir with --family exact,
    check the JSON metrics line and the verdict output."""
    if not os.path.exists(_SPARK_SUBMIT):
        pytest.skip("spark-submit binary not found")
    subprocess.run(["bash", "scripts/package.sh"], cwd=ROOT, check=True)

    src = tmpdir_scratch + "/ingest_src"
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    spark.createDataFrame(
        [(1, "alpha body", "en", "w", 0), (2, "beta body", "en", "w", 0)], schema
    ).coalesce(1).write.parquet(src)
    first_files = {f for f in os.listdir(src) if f.endswith(".parquet")}
    spark.createDataFrame(
        [(3, "alpha body", "en", "w", 0)], schema  # recrawl dup of doc 1
    ).coalesce(1).write.parquet(src, mode="append")
    # FileStreamSource batches by mtime: pin the first write strictly
    # older so doc 3 lands in a later epoch deterministically (same
    # discipline as test_stream_ingest_minhash_family)
    t = 1_700_000_000
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            old = f in first_files
            os.utime(os.path.join(src, f), (t, t) if old else (t + 100, t + 100))

    r = subprocess.run(
        [
            _SPARK_SUBMIT,
            "--master", "local[4]",
            "--py-files", "dist/ocr_application_spark.zip",
            "jobs/ingest_job.py",
            "--input", src,
            "--index", tmpdir_scratch + "/idx",
            "--output", tmpdir_scratch + "/out",
            "--checkpoint", tmpdir_scratch + "/ckpt",
            "--max-files", "1",
        ],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    metrics = json.loads(
        [ln for ln in r.stdout.splitlines() if ln.startswith('{"family"')][-1]
    )
    assert metrics["drained"] is True
    assert metrics["rows_out"] == 3
    assert metrics["verdicts"] == {"novel": 2, "known": 1}
    assert metrics["epochs"] == 2
    got = {
        r2["doc_id"]: r2["verdict"]
        for r2 in spark.read.parquet(tmpdir_scratch + "/out").collect()
    }
    assert got == {1: "novel", 2: "novel", 3: "known"}


@pytest.mark.slow
def test_spark_submit_warc_input_mode(spark, tmpdir_scratch):
    """Raw response segments -> staged bucket-branded pages ->
    extraction, all through spark-submit; malformed records land in the
    quarantine table from the same parse pass."""
    if not os.path.exists(_SPARK_SUBMIT):
        pytest.skip("spark-submit binary not found")
    subprocess.run(["bash", "scripts/package.sh"], cwd=ROOT, check=True)

    import pandas as pd
    from pyspark.sql import functions as F

    from ocr_application_spark.sources.warc import pack_warc_segments

    html = "<html><head><title>t</title></head><body><p>doc %d body</p></body></html>"
    pages_in = spark.createDataFrame(
        pd.DataFrame(
            [
                (f"https://w.example/{i:03d}", "2024-01-05T00:00:00Z",
                 200, "OK", "text/html", (html % i).encode())
                for i in range(60)
            ],
            columns=["url", "warc_date", "status", "reason", "content_type", "body"],
        )
    )
    segs = pack_warc_segments(pages_in, n_segments=4).select("seg", "payload")
    # append one corrupt segment: a truncated record -> quarantine row
    bad = spark.createDataFrame(
        pd.DataFrame([(99, b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999\r\n\r\nshort")],
                     columns=["seg", "payload"]),
    )
    segs.unionByName(bad).write.parquet(tmpdir_scratch + "/warc_segs")

    out = _submit(
        [
            "--input", tmpdir_scratch + "/warc_segs",
            "--input-format", "warc",
            "--output", tmpdir_scratch + "/wout",
            "--lineage", tmpdir_scratch + "/wlin",
            "--buckets", "4",
        ]
    )
    stage = next(json.loads(l) for l in out.splitlines() if l.startswith('{"stage"'))
    assert stage["stage"] == "warc_ingest"
    assert stage["rows_out"] == 60 and stage["malformed"] == 1
    assert "committed 4 buckets" in out
    extracted = spark.read.parquet(tmpdir_scratch + "/wout")
    assert extracted.count() == 60
    assert extracted.filter(F.col("status") == "success").count() == 60
    q = spark.read.parquet(tmpdir_scratch + "/wout_warc_staged/quarantine.parquet")
    assert q.count() == 1 and q.collect()[0]["status"].startswith("malformed:framing")
    # resume probe through the staged, branded pages table: 0 reprocessed
    out2 = _submit(
        [
            "--input", tmpdir_scratch + "/wout_warc_staged/pages",
            "--output", tmpdir_scratch + "/wout",
            "--lineage", tmpdir_scratch + "/wlin",
            "--buckets", "4",
        ]
    )
    assert "committed 0 buckets" in out2


def test_spark_submit_export_job(spark, tmpdir_scratch):
    """Packaged training-shard export via the real spark-submit + zip
    artifact: summary line parses, manifest verifies against a fresh
    read of the written shards, budget is honored in expectation."""
    if not os.path.exists(_SPARK_SUBMIT):
        pytest.skip("spark-submit binary not found")
    subprocess.run(["bash", "scripts/package.sh"], cwd=ROOT, check=True)
    out = tmpdir_scratch + "/exported"
    r = subprocess.run(
        [
            _SPARK_SUBMIT, "--master", "local[4]",
            "--py-files", "dist/ocr_application_spark.zip",
            "jobs/export_job.py",
            "--input", "/root/testdata/sf0.001",
            "--output", out,
            "--shards", "4", "--seq-len", "256",
            "--token-budget", "15000",
        ],
        capture_output=True, text=True, cwd=ROOT, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    summary = json.loads(
        [l for l in r.stdout.splitlines() if l.startswith('{"n_docs_in"')][-1]
    )
    assert summary["n_docs_in"] == 500
    assert 15000 / 2 <= summary["n_tokens"] <= 15000 * 2
    with open(out + "/manifest.json") as fh:
        manifest = json.load(fh)
    assert len(manifest["shards"]) == 4
    from jobs.export_job import shard_manifest

    reread = shard_manifest(spark.read.parquet(out + "/shards"))
    assert reread == manifest["shards"]
