"""The benchmark's workloads: crawl extraction and CDC recrawl.

Every input is a pure function of the seed: the seed picks a block of ids
in the frozen per-id page generator ``datagen.webgen.gen_page``, and the
engine only ever sees the tables written from those pages. See
``perfbench/README.md`` for why each workload exists and how it is sized.

A run starts one Spark session, builds its inputs, runs WARMUP_ITERS
untimed iterations, then repeats timed iterations until ``seconds`` have
passed and reports medians. Untraced runs report the end-to-end metrics;
traced runs report the per-layer split (``trace_*`` functions).
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_application_spark.core.extraction_core import extract_document
from ocr_application_spark.datagen.webgen import INPUT_COLUMNS, gen_page
from ocr_application_spark.kernels.classify import classify
from ocr_application_spark.kernels.extract import extract
from ocr_application_spark.operators.cdc import cdc_chunks, cdc_store_ingest
from ocr_application_spark.pipeline import oversize_guard, run_to_table
from ocr_application_spark.sources.snapshots import read_snapshot, snapshot_versions
from ocr_application_spark.sources.webpages import (
    PAGES_SCHEMA,
    read_pages,
    with_bucket,
    write_pages,
)
from perfbench.probes import Tracer

N_BUCKETS = 64
ID_BLOCK = 1_000_000  # seed s owns webgen ids [s * ID_BLOCK, (s + 1) * ID_BLOCK)
WARMUP_ITERS = 2  # untimed iterations before timing (JIT and caches warm up)
MIN_ITERS = 2  # timed iterations per run, even past the deadline
MIN_ROUNDS = 3  # traced rounds per traced run, even past the deadline

CRAWL_PAGES = 16_000
DIGEST_BUCKETS = 3  # crawl buckets whose every url is checked (~750 urls)
DIGEST_SAMPLE = 500  # fewest crawl urls checked against the eager kernel
# recrawl workload: base docs; the increment re-sends every base doc
# (1 in EDIT_EVERY with a prefix edit) plus base/NEW_EVERY new docs
RECRAWL_BASE = 800
EDIT_EVERY = 8
NEW_EVERY = 4
EDIT_PREFIX = "revised: "


class CheckFailed(RuntimeError):
    """An output of the engine did not match what the benchmark expects."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


# --- inputs -------------------------------------------------------------------


def _page_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [gen_page(int(i)) for i in pdf["id"]]
        yield pd.DataFrame({c: [r[c] for r in rows] for c in INPUT_COLUMNS})


def gen_pages(spark: SparkSession, first_id: int, n: int) -> DataFrame:
    """webgen pages ``first_id .. first_id + n - 1``, generated inside Spark."""
    parts = 2 * spark.sparkContext.defaultParallelism
    return spark.range(first_id, first_id + n, numPartitions=parts).mapInPandas(
        _page_batches, schema=PAGES_SCHEMA
    )


def _noop(df: DataFrame) -> None:
    """Materialise every column of ``df`` without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


# --- crawl extraction -----------------------------------------------------------


class Crawl:
    """Crawl extraction through ``pipeline.run_to_table``."""

    idle_layers = ("cdc.", "snapshots.")  # per-layer metrics it reports as 0

    def __init__(self, spark: SparkSession, seed: int, run_dir: str):
        self.spark, self.seed, self.run_dir = spark, seed, run_dir
        self.n_pages = CRAWL_PAGES
        self.first_id = seed * ID_BLOCK
        self.pages_path = os.path.join(run_dir, "pages")
        self.iter_no = 0

    def build_input(self) -> None:
        df = gen_pages(self.spark, self.first_id, self.n_pages)
        write_pages(df, self.pages_path, n_buckets=N_BUCKETS)
        self.pages = read_pages(self.spark, self.pages_path)
        self.buckets_in = self.pages.select("bucket").distinct().count()

    def docs(self) -> int:
        return self.n_pages

    def _out(self) -> tuple[str, str, str]:
        self.iter_no += 1
        out = os.path.join(self.run_dir, f"out{self.iter_no}")
        return out, out + "_lineage", out + "_quarantine"

    def iterate(self, timed) -> tuple[str, int]:
        """One run_to_table call into a fresh output, then its checks.
        Returns the output to clean up and the rows quarantined."""
        out, lineage, quarantine = self._out()
        with timed():
            lin = run_to_table(
                self.pages, self.spark, out, lineage, n_buckets=N_BUCKETS, resume=False
            )
        return out, self.check_output(lin, out, quarantine)

    def check_output(self, lin: DataFrame, out: str, quarantine: str) -> int:
        """pages in = rows written + quarantined; lineage has one row per
        input bucket and its rows_in sum to the pages in."""
        written = self.spark.read.parquet(out).count()
        quarantined = (
            self.spark.read.parquet(quarantine).count() if os.path.exists(quarantine) else 0
        )
        row = lin.agg(
            F.count("*").alias("rows"),
            F.countDistinct("bucket").alias("buckets"),
            F.sum("rows_in").alias("rows_in"),
            F.sum("rows_out").alias("rows_out"),
        ).first()
        n = self.n_pages
        check(written + quarantined == n, f"written {written} + quarantined {quarantined} != {n} pages")
        check(row.rows == row.buckets == self.buckets_in,
              f"lineage has {row.rows} rows / {row.buckets} buckets, input has {self.buckets_in}")
        check(row.rows_in == n, f"lineage rows_in {row.rows_in} != {n} pages")
        check(row.rows_out == written, f"lineage rows_out {row.rows_out} != {written} written")
        return quarantined

    def check_digests(self, out: str) -> None:
        """On every url of DIGEST_BUCKETS seeded buckets the written digest
        equals the eager ``extract_document`` of the same input row (byte
        identity). Sampling whole buckets lets both scans read only those
        partitions."""
        buckets = random.Random(self.seed).sample(range(N_BUCKETS), DIGEST_BUCKETS)
        in_sample = F.col("bucket").isin(buckets)
        rows = self.pages.filter(in_sample).select("url", "html", "text").collect()
        got = dict(
            self.spark.read.parquet(out).filter(in_sample).select("url", "digest").collect()
        )
        check(len(rows) >= DIGEST_SAMPLE, f"digest sample has {len(rows)} urls")
        check(len(got) == len(rows), f"{len(got)} of {len(rows)} sampled urls written")
        for r in rows:
            want = extract_document(r.html, r.text)["digest"]
            check(got.get(r.url) == want, f"digest mismatch for {r.url}")

    def cleanup(self, out: str) -> None:
        for p in (out, out + "_lineage", out + "_quarantine"):
            shutil.rmtree(p, ignore_errors=True)

    # traced split ---------------------------------------------------------------

    def trace_round(self, tracer: Tracer, run_id: str) -> dict[str, float]:
        """Nested prefix actions of run_to_table, each a noop write, then
        run_to_table itself; differences of neighbours give self times."""
        pages = self.pages
        with tracer.span("crawl.round", run_id) as root:
            with tracer.span("sources.webpages.scan", run_id, root["id"]) as scan:
                _noop(pages.select(*INPUT_COLUMNS, "bucket"))
            with tracer.span("kernels.extract", run_id, root["id"]) as ext:
                _noop(extract(with_bucket(pages, N_BUCKETS)))
            with tracer.span("kernels.classify", run_id, root["id"]) as cls:
                _noop(classify(extract(with_bucket(pages, N_BUCKETS))))
            with tracer.span("pipeline.oversize_guard", run_id, root["id"]) as grd:
                _noop(oversize_guard(classify(extract(with_bucket(pages, N_BUCKETS)))))
            out, lineage, quarantine = self._out()
            with tracer.span("pipeline.run_to_table", run_id, root["id"]) as r2t:
                lin = run_to_table(
                    pages, self.spark, out, lineage, n_buckets=N_BUCKETS, resume=False
                )
        quarantined = self.check_output(lin, out, quarantine)
        lrow = lin.agg(F.count("*"), F.sum("rows_in")).first()
        st = r2t["stages"]
        m = {
            "webpages.scan_s": scan["wall_s"],
            "webpages.input_mb": _dir_bytes(self.pages_path) / 1e6,
            "extract.self_s": ext["wall_s"] - scan["wall_s"],
            "extract.python_cpu_s": ext["python_cpu_s"],
            "classify.self_s": cls["wall_s"] - ext["wall_s"],
            "pipeline.sink_s": r2t["wall_s"] - grd["wall_s"],
            "pipeline.shuffle_write_mb": st["shuffle_write_mb"],
            "pipeline.spill_mb": st["spill_memory_mb"] + st["spill_disk_mb"],
            "pipeline.out_bytes_per_in_byte": _dir_bytes(out) / _dir_bytes(self.pages_path),
            "pipeline.quarantined": quarantined,
            "lineage.buckets": lrow[0],
            "lineage.rows_in": lrow[1],
            "spark.executor_cpu_s": st["executor_cpu_s"],
            "spark.executor_run_s": st["executor_run_s"],
            "spark.gc_s": st["gc_s"],
            "spark.tasks": st["tasks"],
        }
        self.cleanup(out)
        return m

    def trace_once(self) -> dict[str, float]:
        """Kernel batch latencies from the ``batch_wall_ms`` column the
        extraction kernel emits (one value per Arrow batch)."""
        rows = (
            extract(with_bucket(self.pages, N_BUCKETS))
            .select(F.spark_partition_id().alias("p"), "batch_wall_ms")
            .distinct()
            .collect()
        )
        ms = [r.batch_wall_ms for r in rows]
        return {
            "extract.batch_ms_p50": _pct(ms, 0.50),
            "extract.batch_ms_p99": _pct(ms, 0.99),
            "extract.batches": len(ms),
        }


# --- CDC recrawl ------------------------------------------------------------------


class Recrawl:
    """The recrawl loop through ``operators.cdc.cdc_store_ingest``: each
    iteration ingests the base into a fresh, empty store (bootstrap), then
    ingests the increment (recrawl)."""

    idle_layers = ("webpages.", "extract.", "classify.", "pipeline.", "lineage.")

    def __init__(self, spark: SparkSession, seed: int, run_dir: str):
        self.spark, self.seed, self.run_dir = spark, seed, run_dir
        self.first_id = seed * ID_BLOCK
        self.n_base = RECRAWL_BASE
        self.n_new = RECRAWL_BASE // NEW_EVERY
        self.iter_no = 0
        self.report_digest = None

    def build_input(self) -> None:
        """Base and increment tables of (doc_id, text), built in the driver:
        text is the eager ``extract_document`` text of each webgen page
        (what the crawl writes, byte for byte), so a recrawl run starts no
        Python worker."""
        ids = range(self.first_id, self.first_id + self.n_base + self.n_new)
        texts = {}
        for i in ids:
            page = gen_page(i)
            texts[i] = extract_document(page["html"], page["text"])["extracted_text"]
        self.kinds = {
            i: "new" if i >= self.first_id + self.n_base
            else "edited" if zlib.crc32(b"%d" % i) % EDIT_EVERY == 0
            else "identical"
            for i in ids
        }
        base = [(i, texts[i]) for i in ids if self.kinds[i] != "new"]
        inc = [(i, EDIT_PREFIX + t if self.kinds[i] == "edited" else t) for i, t in texts.items()]
        tables = {}
        for name, rows in (("base", base), ("increment", inc)):
            path = os.path.join(self.run_dir, name)
            self.spark.createDataFrame(
                pd.DataFrame(rows, columns=["doc_id", "text"]), "doc_id long, text string"
            ).write.parquet(path)
            tables[name] = self.spark.read.parquet(path)
        self.base, self.inc = tables["base"], tables["increment"]
        check(self.base.count() == self.n_base, "base table size")
        check(self.inc.count() == len(self.kinds), "increment table size")
        self.text_bytes = {
            "bootstrap": sum(len(t.encode()) for _, t in base),
            "recrawl": sum(len(t.encode()) for _, t in inc),
        }

    def docs(self) -> int:
        return self.n_base + len(self.kinds)

    def _store(self) -> str:
        # a fresh path per iteration: see README.md for why the store is
        # neither rolled back nor copied between iterations
        self.iter_no += 1
        return os.path.join(self.run_dir, f"store{self.iter_no}")

    def _ingest(self, store: str, docs: DataFrame) -> list:
        report, _ = cdc_store_ingest(self.spark, store, docs)
        return report.collect()  # materialises the whole report

    def iterate(self, timed) -> tuple[str, int]:
        store = self._store()
        with timed():
            boot = self._ingest(store, self.base)
        with timed():
            rec = self._ingest(store, self.inc)
        self.check_reports(boot, rec)
        return store, 0

    def check_reports(self, boot: list, rec: list) -> None:
        """Per doc n_known + n_dup_increment + n_novel = n_chunks; every
        byte-identical doc saves everything; the recrawl report is the
        same in every iteration."""
        for phase, rows, n in (("bootstrap", boot, self.n_base), ("recrawl", rec, len(self.kinds))):
            check(len(rows) == n, f"{phase} report has {len(rows)} docs, expected {n}")
            for r in rows:
                check(r.n_known + r.n_dup_increment + r.n_novel == r.n_chunks,
                      f"{phase} doc {r.doc_id}: verdicts do not sum to n_chunks")
        check(all(r.n_known == 0 for r in boot), "bootstrap into an empty store found known chunks")
        for r in rec:
            if self.kinds[r.doc_id] == "identical":
                check(r.saved_bp == 10000, f"identical doc {r.doc_id} saved_bp {r.saved_bp}")
        digest = hashlib.sha256(repr(sorted(tuple(r) for r in rec)).encode()).hexdigest()
        check(self.report_digest in (None, digest), "recrawl report differs between iterations")
        self.report_digest = digest

    def cleanup(self, store: str) -> None:
        shutil.rmtree(store, ignore_errors=True)

    def check_digests(self, out: str) -> None:
        """Byte identity is a crawl-extraction rule; nothing to check."""

    # traced split ---------------------------------------------------------------

    def trace_round(self, tracer: Tracer, run_id: str) -> dict[str, float]:
        store = self._store()
        m: dict[str, float] = {}
        engine = dict.fromkeys(("executor_cpu_s", "executor_run_s", "gc_s", "tasks"), 0.0)
        rows = {}
        with tracer.span("recrawl.round", run_id) as root:
            for phase, docs in (("bootstrap", self.base), ("recrawl", self.inc)):
                with tracer.span(f"cdc.{phase}.chunk", run_id, root["id"]) as ch:
                    _noop(cdc_chunks(docs))
                read_s = 0.0
                if snapshot_versions(store):  # the bootstrap store is empty
                    with tracer.span(f"snapshots.{phase}.read", run_id, root["id"]) as rd:
                        _noop(read_snapshot(self.spark, store).select("chunk_hash"))
                    read_s = rd["wall_s"]
                data_before = _dir_bytes(store)
                with tracer.span(f"cdc.{phase}.ingest", run_id, root["id"]) as ing:
                    rows[phase] = self._ingest(store, docs)
                store_bytes = _dir_bytes(store)
                n_chunks = sum(r.n_chunks for r in rows[phase])
                n_known = sum(r.n_known for r in rows[phase])
                text_bytes = self.text_bytes["bootstrap"] + (
                    self.text_bytes["recrawl"] if phase == "recrawl" else 0
                )
                m.update({
                    f"cdc.{phase}.chunk_s": ch["wall_s"],
                    f"cdc.{phase}.chunks": n_chunks,
                    f"cdc.{phase}.ingest_self_s": ing["wall_s"] - ch["wall_s"] - read_s,
                    f"cdc.{phase}.known_frac": n_known / n_chunks,
                    f"cdc.{phase}.shuffle_write_mb": ing["stages"]["shuffle_write_mb"],
                    f"cdc.{phase}.docs_per_s": len(rows[phase]) / ing["wall_s"],
                    f"snapshots.{phase}.read_s": read_s,
                    f"snapshots.{phase}.commit_mb": (store_bytes - data_before) / 1e6,
                    f"snapshots.{phase}.store_bytes_per_text_byte": store_bytes / text_bytes,
                })
                for k in engine:
                    engine[k] += ing["stages"][k]
        self.check_reports(rows["bootstrap"], rows["recrawl"])
        m.update({f"spark.{k}": v for k, v in engine.items()})
        self.cleanup(store)
        return m

    def trace_once(self) -> dict[str, float]:
        return {}


WORKLOADS = {"crawl_small": Crawl, "recrawl_cdc": Recrawl}
