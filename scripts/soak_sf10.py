"""Scale soak of the corpus-shaped operators (VERDICT r04 #8).

Corpus: the standard soak recipe (sf0.1 documents replicated ``reps``x
with deterministic perturbation — no external data, no RNG). reps=1000
-> ~4.8M docs / ~6.5 GB text (sf10, one decade above the sf1 soak);
reps=100 is the sf1 run of PERF.md §7b. Embedding ops are excluded: the
embeddings table is fixed at 500 vectors regardless of SF.
Ops: ``page_markdown`` (20-rule regexp chain — scan-bound),
``text_window_chunks`` (array-side windows — only real windows become
rows), ``dedup_cdc_chunks`` (per-position gram hashing — scan-shaped;
replication multiplies the doc count, not the doc length, so this
checks linearity in corpus size only; per-doc cost against length is
the PERF.md §7c doc-length table), ``split_leakage_report`` (~1B-gram
hash join — claims uniform-key linear), and the chunk-store bootstrap + ALL-DUP replay
(claims O(increment) verdict work; the store probe scans the store's
chunk_hash column once per ingest). Shuffle partitions grow 4x per
decade of ``reps`` above 100 (32 at reps=100, 128 at reps=1000) — the
knob a real cluster would turn.

Prints wall time + volume per stage; only the sf10 run (reps=1000)
writes them to BENCH/soak_sf10.json. The pass criterion is zero
OOM/retry and time ratios vs the sf1 soak near 10x (knee found =
finding, not failure — document it in PERF.md).

Run on an idle box: python scripts/soak_sf10.py [reps]
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SF10_REPS = 1000


def write_replicated_documents(spark, reps: int, partitions: int, path: str) -> None:
    """The soak corpus at ``path``: sf0.1 documents ``reps``x, doc_id
    re-keyed collision-free and ' r<rep>' appended so texts stay distinct."""
    from pyspark.sql import functions as F

    sf01 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    rep_dim = spark.range(reps).withColumnRenamed("id", "rep")
    text2 = F.concat(F.col("text"), F.lit(" r"), F.col("rep").cast("string"))
    (
        sf01.crossJoin(F.broadcast(rep_dim))
        .select(
            (F.col("doc_id") * reps + F.col("rep")).alias("doc_id"),
            text2.alias("text"),
            "lang",
            "source",
            F.length(text2).alias("n_chars"),
        )
        .repartition(partitions)
        .write.parquet(path)
    )


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else SF10_REPS
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    decades = max(0, round(math.log10(reps / 100)))
    partitions = max(32 * 4**decades, cpus)

    from pyspark.sql import functions as F

    from ocr_application_spark.session import get_spark
    from ocr_application_spark.sources.webpages import default_scratch

    spark = get_spark(
        "soak-sf10",
        cores=cpus,
        shuffle_partitions=partitions,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024)},
    )
    base = os.path.join(default_scratch(), "soak_sf10")
    shutil.rmtree(base, ignore_errors=True)
    results: list[dict] = []

    def emit(row: dict) -> None:
        results.append(row)
        print(json.dumps(row), flush=True)

    docs_dir = os.path.join(base, "docs")
    t0 = time.monotonic()
    write_replicated_documents(
        spark, reps, partitions, os.path.join(docs_dir, "documents.parquet")
    )
    n_rows = spark.read.parquet(os.path.join(docs_dir, "documents.parquet")).count()
    emit({"stage": "documents_materialize", "rows": n_rows,
          "secs": round(time.monotonic() - t0, 2)})

    def run(stage: str, df) -> None:
        # noop WRITE, not count() — the §7b measurement trap
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        secs = time.monotonic() - t0
        n = df.count()
        emit({"stage": stage, "rows_out": n, "secs": round(secs, 2),
              "rows_per_sec": round(n / max(secs, 1e-9), 1)})

    from ocr_application_spark.operators.cdc import cdc_store_ingest, dedup_cdc_chunks
    from ocr_application_spark.operators.curation import (
        split_leakage_report,
        text_window_chunks,
    )
    from ocr_application_spark.operators.markdown import page_markdown

    run("page_markdown", page_markdown(spark, docs_dir))
    run("text_window_chunks", text_window_chunks(spark, docs_dir))
    run("dedup_cdc_chunks", dedup_cdc_chunks(spark, docs_dir))
    run("split_leakage_report", split_leakage_report(spark, docs_dir))

    # chunk store: bootstrap + ALL-DUP replay
    store = os.path.join(base, "chunkstore")
    docs = spark.read.parquet(os.path.join(docs_dir, "documents.parquet"))
    t0 = time.monotonic()
    report, _v = cdc_store_ingest(spark, store, docs, op_label="sf10-bootstrap")
    n = report.count()
    emit({"stage": "cdc_store_bootstrap", "rows_out": n,
          "secs": round(time.monotonic() - t0, 2)})
    t0 = time.monotonic()
    report2, _v2 = cdc_store_ingest(spark, store, docs, op_label="sf10-replay")
    novel = report2.agg(F.sum("n_novel")).collect()[0][0]
    emit({"stage": "cdc_store_replay", "novel_chunks": int(novel or 0),
          "secs": round(time.monotonic() - t0, 2)})

    if reps == SF10_REPS:
        out = os.path.join(REPO, "BENCH", "soak_sf10.json")
        with open(out, "w") as fh:
            json.dump({"reps": reps, "cpus": cpus, "stages": results}, fh, indent=1)
        print(f"wrote {out}", flush=True)
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
