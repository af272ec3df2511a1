"""One-scale-step-up soak (VERDICT r03 #7): sf1 = 480k docs, 10x the
per-round bench's sf0.1 corpus, on local[32].

Every scale claim so far extrapolates from sf0.1 (48k extraction docs /
5k documents-table rows); this runs the two production jobs once at a
real 10x point and publishes per-stage numbers so the designs (posting
caps, array-side winnowing, broadcast verdict joins) are validated — or
the next cliff is found cheaply.

Stages:
  1. extraction: synth_pages(480k) written to parquet, then the
     extract_pages kernel (the bench headline path, same coalesce-to-
     cores measurement hygiene), median of 3 timed reps.
  2. curation: the sanctioned sf0.1 documents table deterministically
     replicated 100x (500k rows — rationale at the stage-2 comment)
     pushed through jobs/curate_job.curate() with the DEFAULT_GATES
     funnel + the lm perplexity gate — per-stage wall time and the
     rows_in/rows_out funnel.

Prints one JSON line per stage and writes BENCH/soak_sf1.json; PERF.md
summarizes. Run on an idle box:
python scripts/soak_sf1.py [n_docs] [doc_reps].
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _jvm_heap_mb(spark) -> int:
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return int((rt.totalMemory() - rt.freeMemory()) / (1024 * 1024))


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 480_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from jobs.curate_job import curate
    from ocr_application_spark.pipeline import extract_pages
    from ocr_application_spark.session import get_spark
    from ocr_application_spark.sources.webpages import default_scratch, synth_pages
    from soak_sf10 import write_replicated_documents

    spark = get_spark(
        "soak-sf1",
        cores=cpus,
        shuffle_partitions=max(32, cpus),
        extra_conf={"spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024)},
    )
    base = os.path.join(default_scratch(), "soak_sf1")
    shutil.rmtree(base, ignore_errors=True)
    results: list[dict] = []

    def emit(row: dict) -> None:
        results.append(row)
        print(json.dumps(row), flush=True)

    # ---- stage 1: extraction at 480k ------------------------------------
    pages_path = os.path.join(base, "pages")
    t0 = time.monotonic()
    synth_pages(spark, n_docs, slices=max(256, 8 * cpus)).write.parquet(pages_path)
    gen_secs = time.monotonic() - t0
    emit({"stage": "synth_pages", "n_docs": n_docs, "secs": round(gen_secs, 2)})

    from bench import extract_tasks

    pages = spark.read.parquet(pages_path).coalesce(extract_tasks(n_docs, cpus))
    job = extract_pages(pages).filter(F.col("status") == "success")
    job.count()  # warm python workers
    trials = []
    for _ in range(3):
        t0 = time.monotonic()
        n_out = job.count()
        trials.append(time.monotonic() - t0)
    secs = sorted(trials)[1]
    emit(
        {
            "stage": "extract_pipeline",
            "n_docs": n_docs,
            "rows_out": n_out,
            "secs": round(secs, 2),
            "trials": [round(t, 2) for t in trials],
            "docs_per_sec": round(n_out / secs, 1),
            "jvm_heap_mb": _jvm_heap_mb(spark),
        }
    )

    # ---- stage 2: documents corpus at 100x sf0.1 -------------------------
    # The curation gates are calibrated against the driver's documents
    # text shape (stopword mix, length distribution) — our webgen pages
    # are extraction-shaped, not curation-shaped (measured: the clean
    # gate kills 99.6% of them, leaving later gates nothing to chew on).
    # So the soak corpus is the sanctioned sf0.1 documents table
    # replicated 100x = 500k rows (the soak_sf10 recipe).
    docs_dir = os.path.join(base, "docs")
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    t0 = time.monotonic()
    write_replicated_documents(
        spark, reps, max(32, cpus), os.path.join(docs_dir, "documents.parquet")
    )
    emit(
        {
            "stage": "documents_materialize",
            "secs": round(time.monotonic() - t0, 2),
            "rows": spark.read.parquet(
                os.path.join(docs_dir, "documents.parquet")
            ).count(),
        }
    )

    # ---- stage 3: the curation funnel ------------------------------------
    t0 = time.monotonic()
    out_df, metrics = curate(
        spark, docs_dir, gates=("clean", "repetition", "rank", "lm")
    )
    plan_secs = time.monotonic() - t0
    t0 = time.monotonic()
    out_path = os.path.join(base, "curated")
    out_df.write.partitionBy("split").parquet(out_path)
    write_secs = time.monotonic() - t0
    n_cur = spark.read.parquet(out_path).count()
    emit(
        {
            "stage": "curate_funnel",
            "gates_secs": round(plan_secs, 2),
            "write_secs": round(write_secs, 2),
            "rows_out": n_cur,
            "funnel": metrics,
            "jvm_heap_mb": _jvm_heap_mb(spark),
        }
    )

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "soak_sf1.json"), "w") as fh:
        json.dump({"n_docs": n_docs, "cpus": cpus, "stages": results}, fh, indent=1)
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
