"""Scale-step soak for the round-4 second-wave operators.

scripts/soak_sf1.py validated extraction + the curation funnel at 10x;
this runs the NEW corpus-shaped operators (CDC chunking, chunk-store
ingest, sliding windows, markdown conversion, cross-split leakage) once
at the same 10x documents corpus (sf0.1 replicated ``reps``x with the
soak's deterministic perturbation — same recipe, no external data, no
RNG), publishing wall time + output volume per op so the scale designs
(array-side chunking, hash-keyed sharing, O(increment) store probes,
gram-keyed leakage joins) are validated one decade up — or the cliff is
found cheaply. Embedding ops are excluded: the embeddings table is
fixed at 500 vectors regardless of SF, so document replication cannot
scale them.

Run on an idle box: python scripts/soak_new_ops.py [reps]
Writes BENCH/soak_new_ops.json; PERF.md summarizes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from ocr_application_spark.session import get_spark
    from ocr_application_spark.sources.webpages import default_scratch

    spark = get_spark(
        "soak-new-ops",
        cores=cpus,
        shuffle_partitions=max(32, cpus),
        extra_conf={"spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024)},
    )
    base = os.path.join(default_scratch(), "soak_new_ops")
    shutil.rmtree(base, ignore_errors=True)
    results: list[dict] = []

    def emit(row: dict) -> None:
        results.append(row)
        print(json.dumps(row), flush=True)

    docs_dir = os.path.join(base, "docs")
    t0 = time.monotonic()
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
        .repartition(max(32, cpus))
        .write.parquet(os.path.join(docs_dir, "documents.parquet"))
    )
    n_rows = spark.read.parquet(os.path.join(docs_dir, "documents.parquet")).count()
    emit({"stage": "documents_materialize", "rows": n_rows,
          "secs": round(time.monotonic() - t0, 2)})

    def run(stage: str, df) -> None:
        # noop write, NOT count(): count() lets Catalyst prune every
        # projected column, so a pure-projection op (markdown) would
        # "finish" without computing anything (measured: 0.22s fake vs
        # the real cost). The untimed count afterward reports volume.
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        secs = time.monotonic() - t0
        n = df.count()
        emit({"stage": stage, "rows_out": n, "secs": round(secs, 2),
              "rows_per_sec": round(n / max(secs, 1e-9), 1)})

    from ocr_application_spark.operators.cdc import (
        cdc_store_ingest,
        dedup_cdc_chunks,
    )
    from ocr_application_spark.operators.curation import (
        split_leakage_report,
        text_window_chunks,
    )
    from ocr_application_spark.operators.markdown import page_markdown

    run("page_markdown", page_markdown(spark, docs_dir))
    run("text_window_chunks", text_window_chunks(spark, docs_dir))
    run("dedup_cdc_chunks", dedup_cdc_chunks(spark, docs_dir))
    run("split_leakage_report", split_leakage_report(spark, docs_dir))

    store = os.path.join(base, "chunkstore")
    docs = spark.read.parquet(os.path.join(docs_dir, "documents.parquet"))
    t0 = time.monotonic()
    report, _v = cdc_store_ingest(spark, store, docs, op_label="soak-bootstrap")
    n = report.count()
    emit({"stage": "cdc_store_bootstrap", "rows_out": n,
          "secs": round(time.monotonic() - t0, 2)})
    # replay: the O(increment) probe against the now-populated store —
    # must find everything known and append nothing
    t0 = time.monotonic()
    report2, _v2 = cdc_store_ingest(spark, store, docs, op_label="soak-replay")
    novel = report2.agg(F.sum("n_novel")).collect()[0][0]
    emit({"stage": "cdc_store_replay", "novel_chunks": int(novel or 0),
          "secs": round(time.monotonic() - t0, 2)})

    out = os.path.join(REPO, "BENCH", "soak_new_ops.json")
    with open(out, "w") as fh:
        json.dump({"reps": reps, "cpus": cpus, "stages": results}, fh, indent=1)
    print(f"wrote {out}", flush=True)
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
