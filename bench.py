"""Benchmark entry point (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall seconds across headline queries, measured
warm: every query runs once untimed first (first-scan codec/JIT init
costs ~7s per table per session and is not a property of the plan),
then once timed. Extraction throughput is measured the way the job
runs in production — scan of a pre-written pages table -> kernel ->
count — reported via the extra ``extraction_docs_per_sec`` key.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

#: extraction task sizing: docs per task at the measured throughput
#: knee. One task wave (coalesce(cpus)) is fastest ONLY while per-task
#: docs stay near this budget — at 48k docs / 32 cores (1.5k docs/task)
#: one wave measured ~1.6x faster than natural splits (dispatch
#: overhead amortization, PERF.md §3), but at 480k docs the same
#: coalesce(32) puts 15k docs in each task and throughput COLLAPSES
#: 12.7k docs/sec vs 83.9k at ~1.9k docs/task (sf1 soak, PERF.md §7:
#: monotonic across 32/64/96/128/256 tasks). So: never fewer tasks than
#: cores, roughly _TASK_DOC_BUDGET docs per task above that.
_TASK_DOC_BUDGET = 1500


#: Registered queries the headline leaves out; every other registered
#: query is timed, so a new operator joins the headline by default.
#: None of these has ever been in the headline, and keeping them out
#: keeps ``common_delta_pct`` comparable across BENCH/history.jsonl.
#: Times: sf0.1, local[4], median of 3 after a warm-up.
_UNTIMED = (
    "w5_sweep_merge",  # 169 s per-doc pandas fold; would dwarf the other 145
    "emb_neardup_components",  # 9.3 s; its pair stage is timed as emb_neardup_pairs
    "dedup_components_star",  # 6.6 s; same clusters as the timed dedup_components
    "ann_ivf_topk",  # rows-only twin of the timed ann_ivf_exhaustive
    "multimodal_features",  # stand-in decode; the other multimodal_* ops are timed
    "text_token_stats",  # one length-arithmetic scan of documents
    "f_record_filters",  # reference F1-F5 predicate chain over the regions fixture
    "f6_field_keywords",  # reference F6 keyword filter over part
    "f7_table_size_filter",  # reference F7 arithmetic filter over the tables fixture
    "w3_topk_area",  # reference W3 top-k over the regions fixture
    "w4_top1_argmax",  # reference W4 array argmax over embeddings
    "a1_a2_tarification_totals",  # reference A1/A2 sums over lineitem
    "a3_mean_nonzero",  # reference A3 mean over lineitem
    "a4_monthly_sums",  # reference A4 monthly sums over events
    "a5_corpus_counts",  # reference A5 counters over documents
    "a6_doc_bbox",  # reference A6 per-doc bbox over the regions fixture
)


def extract_tasks(n_docs: int, cpus: int) -> int:
    """Task count for the extraction stage: full parallelism, capped
    per-task doc count (see _TASK_DOC_BUDGET)."""
    waves = max(1, round(n_docs / _TASK_DOC_BUDGET / cpus))
    return cpus * waves


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    except ValueError:  # e.g. SPARK_GRAFT_CPUS='*'
        cpus = os.cpu_count() or 8
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = 0.1
    n_docs = max(2000, int(480_000 * sf_num))  # sf0.1 -> 48k pages

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from ocr_application_spark.pipeline import extract_pages
    from ocr_application_spark.session import get_spark
    from ocr_application_spark.sources.webpages import synth_pages

    spark = get_spark(
        "bench",
        cores=cpus,
        shuffle_partitions=max(8, cpus),
        extra_conf={"spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024)},
    )

    # --- extraction input: pre-written table, like production ------------
    from ocr_application_spark.sources.webpages import default_scratch

    pages_path = os.path.join(default_scratch(), "bench_pages")
    shutil.rmtree(pages_path, ignore_errors=True)
    try:
        synth_pages(spark, n_docs, slices=max(64, 4 * cpus)).write.parquet(pages_path)
        # task count = full parallelism at ~_TASK_DOC_BUDGET docs/task.
        # At the default sf0.1 this is exactly one wave (the r03
        # measurement: waves of sub-1.5k-doc tasks eat ~12 ms JVM->python
        # dispatch each and measured ~40% slower), but one wave is NOT a
        # scale tactic — the sf1 soak measured coalesce(cpus) collapsing
        # 7x once tasks carry 15k docs (PERF.md §7), so the budget caps
        # per-task size instead of pinning one wave.
        pages = spark.read.parquet(pages_path).coalesce(extract_tasks(n_docs, cpus))
        extract_job = extract_pages(pages).filter(F.col("status") == "success")
        extract_job.count()  # warm (spawn python workers, JIT scan paths)

        timings: dict[str, float] = {}
        extract_trials = []
        for _ in range(3):
            t0 = time.monotonic()
            n_out = extract_job.count()
            extract_trials.append(time.monotonic() - t0)
        extract_secs = sorted(extract_trials)[1]  # median, same rationale as below
        timings["extract_pipeline"] = round(extract_secs, 3)
        docs_per_sec = round(n_out / extract_secs, 1)

        # --- headline relational / dedup / similarity queries -----------------
        queries = entrymod.queries()
        headline = [n for n in queries if n not in _UNTIMED]

        def run(name: str) -> None:
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

        for name in headline:  # warm pass: JIT + table/footer/codec init
            run(name)
        # median of 3 timed runs per query: the sandbox VM shows ~2x run-to-run
        # noise, single-shot timings are a lottery
        for name in headline:
            trials = []
            for _ in range(3):
                t0 = time.monotonic()
                run(name)
                trials.append(time.monotonic() - t0)
            timings[name] = round(sorted(trials)[1], 3)

        total = round(sum(timings.values()), 3)
        # The printed line must stay SMALL (<~1.5 KB): the driver keeps only
        # the last ~2.2 KB of stdout, and r03's 107-query map on this line
        # made BENCH_r03.json unparseable (VERDICT r03 #3). Summary keys on
        # the line; the per-query map goes to BENCH/last_run.json.
        summary = {
            "metric": "total_headline_seconds",
            "value": total,
            "unit": "sec",
            "sf": sf_num,
            "cpus": cpus,
            "n_queries": len(timings),
            "extraction_docs_per_sec": docs_per_sec,
            "extraction_corpus_docs": n_out,
        }
        bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
        os.makedirs(bench_dir, exist_ok=True)
        # --- regression canary (VERDICT r04 #7): compare this run's
        # common-query total against the PREVIOUS run's (history.jsonl,
        # one line per run), so a uniform environmental drift — or a
        # real regression — is visible from the one-line JSON instead
        # of a by-hand diff of two round artifacts.
        hist_path = os.path.join(bench_dir, "history.jsonl")
        prev = None
        if os.path.exists(hist_path):
            try:
                with open(hist_path) as f:
                    lines = [ln for ln in f.read().splitlines() if ln.strip()]
                # compare against the most recent run at the SAME sf and
                # core count — a cross-config diff (sf0.01 vs sf0.1 runs
                # in one history) would report a massive bogus delta or
                # mask a real one
                for ln in reversed(lines):
                    cand = json.loads(ln)
                    if cand.get("sf") == sf_num and cand.get("cpus") == cpus:
                        prev = cand
                        break
            except (OSError, ValueError):
                prev = None
        slowest10 = {}
        if prev and prev.get("queries"):
            pq = prev["queries"]
            common = [n for n in timings if n in pq]
            cur_tot = sum(timings[n] for n in common)
            prev_tot = sum(pq[n] for n in common)
            if prev_tot > 0:
                summary["common_delta_pct"] = round(
                    100.0 * (cur_tot - prev_tot) / prev_tot, 1
                )
                summary["n_common"] = len(common)
            for n in sorted(common, key=lambda n: -timings[n])[:10]:
                slowest10[n] = {
                    "cur": timings[n],
                    "prev": pq[n],
                    "delta_pct": round(
                        100.0 * (timings[n] - pq[n]) / pq[n], 1
                    ) if pq[n] > 0 else None,
                }
        detail_path = os.path.join(bench_dir, "last_run.json")
        with open(detail_path, "w") as f:
            json.dump(
                {**summary, "queries": timings, "slowest10_vs_prev": slowest10},
                f, indent=1, sort_keys=True,
            )
        with open(hist_path, "a") as f:
            f.write(json.dumps({**summary, "queries": timings}, sort_keys=True) + "\n")
        print(json.dumps(summary))
    finally:
        # a failing query must not leave the 48k-page scratch tree behind
        shutil.rmtree(pages_path, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
