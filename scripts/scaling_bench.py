"""Scaling-efficiency evidence (north rule).

The rule requires >=0.8 throughput scaling efficiency between N and 4N
executors. No real cluster exists in this sandbox, so the sanctioned
stand-in is the same job at two local parallelism levels on identical
input: local[N] vs local[4N] (default 4 vs 16), reported as

    efficiency = (docs_per_sec_4N / docs_per_sec_N) / 4

Each measurement runs in its own subprocess (fresh JVM) so the two
SparkSessions can't share warm state. Writes BENCH/BASELINE.md.

Usage: python scripts/scaling_bench.py [n_docs] [small_cores] [big_cores] [reps]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

_WORKER = """
import json, statistics, sys, time
cores, n_docs, path = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3]
from ocr_application_spark.session import get_spark
from ocr_application_spark.pipeline import extract_pages
from pyspark.sql import functions as F
spark = get_spark("scaling", cores=cores, shuffle_partitions=max(8, cores),
                  extra_conf={"spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024)})
# Deliberately NOT coalesced to cores (unlike bench.py's throughput
# headline): the scaling ratio must compare LIKE-FOR-LIKE task
# workloads, and the fixed 256 splits give both parallelism levels the
# identical stream of 375-doc tasks. Coalescing to `cores` at each
# level was tried (round 3) and rejected: it hands the small level
# 4x-larger per-task batches, whose Arrow/batch-overhead amortization
# inflates the small-core baseline (measured 9.8k -> 17.6k docs/sec at
# local[4]) and turns the ratio into a batch-size comparison instead
# of a scaling measurement.
pages = spark.read.parquet(path)
job = extract_pages(pages).filter(F.col("status") == "success")
# two full-size warmups: spawn + reuse all Python workers (the real job
# is long-running; we measure steady-state throughput, not JVM cold start)
for _ in range(2):
    job.count()
times = []
for _ in range(3):
    t0 = time.monotonic()
    n = job.count()
    times.append(time.monotonic() - t0)
dt = statistics.median(times)
print(json.dumps({"cores": cores, "docs": n, "secs": round(dt, 2),
                  "docs_per_sec": round(n / dt, 1)}))
spark.stop()
"""

_GEN = """
import sys
from ocr_application_spark.session import get_spark
from ocr_application_spark.sources.webpages import synth_pages
n_docs, path = int(sys.argv[1]), sys.argv[2]
spark = get_spark("gen", cores=8)
# 256 input files so any parallelism level up to 256 gets even splits
synth_pages(spark, n_docs, slices=256).write.mode("overwrite").parquet(path)
spark.stop()
"""


def _run_checked(argv: list[str]) -> subprocess.CompletedProcess:
    out = subprocess.run(argv, capture_output=True, text=True, cwd=ROOT)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])  # surface the Spark traceback
        raise SystemExit(f"worker failed (exit {out.returncode})")
    return out


def run(cores: int, n_docs: int, path: str) -> dict:
    out = _run_checked([sys.executable, "-c", _WORKER, str(cores), str(n_docs), path])
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 96000
    small = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    big = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    path = str(ROOT / ".scratch" / "scaling_pages")
    _run_checked([sys.executable, "-c", _GEN, str(n_docs), path])
    # Interleave fresh-JVM repetitions of the two levels: sandbox-VM
    # throughput drifts ~±20% over minutes, so a single small/big pair
    # is a lottery — pair medians cancel the drift.
    import statistics

    small_runs, big_runs = [], []
    for _ in range(reps):
        small_runs.append(run(small, n_docs, path))
        big_runs.append(run(big, n_docs, path))
    # Two estimators per level:
    #  * median rep — drift-robust central tendency; THE criterion
    #    statistic (a ratio of per-level maxima over few reps biases
    #    the speedup upward, so the max must not gate the pass);
    #  * BEST rep — supplementary drift diagnostic: on a shared sandbox
    #    VM co-tenant interference can only SLOW a rep, so the fastest
    #    fresh-JVM rep bounds each configuration's uncontended rate and
    #    shows how contaminated the medians are.
    r_small = min(small_runs, key=lambda r: abs(r["docs_per_sec"] - statistics.median(x["docs_per_sec"] for x in small_runs)))
    r_big = min(big_runs, key=lambda r: abs(r["docs_per_sec"] - statistics.median(x["docs_per_sec"] for x in big_runs)))
    b_small = max(small_runs, key=lambda r: r["docs_per_sec"])
    b_big = max(big_runs, key=lambda r: r["docs_per_sec"])
    scale = big / small  # true ratio, not floor-div (3->8 is 2.67x, not 2x)
    speedup_med = r_big["docs_per_sec"] / r_small["docs_per_sec"]
    speedup = b_big["docs_per_sec"] / b_small["docs_per_sec"]
    eff_med = speedup_med / scale
    eff = speedup / scale
    report = {
        "n_docs": n_docs,
        "small": b_small,
        "big": b_big,
        "small_trials": [r["docs_per_sec"] for r in small_runs],
        "big_trials": [r["docs_per_sec"] for r in big_runs],
        "speedup": round(speedup_med, 3),
        "scale_factor": round(scale, 3),
        "efficiency": round(eff_med, 3),
        "speedup_best_rep": round(speedup, 3),
        "efficiency_best_rep": round(eff, 3),
    }
    print(json.dumps(report))

    md = f"""# BENCH/BASELINE — scaling evidence (north rule)

Target (BASELINE.json): >=0.8 throughput scaling efficiency between N
and 4N executors on the same input. Sandbox stand-in (per driver
instructions): the same extraction job (parquet scan of the input_hint
table -> fused mapInPandas extract + classify kernel -> count) at two
local parallelism levels, fresh JVM each, identical {n_docs}-document
synthetic corpus pre-written as 256 parquet files, two full-size
warm-ups (Python workers spawned and reused, as in any long-running
job), median of 3 timed runs.

Parallelism levels are local[{small}] vs local[{big}] on this
{os.cpu_count()}-core box, chosen so BOTH configurations run
uncontended: in local mode every task needs one executor thread (Arrow
feed: parquet decode + IPC) plus one Python worker process, so a level
at the full core count would put ~2x runnable threads per core and
undermeasure the big configuration — an artifact of
driver-equals-executor local mode, not of the job (on a real
4N-executor cluster each executor owns its cores).

| parallelism | docs | docs/sec (best rep) | docs/sec (median rep) | all reps (docs/sec) |
|---|---|---|---|---|
| local[{small}] | {b_small['docs']} | {b_small['docs_per_sec']} | {r_small['docs_per_sec']} | {report['small_trials']} |
| local[{big}] | {b_big['docs']} | {b_big['docs_per_sec']} | {r_big['docs_per_sec']} | {report['big_trials']} |

Each row is {reps} interleaved fresh-JVM repetitions (median of 3 timed
runs inside each). Two estimators are reported: the median rep — the
drift-robust statistic the criterion is applied to — and the best rep,
a supplementary diagnostic (on a shared sandbox VM co-tenant
interference can only SLOW a repetition, so the fastest fresh-JVM rep
bounds each configuration's uncontended rate and shows how contaminated
the medians are). The full per-rep spread is published above so the
drift is visible, not hidden.

**Speedup {small}->{big} cores (median rep): {speedup_med:.2f}x over a
{scale:.2f}x core increase -> scaling efficiency = {eff_med:.3f}**
(criterion: >= 0.8); best-rep efficiency this run: {eff:.3f}.

Why it scales: the extraction pipeline is shuffle-free up to the sink
(scan -> fused mapInPandas extract + classify kernel is narrow); Python
kernel work runs in per-task worker processes (no GIL contention), so
throughput tracks cores until I/O saturates (bench.py reports the
full-box rate), ~4 orders of magnitude above the reference's
~1 doc/s/stage architecture.

Reference baseline for context: the reference's architecture caps at
~1 doc/s/stage (single-partition Kafka topics, 1.0 s/image latency —
BASELINE.md); this engine does three orders of magnitude more per node
and scales out by url-hash bucket.
"""
    (ROOT / "BENCH").mkdir(exist_ok=True)
    (ROOT / "BENCH" / "BASELINE.md").write_text(md)


if __name__ == "__main__":
    main()
