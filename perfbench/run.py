"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the workload's inputs from the
seed, runs untimed warm-up iterations, repeats timed iterations for ``S``
seconds, checks the engine's outputs, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the ``end_to_end`` metrics of ``BENCHMARK.json``, ``--trace 1`` its
``per_layer`` metrics (and writes the spans to ``.perfbench/traces/``).
Everything it writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"


def _environment(run_dir: Path) -> None:
    """Keep Spark, the JVM and Python temp files inside the run directory
    and let Python workers import the engine and this benchmark from any
    working directory."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # both JVMs spark-submit starts (launcher and driver) keep their temp
    # and perf-data files out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the inputs are tens of MB: a small heap keeps the JVM's resident set
    # (peak_rss_mb) from drifting with garbage-collector heap growth
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")


def _start_spark(run_dir: Path):
    from ocr_application_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={"spark.sql.warehouse.dir": str(run_dir / "warehouse")},
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the Python
    workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Timed:
    """Sums wall time, and with a ``ProcTree`` its CPU time, over every
    ``with timed():`` block: a workload wraps each engine call it times
    in one iteration."""

    def __init__(self, tree=None):
        self.tree, self.wall, self.cpu = tree, 0.0, 0.0

    @contextlib.contextmanager
    def __call__(self):
        cpu0 = self.tree.read()["cpu_s"] if self.tree else 0.0
        t0 = time.perf_counter()
        yield
        self.wall += time.perf_counter() - t0
        if self.tree:
            self.cpu += self.tree.read()["cpu_s"] - cpu0


def measure(wl, tree, seconds: float) -> tuple[dict, int, int]:
    """Timed iterations until ``seconds`` have passed (at least MIN_ITERS).
    Returns the end-to-end metrics without setup_s, docs attempted and
    docs failed (quarantined)."""
    from perfbench.probes import PeakRss, steal_ticks
    from perfbench.workloads import MIN_ITERS

    rates, cpus, peaks = [], [], []
    failed = 0
    stolen0, total0 = steal_ticks()
    t_end = time.perf_counter() + seconds
    while len(rates) < MIN_ITERS or time.perf_counter() < t_end:
        timed = Timed(tree)
        with PeakRss(tree) as peak:
            out, quarantined = wl.iterate(timed)
        wl.cleanup(out)
        log(f"iteration {len(rates)}: {timed.wall:.3f} s timed")
        rates.append(wl.docs() / timed.wall)
        cpus.append(timed.cpu)
        peaks.append(peak.peak_bytes / 1e6)
        failed += quarantined
    stolen1, total1 = steal_ticks()
    # host contention, for reading the numbers: it slows every metric
    log(f"hypervisor steal while measuring: {100 * (stolen1 - stolen0) / max(1, total1 - total0):.1f}%")
    metrics = {
        "docs_per_s": statistics.median(rates),
        "cpu_core_s": statistics.median(cpus),
        "peak_rss_mb": statistics.median(peaks),
    }
    return metrics, wl.docs() * len(rates), failed


def trace(wl, tracer, seconds: float, run_id: str) -> dict:
    """Traced rounds until ``seconds`` have passed (at least MIN_ROUNDS);
    per-layer metrics are medians over rounds. trace.overhead_pct is the
    share of a round's wall time its span bookkeeping took."""
    from perfbench.workloads import MIN_ROUNDS

    rounds = []
    t_end = time.perf_counter() + seconds
    while len(rounds) < MIN_ROUNDS or time.perf_counter() < t_end:
        round_id = f"{run_id}-r{len(rounds)}"
        m = wl.trace_round(tracer, round_id)
        m["trace.overhead_pct"] = tracer.overhead_pct(round_id)
        rounds.append(m)
    metrics = {k: statistics.median(r[k] for r in rounds) for k in rounds[0]}
    metrics.update(wl.trace_once())
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "ocr_application_spark").is_dir():
        print(f"no engine source under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    sys.path.insert(0, str(ROOT))
    from perfbench.probes import ProcTree, Tracer
    from perfbench.workloads import WARMUP_ITERS, WORKLOADS, CheckFailed

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    run_dir = WORK / f"run-{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    _environment(run_dir)
    try:
        t0 = time.perf_counter()
        spark = _start_spark(run_dir)
        session_s = time.perf_counter() - t0
        log(f"session start {session_s:.3f} s")
        try:
            tree = ProcTree(spark.sparkContext._gateway.proc.pid)
            wl = WORKLOADS[args.workload](spark, args.seed, str(run_dir))
            t0 = time.perf_counter()
            wl.build_input()
            input_s = time.perf_counter() - t0
            log(f"input build {input_s:.3f} s")
            t0 = time.perf_counter()
            for i in range(WARMUP_ITERS):
                if i:
                    wl.cleanup(out)
                out, _ = wl.iterate(Timed())
            warmup_s = time.perf_counter() - t0
            log(f"{WARMUP_ITERS} warm-up iterations {warmup_s:.3f} s")
            wl.check_digests(out)
            wl.cleanup(out)
            if args.trace:
                run_id = f"{args.workload}-seed{args.seed}"
                tracer = Tracer(spark, tree)
                got = trace(wl, tracer, args.seconds, run_id)
                tracer.dump(str(WORK / "traces" / f"{run_id}.jsonl"))
                attempted, failed = wl.docs(), int(got.get("pipeline.quarantined", 0))
                wanted = spec["per_layer"]
                for m in wanted:
                    if m["name"].startswith(wl.idle_layers):
                        got.setdefault(m["name"], 0)
            else:
                got, attempted, failed = measure(wl, tree, args.seconds)
                got["setup_s"] = session_s + input_s + warmup_s
                wanted = spec["end_to_end"]
            correct = True
        except CheckFailed as exc:
            print(f"check failed: {exc}", file=sys.stderr)
            correct, wanted, got, attempted, failed = False, [], {}, 1, 1
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
