"""Measurement probes the benchmark wraps around calls into the engine.

* ``ProcTree``: CPU seconds and resident memory of the Spark driver JVM and
  the Python processes below it (the pyspark daemon and its workers), read
  from ``/proc`` — no third-party dependency.
* ``PeakRss``: a sampling thread that records the highest summed RSS of a
  ``ProcTree`` while a block runs.
* ``StageTotals``: running sums of engine counters (executor CPU/run
  time, GC, shuffle, spill, tasks) over completed Spark stages, read from
  the application status store, which works with the UI off.
* ``Tracer``: spans (name, start, end, parent, run id) kept in memory,
  each carrying the status-store and ``/proc`` deltas of its interval,
  and written out once when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_RSS_SAMPLE_S = 0.05  # PeakRss sampling period


def _stat(pid: int) -> tuple[int, float, int, bytes] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes, command name)
    of one pid."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    end = raw.rindex(b")")
    f = raw[end + 2 :].split()
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return int(f[1]), ticks / _TICK, int(f[21]) * _PAGE, raw[raw.index(b"(") + 1 : end]


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine since boot; stolen
    ticks are those a hypervisor took from this VM's vCPUs."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class ProcTree:
    """A root process and its Python descendants, re-listed on every read
    so Python workers that start or stop between reads are counted. Other
    children are left out: the JVM forks short-lived helpers (``chmod``
    for file permissions) whose RSS, until they exec, reads as a second
    copy of the JVM's."""

    def __init__(self, root_pid: int):
        self.root = root_pid

    def _members(self) -> dict[int, tuple[int, float, int, bytes]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit() and (s := _stat(int(name))) is not None:
                stats[int(name)] = s
        members, frontier = {}, [self.root]
        while frontier:
            pid = frontier.pop()
            if pid in stats and pid not in members:
                members[pid] = stats[pid]
                frontier.extend(
                    p for p, s in stats.items() if s[0] == pid and s[3].startswith(b"python")
                )
        return members

    def read(self) -> dict[str, float]:
        """cpu_s: whole tree; python_cpu_s: descendants only (the JVM is
        the root); rss_bytes: summed resident set of the tree."""
        m = self._members()
        return {
            "cpu_s": sum(s[1] for s in m.values()),
            "python_cpu_s": sum(s[1] for p, s in m.items() if p != self.root),
            "rss_bytes": float(sum(s[2] for s in m.values())),
        }


class PeakRss:
    """Context manager: highest summed RSS of ``tree`` seen while the block
    runs, sampled every 50 ms on a background thread."""

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.peak_bytes = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, self.tree.read()["rss_bytes"])
            if self._stop.wait(_RSS_SAMPLE_S):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self.tree.read()["rss_bytes"])


_STAGE_FIELDS = {
    # status-store field -> (reported name, scale to the reported unit)
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "executorRunTime": ("executor_run_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_mb", 1e-6),
    "memoryBytesSpilled": ("spill_memory_mb", 1e-6),
    "diskBytesSpilled": ("spill_disk_mb", 1e-6),
    "numCompleteTasks": ("tasks", 1),
}


class StageTotals:
    """Running sums of stage metrics over every stage that completed since
    this object was created. The status store lists stages newest first,
    so each ``read()`` walks only the stages added since the last one."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._empty = sc._gateway.new_array(sc._jvm.double, 0)
        self._totals = dict.fromkeys((name for name, _ in _STAGE_FIELDS.values()), 0.0)
        self._last = -1
        self.read()
        self._totals = dict.fromkeys(self._totals, 0.0)

    def read(self) -> dict[str, float]:
        # status-store updates arrive on the listener bus asynchronously:
        # drain it so the stages of the action that just returned are in
        self._sc.listenerBus().waitUntilEmpty()
        stages = self._sc.statusStore().stageList(
            self._jvm.java.util.ArrayList(), False, False, self._empty,
            self._jvm.java.util.ArrayList(),
        )
        newest, it = self._last, stages.iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._last:
                break
            newest = max(newest, sid)
            for field, (name, scale) in _STAGE_FIELDS.items():
                self._totals[name] += getattr(s, field)() * scale
        self._last = newest
        return dict(self._totals)


class Tracer:
    """Spans around calls into the engine's layers. Each span records its
    wall interval and the deltas of the JVM/Python ``/proc`` counters and
    of the status-store stage metrics over that interval. The counters are
    read outside the timed interval, so the span's duration excludes
    them; ``book_s`` is the time those reads took."""

    def __init__(self, spark, tree: ProcTree):
        self.tree = tree
        self.stages = StageTotals(spark)
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, run_id: str, parent: int | None = None):
        t0 = time.perf_counter()
        before, stages0 = self.tree.read(), self.stages.read()
        rec = {"id": len(self.spans), "name": name, "run_id": run_id, "parent": parent}
        self.spans.append(rec)
        rec["start"] = time.perf_counter()
        yield rec
        rec["end"] = time.perf_counter()
        after, stages1 = self.tree.read(), self.stages.read()
        rec["book_s"] = rec["start"] - t0 + time.perf_counter() - rec["end"]
        rec["wall_s"] = rec["end"] - rec["start"]
        rec["cpu_s"] = after["cpu_s"] - before["cpu_s"]
        rec["python_cpu_s"] = after["python_cpu_s"] - before["python_cpu_s"]
        rec["stages"] = {k: stages1[k] - stages0[k] for k in stages1}

    def overhead_pct(self, run_id: str) -> float:
        """Bookkeeping of every span of ``run_id`` as a share of its root
        span's wall time, bookkeeping included."""
        spans = [s for s in self.spans if s["run_id"] == run_id]
        root = next(s for s in spans if s["parent"] is None)
        return 100.0 * sum(s["book_s"] for s in spans) / (root["wall_s"] + root["book_s"])

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")
