"""SparkSession factory tuned for the extraction workload.

The reference runs one document at a time through single-partition Kafka
topics (classification_service/app/Kafka/topic_manager.py:22-23 — its
throughput ceiling). We instead size shuffle parallelism to the cluster,
enable AQE (runtime coalescing + skew-join splitting for skewed hosts),
and pin the session timezone to UTC so results are comparable against the
DuckDB oracle (naive timestamps).

At 100 TB these same settings hold: AQE re-plans per-stage, Arrow batch
size bounds Python-worker memory, and ``spark.sql.files.maxPartitionBytes``
keeps scan partitions executor-sized.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# Spark's default log4j2 config plus per-message filters for WARNs the
# JVM logs while it starts (the file says which); absent when the
# package runs from a --py-files zip, whose JVM spark-submit started.
_LOG4J2_CONF = os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")


def get_spark(
    app_name: str = "ocr_application_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cores=None`` uses ``$SPARK_GRAFT_CPUS`` (default: all).  On a real
    cluster the master/memory settings come from spark-submit instead; only
    the ``spark.sql.*`` tuning below travels with the app.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # shuffle parallelism ~ cores locally; AQE coalesces small partitions
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # write timestamps as annotated INT64 micros, not legacy INT96:
        # INT96 columns carry NO parquet min/max stats, which would
        # blind the snapshot zone maps (plan_scan) to every temporal
        # predicate — e.g. incremental scans of a crawl table by
        # warc_ts. Readers (Spark, DuckDB, pyarrow) handle both.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch = the unit of kernel work. 8192 measured +25% over
        # 2048 on ~3KB pages (fewer per-batch handshakes); at production
        # page sizes (~100KB html) size this by bytes: rows ≈ 256MB/page_sz
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # 128m scan splits: good balance for wide binary 'html' columns
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    conf = dict(extra_conf or {})
    if os.path.isfile(_LOG4J2_CONF):
        # read only by a driver JVM this call launches; a caller's own
        # options come after it, so their -D settings win
        opts = f"-Dlog4j2.configurationFile={_LOG4J2_CONF} "
        conf["spark.driver.extraJavaOptions"] = (
            opts + conf.get("spark.driver.extraJavaOptions", "")
        ).strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Drop a few known-benign WARNs by message (see _DROPPED_WARNINGS);
    # every other WARN from the same loggers still shows.
    # Best-effort: log tuning must never fail a job.
    try:
        _drop_benign_warnings(spark)
    except Exception:
        pass
    return spark


# (logger, message regex) pairs get_spark filters out at runtime. Each
# message is benign by construction and repeats often enough to bury
# real signals in the bench tail (the driver keeps ~2 KB of output).
# These stay runtime filters, not entries in log4j2.properties: a job
# run by spark-submit gets a JVM that spark-submit started and
# configured before the job's Python ran, so get_spark's
# extraJavaOptions never reach it, while a filter attached here works
# in both kinds of JVM for every message logged after start.
# - release_local_checkpoint frees checkpoint blocks per iteration and
#   every release logs an unpersist-of-truncated-lineage WARN; the
#   release sites guarantee the freed frames are never recomputed.
# - every streaming query logs that AQE, which get_spark enables for
#   batch plans, is off for streams.
# - DAGScheduler warns when a stage's serialized task binary passes
#   1000 KiB (wide plans such as the extraction card); the binary is
#   broadcast once per stage either way, so its size is not a fault.
_DROPPED_WARNINGS = (
    (
        "org.apache.spark.rdd.MapPartitionsRDD",
        ".*was locally checkpointed, its lineage has been truncated.*",
    ),
    (
        "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
        ".*spark.sql.adaptive.enabled is not supported in streaming.*",
    ),
    (
        "org.apache.spark.scheduler.DAGScheduler",
        ".*Broadcasting large task binary with size.*",
    ),
)


def _drop_benign_warnings(spark: SparkSession) -> None:
    """Attach one log4j2 RegexFilter per ``_DROPPED_WARNINGS`` entry to
    its logger's config, denying just that message. A missing config
    is created level-less, so the logger keeps following the root
    level; a second call (``getOrCreate`` on a live JVM) finds each
    filter in place and adds nothing."""
    jvm = spark.sparkContext._jvm
    core = jvm.org.apache.logging.log4j.core
    result = core.Filter.Result
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    cfg = ctx.getConfiguration()
    for logger, regex in _DROPPED_WARNINGS:
        lc = cfg.getLoggers().get(logger)
        if lc is None:
            lc = core.config.LoggerConfig(logger, None, True)
            cfg.addLogger(logger, lc)
        if not lc.hasFilter() or regex not in lc.getFilter().toString():
            lc.addFilter(
                core.filter.RegexFilter.createFilter(
                    regex, None, False, result.DENY, result.NEUTRAL
                )
            )
    ctx.updateLoggers()


def release_local_checkpoint(df) -> None:
    """Free the executor blocks of a DataFrame produced by
    ``localCheckpoint``. ``df.unpersist()`` is a no-op for checkpoint
    storage (it only talks to the SQL cache manager, probed), so an
    iterative algorithm that re-checkpoints per round would otherwise
    pin one full copy of its state per round until the Python handle
    happens to be GC'd. Safe no-op on non-checkpointed frames."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass  # best-effort: releasing storage must never fail the job


_SLOT_LOCK = threading.Lock()
_SLOT_CACHES: dict[str, object] = {}


def bounded_cache(df, slot: str):
    """``persist()`` whose blocks are released when the NEXT call reuses
    the same ``slot`` — bounds the live cached copies of a
    per-invocation operator (the index-ingest family) to ONE per slot
    regardless of how many times it runs in a session, instead of
    leaking one copy per call (a continuous-ingest stream calls the
    operator once per epoch; a gate or bench session calls a query
    operator such as ``tarification_pipeline`` once per run).

    Deliberately persist, NOT localCheckpoint: unpersisting a cache that
    some still-alive plan references degrades to a recompute (correct,
    just slower), whereas releasing a localCheckpoint's blocks makes
    every plan holding the truncated lineage CRASH. So a stale verdicts
    handle collected after the next ingest call, or two ingests running
    concurrently in one session, stay correct — the worst case is one
    extra scan, never a 'Checkpoint block not found' failure. The slot
    map is lock-guarded (foreachBatch sinks run on stream threads).

    The final cache per slot stays pinned until the session ends or
    ``release_slot(slot)`` is called — a bounded, safe hold (unpersist
    is safe at any time with persist semantics).

    The previous entry is released BEFORE the new persist: when a
    caller re-runs the same plan (a replayed batch), persisting first
    would be a no-op on the already-cached plan and the release would
    then drop that shared entry, leaving the call uncached."""
    with _SLOT_LOCK:
        prev = _SLOT_CACHES.get(slot)
        if prev is not None:
            try:
                prev.unpersist()
            except Exception:
                pass  # releasing storage must never fail the job
        out = df.persist()
        _SLOT_CACHES[slot] = out
    return out


def release_slot(slot: str) -> None:
    """Free the cached blocks held by ``bounded_cache`` for ``slot``
    (e.g. after a continuous-ingest stream terminates)."""
    with _SLOT_LOCK:
        prev = _SLOT_CACHES.pop(slot, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass
