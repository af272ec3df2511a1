"""Log hygiene of ``session.get_spark``: each benign WARN listed in
``session._DROPPED_WARNINGS`` is filtered out by message, while every
other WARN from the same logger still shows. The streaming and
task-binary events are raised for real with the filter off first, so a
filter on the wrong logger name fails here. The one WARN logged while
the JVM starts is dropped by the log4j2.properties file get_spark hands
to a JVM it launches, checked in a fresh subprocess."""

import contextlib
import os
import pathlib
import re
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from ocr_application_spark.session import _DROPPED_WARNINGS, release_local_checkpoint

_RDD = "org.apache.spark.rdd.MapPartitionsRDD"
_STREAM = "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream"
_DAG = "org.apache.spark.scheduler.DAGScheduler"


def _config(spark, logger):
    ctx = spark.sparkContext._jvm.org.apache.logging.log4j.LogManager.getContext(False)
    lc = ctx.getConfiguration().getLoggers().get(logger)
    assert lc is not None, f"get_spark did not configure {logger}"
    return ctx, lc


@contextlib.contextmanager
def _captured(spark, logger):
    """Collect what ``logger``'s config lets through into a
    ``StringWriter`` appender attached to that config, behind its
    filter."""
    jvm = spark.sparkContext._jvm
    core = jvm.org.apache.logging.log4j.core
    ctx, lc = _config(spark, logger)
    out = jvm.java.io.StringWriter()
    app = core.appender.WriterAppender.createAppender(
        core.layout.PatternLayout.createDefaultLayout(),
        None, out, "test-capture", False, True,
    )
    app.start()
    lc.addAppender(app, None, None)
    ctx.updateLoggers()
    try:
        yield out
    finally:
        lc.removeAppender("test-capture")
        app.stop()
        ctx.updateLoggers()


def test_truncated_lineage_warning_dropped_other_rdd_warnings_kept(spark):
    jvm = spark.sparkContext._jvm
    log = jvm.org.apache.logging.log4j.LogManager.getLogger(_RDD)
    with _captured(spark, _RDD) as out:
        # the real message: released blocks of a local checkpoint
        df = spark.range(50).selectExpr("id", "id * 2 as y").localCheckpoint(eager=True)
        release_local_checkpoint(df)
        log.warn(
            "RDD 9 was locally checkpointed, its lineage has been truncated "
            "and cannot be recomputed after unpersisting"
        )
        log.warn("RDD 9 block rdd_9_0 could not be found; recomputing")
    text = out.toString()
    assert "lineage has been truncated" not in text, text
    assert "block rdd_9_0 could not be found" in text, text


def _run_stream(spark, tmp):
    spark.range(10).write.parquet(f"{tmp}/in")
    q = (
        spark.readStream.schema("id long")
        .parquet(f"{tmp}/in")
        .writeStream.format("noop")
        .option("checkpointLocation", f"{tmp}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _large_task_binary(spark, _tmp):
    # a 3 MB literal the optimizer cannot fold away rides in the task
    big = F.concat(F.col("id").cast("string"), F.lit("x" * 3_000_000))
    spark.range(2, numPartitions=1).select(F.length(big)).collect()


_EVENTS = [
    (_STREAM, _run_stream, "adaptive.enabled is not supported"),
    (_DAG, _large_task_binary, "Broadcasting large task binary"),
]


def test_every_dropped_warning_is_tested_here():
    tested = {_RDD} | {e[0] for e in _EVENTS}
    assert tested == {logger for logger, _ in _DROPPED_WARNINGS}


@pytest.mark.parametrize("logger, trigger, marker", _EVENTS)
def test_real_event_dropped_other_warnings_kept(
    spark, tmpdir_scratch, logger, trigger, marker
):
    """With the filter taken off, the event Spark itself logs shows on
    ``logger`` (so the filter sits on the right name); with it back
    on, the same event is dropped while another WARN from the logger
    still shows."""
    ctx, lc = _config(spark, logger)
    flt = lc.getFilter()
    lc.removeFilter(flt)
    ctx.updateLoggers()
    try:
        with _captured(spark, logger) as out:
            trigger(spark, f"{tmpdir_scratch}/unfiltered")
        assert marker in out.toString()
    finally:
        lc.addFilter(flt)
        ctx.updateLoggers()
    log = spark.sparkContext._jvm.org.apache.logging.log4j.LogManager.getLogger(logger)
    with _captured(spark, logger) as out:
        trigger(spark, f"{tmpdir_scratch}/filtered")
        log.warn("another warning from this logger")
    text = out.toString()
    assert marker not in text, text
    assert "another warning from this logger" in text, text


_FRESH = """
from ocr_application_spark.session import get_spark
s = get_spark("fresh-log", cores=1)
s.sparkContext._jvm.org.apache.logging.log4j.LogManager.getLogger(
    "org.apache.hadoop.util.NativeCodeLoader").warn("another loader warning")
s.range(3).count()
s.stop()
"""


def test_fresh_session_drops_native_code_loader_warning_only():
    """The NativeCodeLoader WARN is logged while the JVM starts, before
    any runtime filter exists: get_spark hands the JVM the package's
    log4j2.properties, whose per-message filter drops it. Another WARN
    from that logger still shows, in Spark's default console layout,
    and the root level is Spark's own (the shell WARN default)."""
    root = pathlib.Path(__file__).resolve().parents[1]
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(root), env.get("PYTHONPATH")]))
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH], cwd=root, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
    err = proc.stderr
    assert "NativeCodeLoader: Unable to load native-hadoop" not in err, err
    assert re.search(
        r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d WARN NativeCodeLoader: another loader warning$",
        err, re.M,
    ), err
    assert 'Setting default log level to "WARN"' in err, err
