"""Log hygiene of ``session.get_spark``: the truncated-lineage WARN that
every ``release_local_checkpoint`` triggers is filtered out by message,
while the rest of the ``MapPartitionsRDD`` logger keeps its WARNs."""

import contextlib

from ocr_application_spark.session import _RDD_LOGGER, release_local_checkpoint


@contextlib.contextmanager
def _captured(spark):
    """Collect what the RDD logger's config lets through into a
    ``StringWriter`` appender attached to that config, behind its
    filter."""
    jvm = spark.sparkContext._jvm
    core = jvm.org.apache.logging.log4j.core
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    lc = ctx.getConfiguration().getLoggers().get(_RDD_LOGGER)
    assert lc is not None, "get_spark did not configure the RDD logger"
    out = jvm.java.io.StringWriter()
    app = core.appender.WriterAppender.createAppender(
        core.layout.PatternLayout.createDefaultLayout(),
        None, out, "test-rdd-capture", False, True,
    )
    app.start()
    lc.addAppender(app, None, None)
    ctx.updateLoggers()
    try:
        yield out
    finally:
        lc.removeAppender("test-rdd-capture")
        app.stop()
        ctx.updateLoggers()


def test_truncated_lineage_warning_dropped_other_rdd_warnings_kept(spark):
    jvm = spark.sparkContext._jvm
    log = jvm.org.apache.logging.log4j.LogManager.getLogger(_RDD_LOGGER)
    with _captured(spark) as out:
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
