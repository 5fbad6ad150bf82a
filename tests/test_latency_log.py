"""S10 latency-log sink: QueryExecutionListener capture, parquet flush,
archive rotation (reference: dbase/DataAPI/ThetaData/log.py:140-185)."""

import os

from financedatabase_spark.sources.latency_log import LatencyLog


def test_listener_logs_two_queries_and_rotates(spark, tmp_path):
    log = LatencyLog(str(tmp_path / "qlog"), archive_threshold=3).attach(spark)
    try:
        with log.query("sum_ids"):
            spark.range(1000).selectExpr("sum(id) AS s").collect()
        with log.query("count_small"):
            spark.range(10).count()
        n = log.wait_for(2)
        assert n >= 2
        assert log.flush() == n

        rows = log.read(spark).collect()
        names = {r.query_name for r in rows}
        assert {"sum_ids", "count_small"} <= names
        for r in rows:
            assert r.duration_s > 0
            assert r.func_name  # JVM action name (collect/count/...)

        # rotation: push the active file past the threshold
        with log.query("extra"):
            spark.range(5).count()
            spark.range(6).count()
        log.wait_for(2)
        log.flush()
        archive = tmp_path / "qlog" / "archive"
        archived = os.listdir(archive)
        assert len(archived) == 1  # >= 3 rows rotated out
        # active restarted; full read still sees every entry
        total = log.read(spark).count()
        assert total >= 4
    finally:
        log.detach(spark)

    # detached listener records nothing new (drain in-flight callbacks
    # from the pre-detach read actions first — the bus is async)
    import time

    time.sleep(1.0)
    before = log.wait_for(0, timeout_s=0.1)
    spark.range(7).count()
    assert log.wait_for(before + 1, timeout_s=2.0) == before


def test_flush_empty_and_read_empty(spark, tmp_path):
    log = LatencyLog(str(tmp_path / "empty"))
    assert log.flush() == 0
    assert log.read(spark).count() == 0


def test_listener_callbacks_log_record_failures(tmp_path, caplog, monkeypatch):
    # the callbacks run on the JVM listener-bus thread: a failing record
    # must not raise out of them, and must not vanish silently either
    import logging

    from financedatabase_spark.sources.latency_log import _Py4JQueryExecutionListener

    log = LatencyLog(str(tmp_path / "broken"))

    def boom(*args):
        raise RuntimeError("bucket unavailable")

    monkeypatch.setattr(log, "_record", boom)
    listener = _Py4JQueryExecutionListener(log)
    logger = "financedatabase_spark.sources.latency_log"
    with caplog.at_level(logging.DEBUG, logger=logger):
        assert listener.onSuccess("collect", None, 1_000_000) is None
        assert listener.onFailure("count", None, None) is None

    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 2
    assert all(r.exc_info and r.exc_info[0] is RuntimeError for r in warnings)
    assert "collect" in warnings[0].getMessage()
    assert "count" in warnings[1].getMessage()
    # the row-count lookup on a plan-less callback is best-effort: debug only
    assert any(r.levelno == logging.DEBUG for r in caplog.records)
