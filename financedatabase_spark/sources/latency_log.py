"""S10 — query-latency log sink.

The reference buffers one (url, latency) entry per API request in a
module-level bucket and flushes it to a CSV log with a 50k-row archive
rotation on exit (reference: dbase/DataAPI/ThetaData/log.py:140-185).
The Spark-native equivalent instruments the QUERY layer instead of the
HTTP layer: a ``QueryExecutionListener`` (registered through the py4j
callback server, the same bridge PySpark's streaming listeners use)
receives every action's name and wall-clock duration from the JVM,
buffers entries driver-side, and flushes them to a parquet log table
with the same active-file + size-rotated-archive layout.

The log is a driver artifact (one row per query action, not per data
row), so flush/rotate run driver-side via pyarrow — no Spark job is
spent on bookkeeping, and the resulting parquet directory is readable
as a normal Spark table (`LatencyLog.read`).
"""

from __future__ import annotations

import logging
import os
import threading
import time
from contextlib import contextmanager

import pandas as pd

_log = logging.getLogger(__name__)

LOG_COLUMNS = ["query_name", "func_name", "duration_s", "rows", "logged_at"]

_ACTIVE = "latency_log.parquet"
_ARCHIVE_DIR = "archive"


class _Py4JQueryExecutionListener:
    """py4j-callback implementation of the JVM listener interface.
    Callbacks run on the JVM listener-bus thread — they must never
    raise, and only append to the owner's in-memory bucket. A failure
    is logged instead of raised."""

    def __init__(self, owner: "LatencyLog"):
        self._owner = owner
        self.active = True

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802 (JVM name)
        if not self.active:
            return
        try:
            rows = -1
            try:  # best-effort: the root node's numOutputRows, when present
                opt = qe.executedPlan().metrics().get("numOutputRows")
                if opt.isDefined():
                    rows = int(opt.get().value())
            except Exception:
                _log.debug("no numOutputRows for %s", funcName, exc_info=True)
            self._owner._record(str(funcName), int(durationNs) / 1e9, rows)
        except Exception:
            _log.warning("could not record query %s", funcName, exc_info=True)

    def onFailure(self, funcName, qe, exception):  # noqa: N802
        if not self.active:
            return
        try:
            self._owner._record(f"FAILED:{funcName}", 0.0, -1)
        except Exception:
            _log.warning("could not record failed query %s", funcName, exc_info=True)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class LatencyLog:
    """Buffered query-latency log with size-rotated parquet archives.

    Layout under ``log_dir`` (mirrors the reference's active-CSV +
    archive-dir shape): ``latency_log.parquet`` holds the rows since the
    last rotation; once a flush would push it past ``archive_threshold``
    rows, the accumulated rows move to ``archive/latency_log_NNNNN.
    parquet`` and the active file restarts empty.
    """

    def __init__(self, log_dir: str, archive_threshold: int = 50_000):
        self.log_dir = log_dir
        self.archive_threshold = int(archive_threshold)
        self._bucket: list[tuple] = []  # reference: LOGS_BUCKET
        self._lock = threading.Lock()  # callbacks land on the JVM bus thread
        self._intervals: list[list] = []  # [t_enter, t_exit|None, name]
        self._listener = None

    # -- attribution -------------------------------------------------------
    @contextmanager
    def query(self, name: str):
        """Attribute the actions executed inside this block to ``name``
        (the listener only sees the JVM action name, e.g. 'collect').

        The listener bus is ASYNCHRONOUS — a callback for an action run
        inside the block routinely fires after the block exits, so a
        current-name variable would misattribute it. Instead the block
        records its [enter, exit] wall-clock interval, and each callback
        reconstructs its action's start time (now − duration, which
        necessarily lies inside the block that ran it) and matches it to
        the innermost covering interval."""
        iv = [time.time(), None, name]
        with self._lock:
            self._intervals.append(iv)
        try:
            yield
        finally:
            iv[1] = time.time()

    def _record(self, func_name: str, duration_s: float, rows: int) -> None:
        now = time.time()
        est_start = now - duration_s
        with self._lock:
            name = None
            for iv in reversed(self._intervals):  # innermost/most-recent wins
                if iv[0] - 1e-3 <= est_start and (iv[1] is None or est_start <= iv[1] + 1e-3):
                    name = iv[2]
                    break
            self._bucket.append((name, func_name, duration_s, rows, now))

    # -- listener lifecycle ------------------------------------------------
    def attach(self, spark) -> "LatencyLog":
        """Register the QueryExecutionListener on the session. Requires
        the py4j callback server (started on demand, as for streaming
        listeners)."""
        from pyspark.java_gateway import ensure_callback_server_started

        if self._listener is not None:
            return self
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._listener = _Py4JQueryExecutionListener(self)
        spark._jsparkSession.listenerManager().register(self._listener)
        return self

    def detach(self, spark) -> None:
        if self._listener is not None:
            # py4j wraps the Python object in a NEW JVM proxy per call,
            # so unregister-by-equality may not match the registered
            # instance — deactivate Python-side first (authoritative),
            # then attempt the JVM unregister best-effort.
            self._listener.active = False
            try:
                spark._jsparkSession.listenerManager().unregister(self._listener)
            except Exception:
                _log.warning("could not unregister the latency listener", exc_info=True)
            self._listener = None

    def wait_for(self, n: int, timeout_s: float = 10.0) -> int:
        """Block until ≥ n entries are buffered (the listener bus is
        asynchronous) or the timeout passes; returns the buffered count."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if len(self._bucket) >= n:
                    return len(self._bucket)
            time.sleep(0.05)
        with self._lock:
            return len(self._bucket)

    # -- sink --------------------------------------------------------------
    def flush(self) -> int:
        """Append buffered entries to the active parquet file, rotating
        it into the archive at ``archive_threshold`` rows (reference
        flow: concat-with-existing, archive when over threshold, rewrite
        active). Returns the number of entries flushed."""
        now = time.time()
        with self._lock:
            entries, self._bucket = self._bucket, []
            # closed intervals can still receive late callbacks for a
            # while; prune only comfortably-stale ones
            self._intervals = [
                iv for iv in self._intervals if iv[1] is None or now - iv[1] < 60.0
            ]
        if not entries:
            return 0
        os.makedirs(os.path.join(self.log_dir, _ARCHIVE_DIR), exist_ok=True)
        active = os.path.join(self.log_dir, _ACTIVE)
        log = pd.DataFrame(entries, columns=LOG_COLUMNS).astype(
            {"duration_s": "float64", "rows": "int64", "logged_at": "float64"}
        )
        if os.path.exists(active):
            log = pd.concat([pd.read_parquet(active), log], ignore_index=True)
        if len(log) >= self.archive_threshold:
            seq = len(os.listdir(os.path.join(self.log_dir, _ARCHIVE_DIR)))
            log.to_parquet(
                os.path.join(
                    self.log_dir, _ARCHIVE_DIR, f"latency_log_{seq:05d}.parquet"
                ),
                index=False,
            )
            log = log.iloc[0:0]
        log.to_parquet(active, index=False)
        return len(entries)

    def read(self, spark):
        """The full log (active + archives) as one Spark DataFrame."""
        paths = []
        active = os.path.join(self.log_dir, _ACTIVE)
        if os.path.exists(active):
            paths.append(active)
        arch = os.path.join(self.log_dir, _ARCHIVE_DIR)
        if os.path.isdir(arch):
            paths.extend(os.path.join(arch, f) for f in sorted(os.listdir(arch)))
        if not paths:
            return spark.createDataFrame([], "query_name string, func_name string, duration_s double, rows long, logged_at double")
        return spark.read.parquet(*paths)
