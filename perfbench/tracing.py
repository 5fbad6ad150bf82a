"""Traced run: per-layer spans and counts, measured from outside the engine.

Every number comes from wrapping a public function of an engine module or
from Spark's own status store, so the engine under test is unchanged:

- ``plans``     wall, Py4J commands and driver CPU of each ``QUERIES[name]`` call
- ``session``   ``session.barrier`` calls, eager jobs run during a build,
                checkpoint bytes held after each op
- ``operators`` jobs, stages and stage metrics of the execute step
- ``sources``   stage input bytes
- ``pyworker``  CPU of the ``pyspark.daemon`` process tree
- ``streaming`` micro-batches seen by a benchmark-registered listener
- ``io_sinks``  time in ``ParquetTable.rewrite`` / ``read`` and guard counts,
                bytes of each new ``_vNNNNNNNN`` version directory

Only ``perfbench/run.py --trace 1`` imports this module; the untraced run
that gives the end-to-end metrics installs none of these wrappers.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

from measure import Span, SpanLog, dir_bytes, proc_cmdline, proc_tree, tree_cpu_s

#: Per-layer metrics, in report order. Counts and bytes are exact; the rest
#: are seconds.
LAYER_METRICS = [
    ("plans.build_s", "s"),
    ("plans.py4j_calls", "count"),
    ("plans.driver_cpu_s", "s"),
    ("session.eager_jobs", "count"),
    ("session.eager_job_s", "s"),
    ("session.barrier_calls", "count"),
    ("session.checkpoint_bytes", "B"),
    ("operators.exec_s", "s"),
    ("operators.jobs", "count"),
    ("operators.stages", "count"),
    ("operators.task_cpu_s", "s"),
    ("operators.shuffle_read_bytes", "B"),
    ("operators.shuffle_write_bytes", "B"),
    ("operators.spill_bytes", "B"),
    ("sources.input_bytes", "B"),
    ("pyworker.cpu_s", "s"),
    ("streaming.batches", "count"),
    ("streaming.batch_s", "s"),
    ("io_sinks.rewrite_s", "s"),
    ("io_sinks.read_s", "s"),
    ("io_sinks.jobs_per_dml", "count"),
    ("io_sinks.bytes_written", "B"),
    ("io_sinks.write_amp", "ratio"),
]

# perf_counter() + _EPOCH = wall-clock seconds; Spark reports wall clock
_EPOCH = time.time() - time.perf_counter()


def _to_perf(epoch_ms: float) -> float:
    return epoch_ms / 1000.0 - _EPOCH


class Tracer:
    """Owns the span log and the per-op counters of one traced run."""

    def __init__(self) -> None:
        self.log = SpanLog()
        self.op: dict | None = None  # counters of the op in flight
        self.in_build = False
        self.py4j = 0
        self._stream_runs: set[str] = set()  # runIds of the op's streaming queries
        self._batches: list[tuple[str, float, float]] = []

    # -- wrappers installed before the registry is imported ---------------
    def wrap_session(self) -> None:
        import financedatabase_spark.session as session

        orig = session.barrier
        tracer = self

        def barrier(df, *args, **kwargs):
            if tracer.op is None:
                return orig(df, *args, **kwargs)
            span = tracer.log.open("session.barrier")
            try:
                return orig(df, *args, **kwargs)
            finally:
                tracer.log.close(span)
                tracer.op["session.barrier_calls"] += 1

        session.barrier = barrier

    def wrap_io_sinks(self) -> None:
        from financedatabase_spark.operators import io_sinks

        table_cls = io_sinks.ParquetTable
        orig_rewrite, orig_read = table_cls.rewrite, table_cls.read
        tracer = self

        def rewrite(table, df, *args, **kwargs):
            if tracer.op is None:
                return orig_rewrite(table, df, *args, **kwargs)
            before = set(_versions(table.path))
            span = tracer.log.open("io_sinks.rewrite")
            try:
                return orig_rewrite(table, df, *args, **kwargs)
            finally:
                tracer.log.close(span)
                tracer.op["io_sinks.rewrite_s"] += span.end - span.start
                for v in set(_versions(table.path)) - before:
                    tracer.op["io_sinks.bytes_written"] += dir_bytes(
                        os.path.join(table.path, v)
                    )

        def read(table, *args, **kwargs):
            if tracer.op is None:
                return orig_read(table, *args, **kwargs)
            return tracer._timed_read(lambda: orig_read(table, *args, **kwargs))

        table_cls.rewrite, table_cls.read = rewrite, read

    def wrap_counts(self, frame_cls) -> None:
        """Guard counts inside a DML call are reads of the table."""
        orig = frame_cls.count
        tracer = self

        def count(df):
            if tracer.op is None or not tracer.op.get("_dml"):
                return orig(df)
            return tracer._timed_read(lambda: orig(df))

        frame_cls.count = count

    def _timed_read(self, fn):
        span = self.log.open("io_sinks.read")
        try:
            return fn()
        finally:
            self.log.close(span)
            self.op["io_sinks.read_s"] += span.end - span.start

    # -- Py4J command counter ---------------------------------------------
    def wrap_py4j(self, spark) -> None:
        """Count the commands the build itself sends. Garbage-collection
        deletes ("m" commands) are left out: py4j's finalizer thread sends
        them whenever Python's collector runs, so they do not repeat."""
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command
        tracer = self
        driver = threading.get_ident()

        def send_command(command, *args, **kwargs):
            if tracer.in_build and threading.get_ident() == driver and command[:2] != "m\n":
                tracer.py4j += 1
            return orig(command, *args, **kwargs)

        client.send_command = send_command

    # -- streaming listener -----------------------------------------------
    def add_stream_listener(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer._stream_runs.add(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                s = start.timestamp() - _EPOCH
                tracer._batches.append((str(p.runId), s, s + p.batchDuration / 1000.0))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    # -- per-op bookkeeping -----------------------------------------------
    def start_op(self, spark, jvm_pid: int, **attrs) -> Span:
        self.op = {name: 0 for name, _ in LAYER_METRICS}
        self.op["_dml"] = attrs.get("op", "").startswith("dml.")
        self.op["_pyworker0"] = _pyworker_cpu(jvm_pid)
        self._stream_runs.clear()
        self._batches.clear()
        return self.log.open("op", **attrs)

    def build(self, fn):
        span = self.log.open("build")
        self.in_build, self.py4j = True, 0
        cpu0 = time.process_time()
        try:
            return fn()
        finally:
            self.op["plans.driver_cpu_s"] += time.process_time() - cpu0
            self.in_build = False
            self.log.close(span)
            self.op["plans.build_s"] += span.end - span.start
            self.op["plans.py4j_calls"] += self.py4j
            self.op["_build_span"] = span

    def execute(self, fn):
        """The noop write of a read op (operators) or one DML call (io_sinks)."""
        span = self.log.open("io_sinks.dml" if self.op["_dml"] else "execute")
        try:
            return fn()
        finally:
            self.log.close(span)
            if not self.op["_dml"]:
                self.op["operators.exec_s"] += span.end - span.start

    def finish_op(self, spark, span: Span, groups: dict[str, str], jvm_pid: int) -> dict:
        """Close the op span and read the status store for its jobs."""
        self.log.close(span)
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = jsc.statusTracker(), jsc.statusStore()
        op, dml = self.op, self.op["_dml"]
        build_span = op.pop("_build_span", None)
        jobs = {
            "build": list(tracker.getJobIdsForGroup(groups["build"])),
            "exec": list(tracker.getJobIdsForGroup(groups["exec"])),
        }
        for run_id in self._stream_runs:  # micro-batch jobs run in the query's group
            jobs["build"] += list(tracker.getJobIdsForGroup(run_id))
        jobs["build"] = sorted(set(jobs["build"]))
        top = build_span.id if build_span else span.id
        for run_id, s, e in self._batches:
            op["streaming.batches"] += 1
            op["streaming.batch_s"] += e - s
            self.log.add("streaming.batch", s, e, top, run=run_id)
        # an eager job belongs to the barrier call or micro-batch that ran it
        owners = [
            s for s in self.log.spans
            if s.name in ("session.barrier", "streaming.batch") and s.parent == top
        ]
        for jid in jobs["build"]:
            start, end = _job_window(store, jid)
            op["session.eager_jobs"] += 1
            op["session.eager_job_s"] += end - start
            parent = next(
                (o.id for o in owners if o.start <= start and end <= o.end + 0.05), top
            )
            self.log.add("session.eager_job", start, end, parent, job=jid)
        seen_stages: set[int] = set()
        for step, ids in jobs.items():
            is_exec = step == "exec" and not dml
            for jid in ids:
                if is_exec:
                    op["operators.jobs"] += 1
                for sid in tracker.getJobInfo(jid).get().stageIds():
                    if sid not in seen_stages:
                        seen_stages.add(sid)
                        _add_stage(op, store, sid, is_exec)
        if dml:
            op["io_sinks.jobs_per_dml"] = len(jobs["exec"])
        infos = jsc.getRDDStorageInfo()
        op["session.checkpoint_bytes"] = sum(i.memSize() + i.diskSize() for i in infos)
        op["pyworker.cpu_s"] = _pyworker_cpu(jvm_pid) - op.pop("_pyworker0")
        op.pop("_dml")
        self.op = None
        return op


def _versions(path: str) -> list[str]:
    try:
        return [e for e in os.listdir(path) if e.startswith("_v") and e[2:].isdigit()]
    except OSError:
        return []


def _job_window(store, jid: int) -> tuple[float, float]:
    jd = store.job(jid)
    sub, comp = jd.submissionTime(), jd.completionTime()
    start = _to_perf(sub.get().getTime()) if sub.isDefined() else 0.0
    end = _to_perf(comp.get().getTime()) if comp.isDefined() else start
    return start, end


def _add_stage(op: dict, store, sid: int, is_exec: bool) -> None:
    from py4j.protocol import Py4JJavaError

    try:
        st = store.lastStageAttempt(sid)
    except Py4JJavaError:  # NoSuchElementException: the stage never ran
        return
    if st.status().toString() == "SKIPPED":
        return
    op["sources.input_bytes"] += st.inputBytes()
    if not is_exec:
        return
    op["operators.stages"] += 1
    op["operators.task_cpu_s"] += st.executorCpuTime() / 1e9
    op["operators.shuffle_read_bytes"] += st.shuffleReadBytes()
    op["operators.shuffle_write_bytes"] += st.shuffleWriteBytes()
    op["operators.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()


def _pyworker_cpu(jvm_pid: int) -> float:
    """CPU seconds of every Python worker process under the JVM."""
    roots = [
        p for p in proc_tree(jvm_pid)[1:]
        if "pyspark" in proc_cmdline(p) and "daemon" in proc_cmdline(p)
    ]
    pids = {q for r in roots for q in proc_tree(r)}
    return tree_cpu_s(sorted(pids))
