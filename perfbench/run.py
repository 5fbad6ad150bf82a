"""Benchmark entry point.

    python3 perfbench/run.py --workload market_etl --seed 1 --seconds 10 --trace 0

Runs one workload of ``workloads.py`` in this process on ``local[N]`` (N =
usable cores) with one closed-loop driver thread, over the deterministic
sf0.1 test data committed under ``data/sf0.1``:

1. set-up: start the session, run one check pass (every op once, at full
   scale; read ops are compared with the DuckDB digests in
   ``expected.json``), then ``WARM_PASSES`` untimed passes while the JIT
   settles;
2. timed passes: every op once per pass, in a seeded order, results
   consumed by a ``noop`` write; whole passes until ``--seconds`` have
   elapsed, and at least ``MIN_PASSES``. Each op and pass is timed in CPU
   seconds of this process, the JVM and the Python workers (the gated
   cost) and in wall seconds (recorded);
3. the DML table is replayed in DuckDB and compared with the committed
   ``_CURRENT`` version.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics of ``tracing.py`` with ``--trace 1``). The line before
it records the environment, the per-op and per-pass detail and the
ungated wall-time figures; ``.perfbench_out/`` at the repository root
keeps the same record, plus the spans of a traced run. All scratch files
live in a fresh directory under ``.perfbench_tmp/``, removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure  # noqa: E402
import workloads as wl  # noqa: E402
from digest import frame_digest  # noqa: E402

#: Scale factor of the committed data every workload runs at.
SF = 0.1
DATA = os.path.join(HERE, "data", f"sf{SF}")
#: A run must end within 180 s; give up (and clean up) before that.
DEADLINE_S = 170
#: Untimed passes after the check pass. The JIT keeps compiling through the
#: first few passes of a fresh JVM: at sf0.1 on 4 cores market_etl's CPU
#: seconds per pass fell from 16-21 in the pass after the check pass to a
#: steady 11-14 from the fourth pass on.
WARM_PASSES = 2
#: Timed passes per run, at the least; the reported figures are medians
#: over them, so one pass still settling or slowed by the host does not
#: move them.
MIN_PASSES = 3


class RunFailed(RuntimeError):
    pass


def _deadline(*_) -> None:
    raise RunFailed(f"no result within {DEADLINE_S} s")


def _terminated(*_) -> None:
    raise RunFailed("terminated")


def _env(tmp: str) -> None:
    """Pin cores and keep every scratch file of Spark, the JVM and the
    Python workers inside ``tmp``; put the checkout on the workers' path."""
    cpus = len(os.sched_getaffinity(0))
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(tmp, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "warehouse")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # -XX:-UsePerfData: no hsperfdata files in the system temp dir, for the launcher JVM
    # that spark-submit runs first as well as for the driver JVM
    java_opts = f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf {shlex.quote('spark.driver.extraJavaOptions=' + java_opts)} pyspark-shell"
    )
    tempfile.tempdir = None  # re-read TMPDIR


class Runner:
    """Set-up, timed passes and output checks of one workload run."""

    def __init__(self, workload: str, seed: int, tmp: str, tracer) -> None:
        self.workload, self.seed, self.tmp, self.tracer = workload, seed, tmp, tracer
        self.data = DATA
        self.spec = wl.WORKLOADS[workload]
        self.samples: dict[str, list[float]] = {}  # wall seconds per op call
        self.cpu_samples: dict[str, list[float]] = {}  # CPU seconds per op call
        self.pass_s: list[float] = []
        self.pass_cpu_s: list[float] = []
        self.pass_steal: list[float] = []  # share of CPU time the host took
        self.held: list[int] = []  # checkpoint bytes held after each timed pass
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.dml_rounds: list[list[dict]] = []
        self.dml_results: list[list] = []
        self.layers: list[dict] = []  # traced: one record per timed op
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f)

    # -- set-up -------------------------------------------------------------
    def setup(self) -> None:
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        self.rows = {
            t: pq.read_metadata(os.path.join(self.data, f"{t}.parquet")).num_rows
            for t in ("orders", "customer", *self.spec.get("stored", ()))
        }
        self.phases = {}
        if self.tracer:
            self.tracer.wrap_session()  # before the registry binds barrier
        from financedatabase_spark.operators import io_sinks
        from financedatabase_spark.plans.registry import QUERIES
        from financedatabase_spark.session import get_spark

        self.io_sinks, self.queries = io_sinks, QUERIES
        self.spark = get_spark("perfbench")
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        if self.tracer:
            self.tracer.wrap_io_sinks()
            self.tracer.wrap_counts(type(self.spark.range(0)))
            self.tracer.wrap_py4j(self.spark)
            self.tracer.add_stream_listener(self.spark)
        self.phases["session_s"] = time.perf_counter() - t0
        if self.spec["dml"]:
            self.orders = os.path.join(self.data, "orders.parquet")
            self.table = io_sinks.ParquetTable(self.spark, os.path.join(self.tmp, "table"))
            self.table.write(
                self.spark.read.parquet(self.orders).filter("o_orderkey % 2 = 0"),
                mode="overwrite",
            )
        t1 = time.perf_counter()
        self.phases["table_init_s"] = t1 - t0 - self.phases["session_s"]
        self.check_pass()
        self.phases["check_pass_s"] = time.perf_counter() - t1
        self.phases["warm_pass_s"] = []
        for i in range(WARM_PASSES):
            t2 = time.perf_counter()
            self.warm_pass(i)
            self.phases["warm_pass_s"].append(time.perf_counter() - t2)

    def check_pass(self) -> None:
        """Every op once at full scale, outside the timed passes: read ops
        are collected and compared with their oracle digests; the DML round
        joins the replay checked at the end."""
        self.check_s: dict[str, float] = {}
        for name in wl.pass_order(self.workload, self.seed, -1):
            t0 = time.perf_counter()
            if name.startswith("dml."):
                self.run_dml(name[4:], timed=False)
                self.check_s[name] = time.perf_counter() - t0
                continue
            exp = self.expected["ops"][name]
            self.attempted += 1
            try:
                got = frame_digest(self.queries[name](self.spark, self.data).toPandas())
            except Exception as e:  # noqa: BLE001 - counted, run continues
                self._fail(f"check {name}: {type(e).__name__}: {e}")
                continue
            if list(got) != [exp["rows"], exp["digest"]]:
                self._fail(f"check {name}: {got[0]} rows / {got[1][:12]} vs "
                           f"oracle {exp['rows']} rows / {exp['digest'][:12]}")
            self.check_s[name] = time.perf_counter() - t0

    def warm_pass(self, i: int) -> None:
        """Every op once more, untimed and untraced, as the timed passes
        run them."""
        for name in wl.pass_order(self.workload, self.seed, -2 - i):
            if name.startswith("dml."):
                self.run_dml(name[4:], timed=False)
                continue
            self.attempted += 1
            try:
                self.queries[name](self.spark, self.data).write.format("noop").mode(
                    "overwrite").save()
            except Exception as e:  # noqa: BLE001 - counted, run continues
                self._fail(f"warm {name}: {type(e).__name__}: {e}")

    # -- ops ----------------------------------------------------------------
    def run_read(self, name: str) -> float:
        q = self.queries[name]
        if self.tracer is None:
            t0 = time.perf_counter()
            q(self.spark, self.data).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        tr, sc = self.tracer, self.spark.sparkContext
        groups = {"build": f"pb-{len(self.layers)}-build", "exec": f"pb-{len(self.layers)}-exec"}
        span = tr.start_op(self.spark, self.jvm_pid, workload=self.workload,
                           pass_no=len(self.pass_s), op=name, trace_id=self.trace_id)
        t0 = time.perf_counter()
        sc.setJobGroup(groups["build"], name)
        df = tr.build(lambda: q(self.spark, self.data))
        sc.setJobGroup(groups["exec"], name)
        tr.execute(lambda: df.write.format("noop").mode("overwrite").save())
        dt = time.perf_counter() - t0
        sc.setJobGroup("pb-idle", "")
        self._record_layers(name, span, groups)
        return dt

    def run_dml(self, kind: str, timed: bool) -> float:
        if kind == "insert_ignore":
            self.dml_rounds.append(wl.dml_round(
                self.seed, len(self.dml_rounds), self.rows["orders"], self.rows["customer"]
            ))
            self.dml_results.append([])
        op = next(o for o in self.dml_rounds[-1] if o["op"] == kind)
        self.attempted += 1
        name = f"dml.{kind}"
        groups = {"build": "pb-unused", "exec": f"pb-{len(self.layers)}-exec"}
        span = None
        if self.tracer and timed:
            span = self.tracer.start_op(self.spark, self.jvm_pid, workload=self.workload,
                                        pass_no=len(self.pass_s), op=name,
                                        trace_id=self.trace_id)
            self.spark.sparkContext.setJobGroup(groups["exec"], name)
        t0 = time.perf_counter()
        try:
            if span is None:
                result = self._dml_call(op)
            else:
                result = self.tracer.execute(lambda: self._dml_call(op))
        except Exception as e:  # noqa: BLE001 - counted, run continues
            result = None
            self._fail(f"{name} round {len(self.dml_rounds) - 1}: {type(e).__name__}: {e}")
        dt = time.perf_counter() - t0
        self.dml_results[-1].append(result)
        if span is not None:
            self.spark.sparkContext.setJobGroup("pb-idle", "")
            self._record_layers(name, span, groups)
        return dt

    def _dml_call(self, op: dict):
        from pyspark.sql import functions as F

        s, t = self.io_sinks, self.table
        if op["op"] == "insert_ignore":
            incoming = (
                self.spark.read.parquet(self.orders)
                .filter(f"o_orderkey >= {op['lo']} AND o_orderkey < {op['hi']}")
                .withColumn("o_orderpriority", F.lit("9-INSERTED"))
            )
            t.rewrite(s.insert_ignore(t.read(), incoming, ["o_orderkey"]))
            return None  # checked through the next count and the final table
        if op["op"] == "update":
            return s.run_update(t, {"o_custkey": op["custkeys"]},
                                {"o_orderpriority": op["priority"]}).rows_matched
        if op["op"] == "delete":
            return s.run_delete(t, {"o_custkey": op["custkeys"]}).rows_matched
        if op["op"] == "dedup":
            return s.dedup_rewrite(t).rows_affected
        return t.read().count()

    def _record_layers(self, name: str, span, groups: dict) -> None:
        rec = self.tracer.finish_op(self.spark, span, groups, self.jvm_pid)
        rec["op"], rec["pass_no"] = name, len(self.pass_s)
        self.layers.append(rec)

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr, flush=True)

    # -- timed passes -------------------------------------------------------
    def timed(self, seconds: float) -> None:
        """Whole passes until ``seconds`` have elapsed, and at least
        ``MIN_PASSES``."""
        self.trace_id = f"{self.workload}-{self.seed}"
        steal0, total0 = measure.cpu_jiffies()
        t0 = time.perf_counter()
        while len(self.pass_s) < MIN_PASSES or time.perf_counter() - t0 < seconds:
            if self.pass_s and time.perf_counter() - T_START > DEADLINE_S - 40:
                break  # no time left for another pass and the final check
            gc.collect()  # drop the previous pass's frames outside the timing
            j0 = measure.cpu_jiffies()
            pc0 = self.tree_cpu_s()
            p0 = time.perf_counter()
            for name in wl.pass_order(self.workload, self.seed, len(self.pass_s)):
                c0 = self.tree_cpu_s()
                if name.startswith("dml."):
                    dt = self.run_dml(name[4:], True)
                else:
                    self.attempted += 1
                    try:
                        dt = self.run_read(name)
                    except Exception as e:  # noqa: BLE001 - counted, run continues
                        self._fail(f"{name}: {type(e).__name__}: {e}")
                        continue
                self.cpu_samples.setdefault(name, []).append(self.tree_cpu_s() - c0)
                self.samples.setdefault(name, []).append(dt)
            self.pass_s.append(time.perf_counter() - p0)
            self.pass_cpu_s.append(self.tree_cpu_s() - pc0)
            j1 = measure.cpu_jiffies()
            self.pass_steal.append((j1[0] - j0[0]) / max(j1[1] - j0[1], 1))
            self.held.append(self.checkpoint_bytes())
        steal1, total1 = measure.cpu_jiffies()
        self.steal_share = (steal1 - steal0) / max(total1 - total0, 1)

    # -- DML check ------------------------------------------------------------
    def check_table(self) -> dict:
        """Replay every DML round in DuckDB; compare each call's result and
        the committed table, read by DuckDB from the ``_CURRENT`` version."""
        import duckdb

        con = duckdb.connect()
        expected = wl.duckdb_replay(con, self.orders, self.dml_rounds)
        for r, (got, exp) in enumerate(zip(self.dml_results, expected)):
            for op, g, e in zip(wl.DML_OPS, got, exp):
                if g is not None and g != e:
                    self._fail(f"dml.{op} round {r}: returned {g}, replay {e}")
        with open(os.path.join(self.table.path, "_CURRENT")) as f:
            current = os.path.join(self.table.path, f.read().strip())
        self.attempted += 1
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT * FROM t EXCEPT ALL "
            f"SELECT * FROM read_parquet('{current}/*.parquet'))) + "
            f"(SELECT count(*) FROM (SELECT * FROM read_parquet('{current}/*.parquet') "
            f"EXCEPT ALL SELECT * FROM t))"
        ).fetchone()[0]
        live = con.execute("SELECT count(*) FROM t").fetchone()[0]
        if diff:
            self._fail(f"dml table: {diff} rows differ from the DuckDB replay")
        stored = measure.dir_bytes(self.table.path)
        con.close()
        # rows each call inserted, updated, deleted or de-duplicated, in call
        # order (the check round first), for write amplification
        changed = [
            e if op["op"] != "count" else 0
            for rnd, res in zip(self.dml_rounds, expected) for op, e in zip(rnd, res)
        ]
        return {"live_rows": live, "stored_bytes": stored, "changed_rows": changed}

    def checkpoint_bytes(self) -> int:
        """Memory plus disk bytes of every RDD the session holds (the
        registered queries' ``session.barrier`` checkpoints; one live copy
        per query name)."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)

    def tree_cpu_s(self) -> float:
        """CPU seconds used so far by this process, the JVM and the Python
        workers (the kernel leaves out the time the host ran other guests)."""
        return measure.tree_cpu_s([os.getpid()] + measure.proc_tree(self.jvm_pid))

    # -- peak memory --------------------------------------------------------
    def peak_rss_mb(self) -> float:
        pids = [os.getpid()] + measure.proc_tree(self.jvm_pid)
        return sum(measure.vm_hwm_kb(p) for p in pids) / 1024.0

    def stop(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)


def _end_to_end(r: Runner, setup_s: float, table: dict | None) -> tuple[dict, dict, dict]:
    """(gated metrics, recorded-only metrics, wall op summary)."""
    ops = measure.summarize_ops(r.samples)
    cpu = measure.summarize_ops(r.cpu_samples)
    if table:
        stored = table["stored_bytes"] / table["live_rows"]
    else:  # checkpoint bytes the builds keep per row of the tables they read
        stored = statistics.median(r.held) / sum(r.rows[t] for t in r.spec["stored"])
    gated = {
        "setup_s": (setup_s, "s"),
        "pass_cpu_s": (statistics.median(r.pass_cpu_s), "s"),
        "geomean_op_cpu_s": (cpu["geomean_op_s"], "s"),
        "ok_ratio": (1.0 - r.failed / r.attempted, "ratio"),
        "peak_rss_mb": (r.peak_rss_mb(), "MB"),
        "stored_bytes_per_row": (stored, "B/row"),
    }
    # wall time grows with the CPU time the host takes from the VM (steal):
    # in a spell of 9-17 % steal a market_etl pass took 1.4-1.9x its usual
    # wall time and 1.25-1.35x its CPU seconds. op_p50_s lands among ops of
    # similar length and moves with which one; op_tail_s equals it below
    # 20 samples
    recorded = {
        "pass_s": (statistics.median(r.pass_s), "s"),
        "geomean_op_s": (ops["geomean_op_s"], "s"),
        "op_p50_s": (ops["op_p50_s"], "s"),
        "op_tail_s": (ops["op_tail_s"], "s"),
    }
    return gated, recorded, ops


def _per_layer(r: Runner, table: dict | None) -> tuple[dict, dict]:
    from tracing import LAYER_METRICS

    passes = len(r.pass_s)
    per_op: dict[str, dict] = {}
    for rec in r.layers:
        agg = per_op.setdefault(rec["op"], {n: 0 for n, _ in LAYER_METRICS})
        for n, _ in LAYER_METRICS:
            agg[n] += rec[n] / passes
    total = {n: sum(op[n] for op in per_op.values()) for n, _ in LAYER_METRICS}
    dml = [rec for rec in r.layers if rec["op"].startswith("dml.")]
    if dml:
        total["io_sinks.jobs_per_dml"] = sum(x["io_sinks.jobs_per_dml"] for x in dml) / len(dml)
        # bytes written per stored byte of the rows the timed calls changed
        bpr = table["stored_bytes"] / max(table["live_rows"], 1)
        changed = sum(table["changed_rows"][-len(dml):]) * bpr
        written = sum(x["io_sinks.bytes_written"] for x in dml)
        total["io_sinks.write_amp"] = written / changed if changed else 0.0
    units = dict(LAYER_METRICS)
    return {n: (total[n], units[n]) for n, _ in LAYER_METRICS}, per_op


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "financedatabase_spark")):
        print(f"perfbench: no financedatabase_spark package under {ROOT}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, _terminated)  # clean up the JVM and scratch files
    signal.alarm(DEADLINE_S)
    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    _env(tmp)
    sys.path.insert(0, ROOT)
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
    r = Runner(args.workload, args.seed, tmp, tracer)
    r.t_setup0 = time.perf_counter()
    try:
        r.setup()
        setup_s = time.perf_counter() - T_START
        setup_cpu_s = r.tree_cpu_s()
        r.timed(args.seconds)
        t_timed = time.perf_counter()
        table = r.check_table() if r.spec["dml"] else None
        r.phases["table_check_s"] = time.perf_counter() - t_timed
        e2e, recorded, ops = _end_to_end(r, setup_s, table)
        layers, per_op = _per_layer(r, table) if args.trace else (None, None)
        metrics = layers or e2e
        import duckdb
        import pyspark

        # ROADMAP's per-query ratio: read ops only, against the DuckDB
        # oracles timed once on the same data (expected.json)
        duck_g = r.expected["duckdb_geomean_op_s"][args.workload]
        read_g = measure.geomean([
            statistics.median(x) for n, x in r.samples.items() if not n.startswith("dml.")
        ])
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "code": code_fingerprint(),
            "sf": SF, "nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
            "spark": pyspark.__version__, "duckdb": duckdb.__version__,
            "passes": len(r.pass_s), "pass_s": r.pass_s,
            # share of CPU time the host took from this VM while timing
            "timed_cpu_steal_share": r.steal_share,
            "tail_percentile": ops["tail_percentile"], "op_samples": ops["op_samples"],
            "failed_ratio": r.failed / r.attempted, "errors": r.errors,
            "phases_s": {"python_s": r.t_setup0 - T_START, **r.phases},
            "setup_cpu_s": setup_cpu_s,
            "check_op_s": r.check_s,
            "op_median_s": {n: statistics.median(x) for n, x in r.samples.items()},
            "op_samples_s": r.samples,
            "duckdb_geomean_op_s": duck_g,
            "read_geomean_op_s": read_g,
            "engine_vs_duckdb": read_g / duck_g,
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "pass_cpu_s": r.pass_cpu_s,
            "pass_steal_share": r.pass_steal,
            "op_cpu_median_s": {n: statistics.median(x) for n, x in r.cpu_samples.items()},
            "op_cpu_samples_s": r.cpu_samples,
            "recorded": {k: {"value": v, "unit": u} for k, (v, u) in recorded.items()},
        }
        if args.trace:
            record["per_op"] = per_op
            spans = tracer.log.spans
            selfs = measure.self_times(spans)
            by_layer: dict[str, float] = {}
            for s in spans:
                by_layer[s.name] = by_layer.get(s.name, 0.0) + selfs[s.id] / len(r.pass_s)
            record["self_s_per_pass"] = by_layer
            record["spans"] = [
                {"id": s.id, "parent": s.parent, "name": s.name, "start": s.start,
                 "end": s.end, **s.attrs} for s in spans
            ]
            untraced = _untraced_record(args.workload, args.seed, record["code"])
            if untraced is not None:
                record["tracing_overhead_pass_s"] = (
                    statistics.median(r.pass_s) - untraced["recorded"]["pass_s"]["value"])
                record["tracing_overhead_pass_cpu_s"] = (
                    statistics.median(r.pass_cpu_s) - untraced["end_to_end"]["pass_cpu_s"])
        _save_record(record)
    finally:  # an error propagates (exit code 1, no result line) after cleanup
        signal.alarm(0)
        r.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    summary = {k: v for k, v in record.items() if k != "spans"}
    print(json.dumps(summary))
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _out_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{seed}-trace{trace}.json")


def code_fingerprint() -> str:
    """sha256 over the engine's and the benchmark's Python sources."""
    h = hashlib.sha256()
    for top in ("financedatabase_spark", "perfbench"):
        for base, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(base, f)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def _untraced_record(workload: str, seed: int, code: str) -> dict | None:
    """The record of the untraced run of ``workload`` with the same seed and
    the same code, if one is kept in this checkout."""
    try:
        with open(_out_path(workload, seed, 0)) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        return None
    return rec if rec.get("code") == code else None


def _save_record(record: dict) -> None:
    path = _out_path(record["workload"], record["seed"], record["trace"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(record, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
