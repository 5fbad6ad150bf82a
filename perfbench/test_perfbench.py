"""Unit tests of the benchmark's own helpers.

    python3 -m pytest perfbench/test_perfbench.py            # fast helpers
    python3 -m pytest perfbench/test_perfbench.py -m heavy   # + two traced runs
"""

from __future__ import annotations

import decimal
import json
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import measure  # noqa: E402
import workloads as wl  # noqa: E402
from digest import frame_digest  # noqa: E402


# -- tail percentile ----------------------------------------------------------

@pytest.mark.parametrize("n,p", [
    (1, 50), (14, 50), (20, 50), (21, 52), (30, 66), (40, 75),
    (100, 90), (200, 95), (1000, 99), (10_000, 99),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert measure.tail_percentile(n) == p
    if n >= 20:
        assert n * (1 - p / 100) >= 10 - 1e-9
        assert n * (1 - (p + 1) / 100) < 10 or p == 99


def test_tail_percentile_rejects_empty():
    with pytest.raises(ValueError):
        measure.tail_percentile(0)


def test_summarize_ops_uses_per_op_medians_and_tail_rule():
    samples = {"a": [1.0, 3.0, 2.0], "b": [4.0, 4.0, 4.0]}
    s = measure.summarize_ops(samples)
    assert s["geomean_op_s"] == pytest.approx((2.0 * 4.0) ** 0.5)
    assert s["op_samples"] == 6 and s["tail_percentile"] == 50
    assert s["op_p50_s"] == pytest.approx(3.5)
    assert measure.percentile([1, 2, 3, 4], 50) == pytest.approx(2.5)


# -- span self time -------------------------------------------------------------

def test_self_time_subtracts_union_of_children():
    log = measure.SpanLog()
    op = log.add("op", 0.0, 10.0, None)
    build = log.add("build", 0.0, 6.0, op.id)
    log.add("execute", 6.0, 10.0, op.id)
    # overlapping grandchildren count once; the part outside the parent not at all
    log.add("session.barrier", 1.0, 3.0, build.id)
    log.add("session.eager_job", 2.0, 4.0, build.id)
    log.add("streaming.batch", 5.5, 7.0, build.id)
    st = measure.self_times(log.spans)
    assert st[op.id] == pytest.approx(0.0)
    assert st[build.id] == pytest.approx(6.0 - 3.0 - 0.5)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(2.0)


def test_span_log_nests_open_spans():
    log = measure.SpanLog()
    a = log.open("op")
    b = log.open("build")
    log.close(b)
    c = log.open("execute")
    log.close(c)
    log.close(a)
    assert (b.parent, c.parent, a.parent) == (a.id, a.id, None)
    assert a.start <= b.start <= b.end <= c.start <= c.end <= a.end


def test_covered_merges_and_clips():
    assert measure.covered([(0, 2), (1, 3), (5, 9)], 1, 6) == pytest.approx(3.0)
    assert measure.covered([], 0, 1) == 0.0


# -- /proc readers ------------------------------------------------------------

def _fake_proc(tmp_path, pid, ppid, ticks, hwm_kb, comm="py (x) y"):
    d = tmp_path / str(pid)
    d.mkdir()
    u, s, cu, cs = ticks
    fields = ["S", str(ppid)] + ["0"] * 9 + [str(u), str(s), str(cu), str(cs)] + ["0"] * 30
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(fields) + "\n")
    (d / "status").write_text(f"Name:\tx\nVmPeak:\t  999 kB\nVmHWM:\t  {hwm_kb} kB\n")
    (d / "cmdline").write_bytes(b"python3\0-m\0pyspark.daemon\0")


def test_proc_cpu_counts_reaped_children_once(tmp_path):
    tck = os.sysconf("SC_CLK_TCK")
    _fake_proc(tmp_path, 10, 1, (tck, tck, 2 * tck, 0), 100)
    _fake_proc(tmp_path, 11, 10, (tck, 0, 0, 0), 50)
    _fake_proc(tmp_path, 12, 11, (0, tck, 0, 0), 25)
    proc = str(tmp_path)
    assert measure.proc_cpu_s(10, proc) == pytest.approx(4.0)
    assert sorted(measure.proc_tree(10, proc)) == [10, 11, 12]
    assert measure.tree_cpu_s(measure.proc_tree(10, proc), proc) == pytest.approx(6.0)
    assert measure.tree_cpu_s([10, 99], proc) == pytest.approx(4.0)  # 99 exited
    assert measure.vm_hwm_kb(11, proc) == 50
    assert measure.vm_hwm_kb(99, proc) == 0
    assert "pyspark.daemon" in measure.proc_cmdline(12, proc)


def test_proc_readers_on_this_process():
    before = measure.proc_cpu_s(os.getpid())
    t_end = time.process_time() + 0.3
    while time.process_time() < t_end:
        pass
    assert measure.proc_cpu_s(os.getpid()) - before >= 0.2
    assert measure.vm_hwm_kb(os.getpid()) > 1000


def test_cpu_jiffies_reads_steal_and_total(tmp_path):
    (tmp_path / "stat").write_text("cpu  100 5 20 800 7 1 2 30 40 0\ncpu0 1 2 3 4\n")
    assert measure.cpu_jiffies(str(tmp_path)) == (30, 965)
    steal, total = measure.cpu_jiffies()
    assert 0 <= steal <= total


# -- seeded op sequences ------------------------------------------------------

def test_one_seed_gives_one_dml_sequence():
    a = [wl.dml_round(7, r, 150_000, 15_000) for r in range(20)]
    b = [wl.dml_round(7, r, 150_000, 15_000) for r in range(20)]
    c = [wl.dml_round(8, r, 150_000, 15_000) for r in range(20)]
    assert a == b and a != c
    assert [op["op"] for op in a[0]] == wl.DML_OPS
    windows = [r[0]["lo"] for r in a]
    assert len(set(windows)) == len(windows)  # no insert window repeats
    assert all(lo % wl.INSERT_BATCH == 0 and lo + wl.INSERT_BATCH <= 150_000 for lo in windows)


def test_pass_order_is_seeded_and_complete():
    for w, spec in wl.WORKLOADS.items():
        o1 = wl.pass_order(w, 3, 0)
        assert o1 == wl.pass_order(w, 3, 0)
        assert sorted(n for n in o1 if not n.startswith("dml.")) == sorted(spec["reads"])
        if spec["dml"]:
            i = o1.index("dml.insert_ignore")
            assert o1[i:i + len(wl.DML_OPS)] == [f"dml.{op}" for op in wl.DML_OPS]
    orders = {tuple(wl.pass_order("market_etl", s, 0)) for s in range(10)}
    assert len(orders) > 1


def test_duckdb_replay_tracks_each_call(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 40
    path = str(tmp_path / "orders.parquet")
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array([k % 4 for k in range(n)], pa.int64()),
        "o_orderstatus": ["O"] * n,
        "o_totalprice": [1.0] * n,
        "o_orderdate": pa.array([0] * n, pa.timestamp("us")),
        "o_orderpriority": ["1-URGENT"] * n,
    }), path)
    rounds = [[
        {"op": "insert_ignore", "lo": 0, "hi": 10},
        {"op": "update", "custkeys": [1], "priority": "U-0000"},
        {"op": "delete", "custkeys": [2]},
        {"op": "dedup"},
        {"op": "count"},
    ]]
    con = duckdb.connect()
    # 20 even keys start in the table; 5 odd keys in [0, 10) are inserted;
    # custkey 1 owns odd keys only; custkey 2 owns 10 even keys
    assert wl.duckdb_replay(con, path, rounds) == [[5, 3, 10, 0, 15]]


# -- result digests -------------------------------------------------------------

def test_digest_ignores_order_and_physical_types():
    n = 500
    a = pd.DataFrame({
        "k": np.arange(n, dtype=np.int64),
        "x": np.linspace(0, 1, n),
        "s": [f"v{i % 7}" for i in range(n)],
        "t": pd.date_range("2024-01-01", periods=n, freq="min").astype("datetime64[us]"),
        "m": [decimal.Decimal(i) / 4 for i in range(n)],
    })
    b = a.sample(frac=1.0, random_state=0)[["t", "s", "m", "x", "k"]].copy()
    b["k"] = b["k"].astype(np.int32)
    b["t"] = b["t"].astype("datetime64[ns]")
    b["m"] = b["m"].astype(float)
    assert frame_digest(a) == frame_digest(b)
    c = a.copy()
    c.loc[3, "x"] = np.nextafter(c.loc[3, "x"], 2.0)
    assert frame_digest(c) != frame_digest(a)
    assert frame_digest(pd.concat([a, a.iloc[:1]])) != frame_digest(a)


# -- count metrics repeat exactly -----------------------------------------------

COUNT_METRICS = ["plans.py4j_calls", "session.eager_jobs", "operators.stages"]
#: `insert_ignore` (dropDuplicates + anti-join) and `dedup_rewrite`
#: (dropDuplicates) shuffle, and the order of the rows they write varies from
#: run to run; later rewrites keep that order, so the compressed bytes of the
#: DML table differ by a few bytes per MB between runs (see the xfail below).
DML_BYTES_RTOL = 1e-3


def _traced(workload: str, seed: int) -> tuple[dict, dict]:
    root = os.path.dirname(HERE)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=root, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


@pytest.fixture(scope="module")
def traced_pair():
    """Two traced runs with one seed per workload, made on first use."""
    runs: dict[str, tuple] = {}

    def get(workload: str):
        if workload not in runs:
            runs[workload] = (_traced(workload, 5), _traced(workload, 5))
        return runs[workload]

    return get


@pytest.mark.heavy
@pytest.mark.parametrize("workload", sorted(wl.WORKLOADS))
def test_count_metrics_repeat_in_two_traced_runs(traced_pair, workload):
    (rec1, res1), (rec2, res2) = traced_pair(workload)
    assert res1["correct"] and res2["correct"]
    for m in COUNT_METRICS:
        assert res1["metrics"][m]["value"] == res2["metrics"][m]["value"], m
    assert rec1["per_op"].keys() == rec2["per_op"].keys()
    for op, layers in rec1["per_op"].items():
        for m in COUNT_METRICS:
            assert layers[m] == rec2["per_op"][op][m], (op, m)
        m = "io_sinks.bytes_written"
        if op.startswith("dml.") and op != "dml.count":
            assert layers[m] == pytest.approx(rec2["per_op"][op][m], rel=DML_BYTES_RTOL)
            assert layers[m] > 0, (op, m)
    stored = rec1["end_to_end"]["stored_bytes_per_row"]
    if wl.WORKLOADS[workload]["dml"]:  # table bytes per live row
        assert stored == pytest.approx(
            rec2["end_to_end"]["stored_bytes_per_row"], rel=DML_BYTES_RTOL)
    else:  # checkpoint bytes per input row
        assert stored == rec2["end_to_end"]["stored_bytes_per_row"] > 0


@pytest.mark.heavy
@pytest.mark.xfail(strict=False, reason=(
    "insert_ignore and dedup_rewrite shuffle and can emit rows in a different "
    "order from run to run, and later rewrites keep that order, so the parquet bytes "
    "(and the table's stored bytes per row) differ by 10-100 B in 1.2 MB in "
    "some pairs of runs"))
def test_dml_bytes_repeat_exactly(traced_pair):
    (rec1, _), (rec2, _) = traced_pair("market_etl")
    m = "io_sinks.bytes_written"
    for op in ("dml.insert_ignore", "dml.update", "dml.delete", "dml.dedup"):
        assert rec1["per_op"][op][m] == rec2["per_op"][op][m], op
    assert (rec1["end_to_end"]["stored_bytes_per_row"]
            == rec2["end_to_end"]["stored_bytes_per_row"])
