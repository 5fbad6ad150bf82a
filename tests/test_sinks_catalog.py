"""Stateful sink + catalog operators (not expressible as SELECT oracles):
ParquetTable DML round-trips and environment lifecycle over spark.catalog."""

import uuid

import pytest
from pyspark.sql import functions as F

from financedatabase_spark.operators.io_sinks import (
    DmlReport,
    ParquetTable,
    clear_table,
    dedup_rewrite,
    eq_predicate,
    insert_ignore,
    run_delete,
    run_update,
)
from financedatabase_spark.sources.catalog import (
    EnvironmentCatalog,
    resolve_database_name,
    resolve_environment,
    validate_identifier,
)


@pytest.fixture()
def table(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "O", 10.0), (2, "F", 20.0), (3, "O", 30.0), (3, "O", 30.0)],
        "id long, status string, price double",
    )
    t.write(df, mode="overwrite")
    return t


def test_update_rewrite_roundtrip(table):
    report = run_update(table, {"status": "O"}, {"price": 99.0})
    assert report.success and report.rows_matched == 3
    rows = {(r.id, r.price) for r in table.read().collect()}
    assert (1, 99.0) in rows and (2, 20.0) in rows


def test_delete_dry_run_then_real(table):
    dry = run_delete(table, {"status": "F"}, dry_run=True)
    assert dry.rows_matched == 1 and dry.rows_affected == 0
    assert table.read().count() == 4
    real = run_delete(table, {"status": "F"})
    assert real.rows_affected == 1
    assert table.read().filter(F.col("status") == "F").count() == 0


def test_clear_and_dedup(table):
    rep = dedup_rewrite(table)
    assert rep.rows_affected == 1  # one duplicated row removed
    assert table.read().count() == 3
    clear_table(table)
    assert table.read().count() == 0


def _job_count(spark, fn):
    """(number of Spark jobs ``fn`` ran, its result)."""
    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_dml_guard_counts_equal_separate_counts(spark, tmp_path):
    """On a table with duplicate rows, a NULL filter key and duplicates
    that hold NULLs, the observed guard counts equal separate count jobs,
    a NULL predicate counting as no match; an empty table reports zeros."""
    t = ParquetTable(spark, str(tmp_path / "n"))
    t.write(
        spark.createDataFrame(
            [(1, "O", 10.0), (2, None, 20.0), (3, "O", None), (3, "O", None),
             (4, "F", 40.0), (4, "F", 40.0), (5, None, 20.0), (5, None, 20.0)],
            "id long, status string, price double",
        ),
        mode="overwrite",
    )

    def matched(filters):
        return t.read().filter(eq_predicate(filters)).count()

    want = matched({"status": ["O", "F"]})
    rep = run_update(t, {"status": ["O", "F"]}, {"price": 1.0})
    assert (rep.rows_matched, rep.rows_affected) == (want, want) == (5, 5)

    want = matched({"status": "F"})
    rep = run_delete(t, {"status": "F"})
    assert (rep.rows_matched, rep.rows_affected) == (want, want) == (2, 2)

    before = t.read().count()
    after = t.read().dropDuplicates().count()
    rep = dedup_rewrite(t)
    assert (rep.rows_matched, rep.rows_affected) == (before, before - after) == (6, 2)
    assert t.read().count() == after

    clear_table(t)
    assert run_update(t, {"status": "O"}, {"price": 2.0}) == DmlReport(True, 0, 0)
    assert run_delete(t, {"status": "O"}) == DmlReport(True, 0, 0)
    assert dedup_rewrite(t) == DmlReport(True, 0, 0)


def test_dml_statement_job_budget(spark, table):
    """Once the table has been read, UPDATE and DELETE each run one
    Spark job (the write, guard count included) and dedup runs two."""
    table.read()
    jobs, rep = _job_count(spark, lambda: run_update(table, {"status": "O"}, {"price": 1.0}))
    assert (jobs, rep.rows_matched) == (1, 3)
    jobs, rep = _job_count(spark, lambda: run_delete(table, {"status": "F"}))
    assert (jobs, rep.rows_matched) == (1, 1)
    jobs, rep = _job_count(spark, lambda: dedup_rewrite(table))
    assert (jobs, rep.rows_affected) == (2, 1)
    assert sorted((r.id, r.price) for r in table.read().collect()) == [(1, 1.0), (3, 1.0)]


def test_insert_ignore_keeps_one_unspecified_duplicate(spark, table):
    """A PK duplicated across two partitions of ``incoming`` collapses to
    exactly one row taken from that key's incoming rows (which one is
    unspecified); keys already in the target are ignored and the
    target's rows come through unchanged, duplicates included."""
    schema = "id long, status string, price double"
    rows = [(10, "N", 1.0), (11, "N", 2.0), (1, "N", 9.0), (10, "X", 5.0), (12, "N", 3.0)]
    incoming = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    parts = {r.p for r in incoming.filter("id = 10")
             .select(F.spark_partition_id().alias("p")).collect()}
    assert len(parts) == 2

    target = table.read()
    want_target = sorted(target.collect())
    got = insert_ignore(target, incoming, ["id"]).collect()
    old_ids = {r.id for r in want_target}
    assert sorted(r for r in got if r.id in old_ids) == want_target
    new_rows = {}
    for r in got:
        if r.id not in old_ids:
            new_rows.setdefault(r.id, []).append(tuple(r))
    assert sorted(new_rows) == [10, 11, 12]
    assert all(len(v) == 1 for v in new_rows.values())
    assert new_rows[10][0] in {(10, "N", 1.0), (10, "X", 5.0)}
    assert new_rows[11] == [(11, "N", 2.0)] and new_rows[12] == [(12, "N", 3.0)]


@pytest.mark.parametrize("partition_by", [None, ["status"]])
def test_read_after_rewrite_reuses_schema(spark, tmp_path, partition_by):
    """A read after a DML rewrite runs no job, and its schema is the one
    a fresh inference of the committed directory finds."""
    t = ParquetTable(spark, str(tmp_path / "s"), partition_by=partition_by)
    t.write(
        spark.createDataFrame(
            [(1, "O", 10.0), (2, "F", 20.0), (3, "O", 30.0)],
            "id long, status string, price double",
        ),
        mode="overwrite",
    )
    t.read()
    run_update(t, {"id": 1}, {"price": 99.0})
    jobs, df = _job_count(spark, t.read)
    assert jobs == 0
    assert df.schema == spark.read.parquet(t._current_dir()).schema
    assert sorted((r.id, r.price) for r in df.collect()) == [(1, 99.0), (2, 20.0), (3, 30.0)]


def test_schema_memo_invalidation(spark, table):
    """The remembered schema never hides a schema change: not after a
    rewrite of another shape, a plain write, or a rewrite by another
    writer of the same path."""
    table.read()
    table.rewrite(table.read().drop("price"))
    assert table.read().columns == ["id", "status"]

    table.write(
        spark.createDataFrame([(7, "X", 1.5)], "id long, status string, qty double"),
        mode="overwrite",
    )
    assert table.read().columns == ["id", "status", "qty"]

    other = ParquetTable(spark, table.path)
    other.rewrite(other.read().withColumn("flag", F.lit(True)))
    jobs, df = _job_count(spark, table.read)
    assert jobs == 1  # the pointer moved: infer again
    assert df.columns == ["id", "status", "qty", "flag"]
    assert df.collect()[0].flag is True


def test_resolution_rules():
    assert resolve_database_name("portfolio_data", "prod") == "portfolio_data"
    assert resolve_database_name("master_config", "dev") == "master_config"
    assert resolve_database_name("portfolio_data", "dev") == "portfolio_data_dev"
    with pytest.raises(ValueError):
        validate_identifier("bad;name")
    assert resolve_environment(cli_env="uat") == "uat"
    assert resolve_environment(branch="main") == "prod"
    assert resolve_environment(branch="feature-x") == "feature-x"


def test_environment_lifecycle(spark):
    cat = EnvironmentCatalog(spark)
    base = "fdtest"
    # the warehouse/metastore persist across sessions — start clean
    spark.sql("DROP DATABASE IF EXISTS fdtest_dev CASCADE")
    spark.sql("DROP DATABASE IF EXISTS fdtest_uat CASCADE")
    cat.create_environment_database(base, "dev")
    spark.sql("CREATE TABLE IF NOT EXISTS fdtest_dev.t1 (a INT) USING parquet")
    spark.sql("CREATE TABLE IF NOT EXISTS fdtest_dev.t2 (b STRING) USING parquet")
    try:
        diff = cat.diff_environments([base], "dev", "uat")
        assert diff.missing_databases == ["fdtest_uat"]
        synced = cat.sync_environments([base], "dev", "uat", dry_run=False)
        assert synced.missing_databases == ["fdtest_uat"]
        # after DB creation, a second sync copies tables
        cat.sync_environments([base], "dev", "uat", dry_run=False)
        assert cat.list_tables(base, "uat") == ["t1", "t2"]
        assert cat.diff_environments([base], "dev", "uat").in_sync
        with pytest.raises(PermissionError):
            cat.delete_environment([base], "prod")
        assert cat.delete_environment([base], "uat") == ["fdtest_uat"]
    finally:
        spark.sql("DROP DATABASE IF EXISTS fdtest_dev CASCADE")
        spark.sql("DROP DATABASE IF EXISTS fdtest_uat CASCADE")


def test_rewrite_crash_before_commit_preserves_table(table, monkeypatch):
    """A crash anywhere before the pointer swap must leave the old
    contents fully readable — the rewrite commit is the os.replace of
    _CURRENT, nothing earlier mutates visible state."""
    import os as _os

    before = sorted(r.id for r in table.read().collect())

    def boom(src, dst):
        raise OSError("simulated crash at the commit point")

    monkeypatch.setattr(_os, "replace", boom)
    with pytest.raises(OSError):
        run_update(table, {"status": "O"}, {"price": 0.0})
    monkeypatch.undo()

    assert sorted(r.id for r in table.read().collect()) == before
    assert {r.price for r in table.read().filter(F.col("status") == "O").collect()} != {0.0}
    # and the table still accepts a normal rewrite afterwards
    report = run_update(table, {"status": "O"}, {"price": 7.0})
    assert report.success
    assert {r.price for r in table.read().filter(F.col("status") == "O").collect()} == {7.0}


def test_rewrite_crash_during_prune_is_harmless(table, monkeypatch):
    """After the pointer swap the transaction is committed; a crash in the
    best-effort prune leaves stale-but-invisible version dirs only."""
    import os as _os
    import shutil as _shutil

    real_rmtree = _shutil.rmtree

    def failing_rmtree(path, *a, **k):
        if _os.path.basename(str(path)) == table.LOCK:  # the lease release
            return real_rmtree(path, *a, **k)
        raise OSError("simulated prune failure")

    monkeypatch.setattr(_shutil, "rmtree", failing_rmtree)
    try:
        report = run_delete(table, {"id": 1})
    finally:
        monkeypatch.undo()
    assert report.success and report.rows_affected == 1
    assert sorted(r.id for r in table.read().collect()) == [2, 3, 3]


def test_rewrites_chain_across_versions(table):
    """Successive rewrites bump the version pointer; reads always resolve
    through it and appends land in the current version."""
    run_update(table, {"id": 1}, {"price": 1.0})
    run_delete(table, {"id": 2})
    dedup_rewrite(table)
    df = table.read()
    assert sorted(r.id for r in df.collect()) == [1, 3]
    extra = df.sparkSession.createDataFrame([(9, "X", 9.0)], df.schema)
    table.write(extra, mode="append")
    assert sorted(r.id for r in table.read().collect()) == [1, 3, 9]
    clear_table(table)
    assert table.read().count() == 0 and table.exists()


def test_time_travel_reads_retained_versions(table):
    """With retain >= 2 the previous snapshot stays readable by version
    number while the pointer serves the newest — Delta-style time travel
    from the versioned-commit layout."""
    from financedatabase_spark.operators.io_sinks import update_rewrite

    df = table.read()
    out, _ = update_rewrite(df, {"status": "O"}, {"price": 42.0})
    table.rewrite(out, retain=2)
    out2, _ = update_rewrite(table.read(), {"status": "F"}, {"price": 7.0})
    table.rewrite(out2, retain=2)

    assert table.versions()[-2:] == [1, 2]
    cur = table.read()
    assert {r.price for r in cur.filter(F.col("status") == "F").collect()} == {7.0}
    v1 = table.read(version=1)
    assert {r.price for r in v1.filter(F.col("status") == "F").collect()} == {20.0}
    assert {r.price for r in v1.filter(F.col("status") == "O").collect()} == {42.0}
    with pytest.raises(FileNotFoundError):
        table.read(version=9)


def test_read_version_zero_is_flat_layout(table):
    """Version 0 is the flat pre-rewrite layout itself — readable by
    number before the first rewrite, gone (FileNotFoundError) after the
    prune that supersedes it."""
    assert table.versions() == [0]
    assert table.read(version=0).count() == 4
    run_delete(table, {"id": 1})
    assert table.versions() == [1]
    with pytest.raises(FileNotFoundError):
        table.read(version=0)


def test_orphan_uncommitted_version_invisible(table, monkeypatch):
    """A _vN dir left by a crash-before-commit rewrite is newer than the
    committed pointer: versions() must not list it and read(version=N)
    must refuse it — it may be an incomplete snapshot."""
    import os as _os

    monkeypatch.setattr(_os, "replace", lambda s, d: (_ for _ in ()).throw(OSError("crash")))
    with pytest.raises(OSError):
        run_delete(table, {"id": 1})
    monkeypatch.undo()

    import os

    assert os.path.isdir(os.path.join(table.path, "_v00000001"))  # orphan exists on disk
    assert table.versions() == [0]  # but is not a committed version
    with pytest.raises(FileNotFoundError):
        table.read(version=1)
    assert table.read().count() == 4  # pointer (flat layout) still serves old data


def test_rewrite_preserves_partition_layout(spark, tmp_path):
    """rewrite() must write version snapshots WITH the table's partitionBy
    so scan pruning survives, and the flat-layout prune must remove the
    superseded key=value/ partition subdirs from the table root."""
    import os

    t = ParquetTable(spark, str(tmp_path / "pt"), partition_by=["status"])
    df = spark.createDataFrame(
        [(1, "O", 10.0), (2, "F", 20.0), (3, "O", 30.0)],
        "id long, status string, price double",
    )
    t.write(df, mode="overwrite")
    assert os.path.isdir(os.path.join(t.path, "status=O"))  # flat partitioned layout

    run_update(t, {"id": 1}, {"price": 99.0})
    vdir = os.path.join(t.path, "_v00000001")
    assert sorted(e for e in os.listdir(vdir) if e.startswith("status=")) == [
        "status=F",
        "status=O",
    ]
    # superseded flat partition dirs are pruned, not orphaned forever
    assert not os.path.isdir(os.path.join(t.path, "status=O"))
    got = {(r.id, r.price) for r in t.read().collect()}
    assert got == {(1, 99.0), (2, 20.0), (3, 30.0)}


def test_concurrent_rewrite_second_writer_loses(table):
    """Single-writer lease: while one writer holds _LOCK a second rewrite
    fails fast with ConcurrentWriteError and the table is untouched; a
    stale (crashed-writer) lease is broken after its timeout."""
    import os

    from financedatabase_spark.operators.io_sinks import ConcurrentWriteError

    lock = table._acquire_lock()  # writer A takes the lease
    with pytest.raises(ConcurrentWriteError):
        run_update(table, {"status": "O"}, {"price": 0.0})  # writer B loses
    assert table.read().count() == 4
    assert {r.price for r in table.read().filter(F.col("status") == "O").collect()} != {0.0}
    table._release_lock(lock)  # writer A releases

    report = run_update(table, {"status": "O"}, {"price": 5.0})
    assert report.success

    # a lease whose holder crashed long ago does not wedge the table
    stale = table._acquire_lock()
    old = 1_000_000.0
    os.utime(stale, (old, old))
    report = run_update(table, {"status": "F"}, {"price": 6.0})
    assert report.success


def test_export_jsonl_shards_roundtrip(spark, sf_dir, tmp_path):
    """Packed shards export as shard=<id>/ JSONL dirs; reading them back
    yields exactly the input rows with their shard assignment."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators.io_sinks import export_jsonl_shards
    from financedatabase_spark.operators.sampling import token_shard_packing
    from financedatabase_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    assigned = token_shard_packing(
        docs, F.col("n_chars"), budget=200_000, key_cols=["lang"], return_rows=True
    )
    rows = docs.join(assigned.select("doc_id", "shard_idx"), "doc_id")
    out = str(tmp_path / "shards")
    n_shards = export_jsonl_shards(rows, out, shard_col="shard_idx")
    assert n_shards == assigned.select("shard_idx").distinct().count()

    back = spark.read.json(out)
    assert back.count() == docs.count()
    # every row landed in the shard the packing assigned it
    moved = (
        back.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("shard_idx").cast("long").alias("got"),
        )
        .join(assigned.select("doc_id", F.col("shard_idx").alias("want")), "doc_id")
        .filter(F.col("got") != F.col("want"))
        .count()
    )
    assert moved == 0
    # summary form and per-row form agree
    from financedatabase_spark.operators.sampling import token_shard_packing as tsp

    summary = tsp(docs, F.col("n_chars"), budget=200_000, key_cols=["lang"])
    per_row = {
        (r.lang, r.shard_idx): r.n
        for r in assigned.groupBy("lang", "shard_idx").agg(F.count("*").alias("n")).collect()
    }
    for r in summary.collect():
        assert per_row[(r.lang, r.shard_idx)] == r.n_docs


def test_lease_two_process_contention(tmp_path):
    """TWO PROCESSES race the mkdir lease for the same table: exactly one
    must win each round, and after the winner releases, a loser's retry
    must succeed — the OS-level atomicity claim, not a thread-level one."""
    import subprocess
    import sys

    table_dir = tmp_path / "tbl"
    table_dir.mkdir()
    prog = r"""
import sys, time, os
sys.path.insert(0, {repo!r})
from financedatabase_spark.operators.io_sinks import ParquetTable, ConcurrentWriteError
t = ParquetTable(None, {path!r})
go = {path!r} + "/../go"
while not os.path.exists(go):   # start barrier: maximize overlap
    time.sleep(0.001)
wins = 0
for _ in range(200):
    try:
        lock = t._acquire_lock()
    except ConcurrentWriteError:
        continue
    wins += 1
    marker = os.path.join({path!r}, "winner_%d" % os.getpid())
    open(marker, "a").write("x")        # hold briefly, then release
    t._release_lock(lock)
print(wins)
""".format(repo=str(__import__("pathlib").Path(__file__).resolve().parents[1]), path=str(table_dir))
    procs = [
        subprocess.Popen([sys.executable, "-c", prog], stdout=subprocess.PIPE)
        for _ in range(2)
    ]
    (tmp_path / "go").touch()
    outs = [int(p.communicate(timeout=120)[0].strip()) for p in procs]
    assert all(p.returncode == 0 for p in procs)
    # both processes made progress (no wedge) and the lease dir is clean
    assert all(w > 0 for w in outs), outs
    assert not (table_dir / "_LOCK").exists()


def test_lease_two_process_exclusion(tmp_path):
    """While one PROCESS holds the lease, another process's acquire fails
    with ConcurrentWriteError (no stale break, fresh lease)."""
    import subprocess
    import sys

    table_dir = tmp_path / "tbl2"
    table_dir.mkdir()
    from financedatabase_spark.operators.io_sinks import ParquetTable

    holder = ParquetTable(None, str(table_dir))
    lock = holder._acquire_lock()
    prog = r"""
import sys
sys.path.insert(0, {repo!r})
from financedatabase_spark.operators.io_sinks import ParquetTable, ConcurrentWriteError
t = ParquetTable(None, {path!r})
try:
    t._acquire_lock()
    print("ACQUIRED")
except ConcurrentWriteError:
    print("BLOCKED")
""".format(repo=str(__import__("pathlib").Path(__file__).resolve().parents[1]), path=str(table_dir))
    out = subprocess.run(
        [sys.executable, "-c", prog], capture_output=True, text=True, timeout=120
    )
    assert out.stdout.strip() == "BLOCKED", out.stdout + out.stderr
    holder._release_lock(lock)
    out = subprocess.run(
        [sys.executable, "-c", prog], capture_output=True, text=True, timeout=120
    )
    assert out.stdout.strip() == "ACQUIRED", out.stdout + out.stderr


def test_lease_rejects_remote_uri():
    """Remote object-store paths fail LOUDLY up front (no atomic
    namespace op to build the lease on) instead of degrading to
    last-write-wins."""
    from financedatabase_spark.operators.io_sinks import (
        ParquetTable,
        UnsupportedFilesystemError,
    )

    for uri in ("s3://bucket/tbl", "gs://bucket/tbl", "hdfs://nn/tbl"):
        with pytest.raises(UnsupportedFilesystemError, match="conditional-put"):
            ParquetTable(None, uri)._acquire_lock()


def test_lease_stale_break_single_winner(tmp_path):
    """Two processes racing to break the SAME stale lease: the rename
    takeover lets exactly one side proceed per acquire — and afterwards
    the table is not wedged."""
    import os
    import subprocess
    import sys
    import time

    table_dir = tmp_path / "tbl3"
    table_dir.mkdir()
    from financedatabase_spark.operators.io_sinks import ParquetTable

    t = ParquetTable(None, str(table_dir))
    stale = t._acquire_lock()
    os.utime(stale, (1_000_000.0, 1_000_000.0))  # ancient -> stale
    prog = r"""
import sys, os, time
sys.path.insert(0, {repo!r})
from financedatabase_spark.operators.io_sinks import ParquetTable, ConcurrentWriteError
t = ParquetTable(None, {path!r})
go = {path!r} + "/../go3"
while not os.path.exists(go):
    time.sleep(0.001)
try:
    lock = t._acquire_lock()
    print("WON")
    t._release_lock(lock)
except ConcurrentWriteError:
    print("LOST")
""".format(repo=str(__import__("pathlib").Path(__file__).resolve().parents[1]), path=str(table_dir))
    procs = [
        subprocess.Popen([sys.executable, "-c", prog], stdout=subprocess.PIPE, text=True)
        for _ in range(2)
    ]
    (tmp_path / "go3").touch()
    outs = [p.communicate(timeout=120)[0].strip() for p in procs]
    # the stale lease never wedges: at least one breaker-acquirer wins
    # (both may win sequentially if the second's retry lands after the
    # first's release; "both lost" is the failure mode being tested out)
    assert "WON" in outs, outs
    assert not any(
        e.startswith("_LOCK") for e in os.listdir(table_dir)
    ), os.listdir(table_dir)


def test_pluggable_table_lease(spark, tmp_path):
    """The rewrite protocol is lease-agnostic: a custom TableLease (the
    shape an object-store conditional-put implementation takes) drops in
    via the constructor — rewrite acquires before writing, releases
    after commit, and a lease that reports contention blocks the rewrite
    before any data is written."""
    from financedatabase_spark.operators.io_sinks import (
        ConcurrentWriteError,
        ParquetTable,
    )

    calls = {"acquire": 0, "release": 0, "renew": 0}

    class RecordingLease:
        def acquire(self, stale_after: float = 3600.0) -> object:
            calls["acquire"] += 1
            return "token-1"

        def renew(self, token: object) -> object:
            assert token == "token-1"
            calls["renew"] += 1
            return token

        def release(self, token: object) -> None:
            assert token == "token-1"
            calls["release"] += 1

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    t = ParquetTable(spark, path, lease=RecordingLease())
    t.write(df)
    t.rewrite(t.read().filter("id = 1"))
    # renew == 1 is the commit-point re-validation (no heartbeat here)
    assert calls == {"acquire": 1, "release": 1, "renew": 1}
    assert [r.id for r in t.read().collect()] == [1]
    # no DirectoryLease artifacts: the custom lease fully replaced it
    import os

    assert not os.path.exists(os.path.join(path, "_LOCK"))

    class HeldLease:
        def acquire(self, stale_after: float = 3600.0) -> object:
            raise ConcurrentWriteError("held elsewhere (conditional put failed)")

        def release(self, token: object) -> None:  # pragma: no cover
            raise AssertionError("release without acquire")

    t2 = ParquetTable(spark, path, lease=HeldLease())
    before = sorted(r.id for r in t2.read().collect())
    with pytest.raises(ConcurrentWriteError):
        t2.rewrite(t2.read().limit(0))
    assert sorted(r.id for r in t2.read().collect()) == before  # untouched


class FakeS3Client:
    """boto3-shaped S3 stub with conditional-write semantics: same call
    signatures and response/exception SHAPES as botocore (quoted ETags,
    ``response['Error']['Code']`` / HTTPStatusCode), so the
    `S3ObjectStore` adapter's translation layer is tested for real."""

    class ClientError(Exception):
        def __init__(self, status, code):
            super().__init__(code)
            self.response = {
                "ResponseMetadata": {"HTTPStatusCode": status},
                "Error": {"Code": code},
            }

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self._objs = {}  # (bucket, key) -> (body, etag)

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None, IfMatch=None):
        import uuid as _uuid

        with self._lock:
            cur = self._objs.get((Bucket, Key))
            if IfNoneMatch == "*" and cur is not None:
                raise self.ClientError(412, "PreconditionFailed")
            if IfMatch is not None:
                if cur is None:
                    raise self.ClientError(404, "NoSuchKey")
                if cur[1] != IfMatch:
                    raise self.ClientError(412, "PreconditionFailed")
            etag = _uuid.uuid4().hex
            self._objs[(Bucket, Key)] = (bytes(Body), etag)
            return {"ETag": f'"{etag}"'}

    def get_object(self, Bucket, Key):
        import io

        with self._lock:
            cur = self._objs.get((Bucket, Key))
            if cur is None:
                raise self.ClientError(404, "NoSuchKey")
            return {"Body": io.BytesIO(cur[0]), "ETag": f'"{cur[1]}"'}

    def delete_object(self, Bucket, Key, IfMatch=None):
        with self._lock:
            cur = self._objs.get((Bucket, Key))
            if cur is None:
                return {}  # S3 delete of an absent key succeeds
            if IfMatch is not None and cur[1] != IfMatch:
                raise self.ClientError(412, "PreconditionFailed")
            del self._objs[(Bucket, Key)]
            return {}


class FakeGcsClient:
    """google-cloud-storage-shaped stub with generation preconditions:
    same call surface as the SDK (client.bucket -> bucket.blob /
    get_blob, blob.upload_from_string(if_generation_match=N),
    blob.download_as_bytes, blob.delete, blob.generation) and
    exceptions carrying the SDK's integer ``code``, so the
    `GcsObjectStore` translation layer is tested for real."""

    class ApiError(Exception):
        def __init__(self, code, msg=""):
            super().__init__(msg or str(code))
            self.code = code

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self._objs = {}  # (bucket, key) -> (body, generation)
        self._gen = 0

    def bucket(self, name):
        return FakeGcsBucket(self, name)


class FakeGcsBucket:
    def __init__(self, client, name):
        self._c = client
        self.name = name

    def blob(self, key):
        return FakeGcsBlob(self._c, self.name, key)

    def get_blob(self, key):
        with self._c._lock:
            cur = self._c._objs.get((self.name, key))
            if cur is None:
                return None
            b = FakeGcsBlob(self._c, self.name, key)
            b.generation = cur[1]
            return b


class FakeGcsBlob:
    def __init__(self, client, bucket, key):
        self._c = client
        self._bucket = bucket
        self._key = key
        self.generation = None

    def upload_from_string(self, body, if_generation_match=None):
        c = self._c
        with c._lock:
            cur = c._objs.get((self._bucket, self._key))
            if if_generation_match is not None:
                if if_generation_match == 0:
                    if cur is not None:
                        raise c.ApiError(412, "conditionNotMet")
                elif cur is None:
                    raise c.ApiError(404, "notFound")
                elif cur[1] != if_generation_match:
                    raise c.ApiError(412, "conditionNotMet")
            c._gen += 1
            body = body.encode() if isinstance(body, str) else bytes(body)
            c._objs[(self._bucket, self._key)] = (body, c._gen)
            self.generation = c._gen

    def download_as_bytes(self, if_generation_match=None):
        c = self._c
        with c._lock:
            cur = c._objs.get((self._bucket, self._key))
            if cur is None:
                raise c.ApiError(404, "notFound")
            if if_generation_match is not None and cur[1] != if_generation_match:
                raise c.ApiError(412, "conditionNotMet")
            return cur[0]

    def delete(self, if_generation_match=None):
        c = self._c
        with c._lock:
            cur = c._objs.get((self._bucket, self._key))
            if cur is None:
                raise c.ApiError(404, "notFound")
            if if_generation_match is not None and cur[1] != if_generation_match:
                raise c.ApiError(412, "conditionNotMet")
            del c._objs[(self._bucket, self._key)]


class FakeAzureClient:
    """azure-storage-blob-shaped stub with conditional-header semantics:
    same call surface as the SDK (client.get_blob_client(container,
    blob) -> bc.upload_blob(body, overwrite=..., etag=...,
    match_condition=...) returning {"etag": '"..."'},
    bc.download_blob() with .readall() + .properties.etag,
    bc.delete_blob(etag=..., match_condition=...)) and exceptions
    carrying the SDK's integer ``status_code``, so the
    `AzureObjectStore` translation layer is tested for real."""

    class HttpError(Exception):
        def __init__(self, status_code, msg=""):
            super().__init__(msg or str(status_code))
            self.status_code = status_code

    def __init__(self):
        import threading

        self._lock = threading.Lock()
        self._objs = {}  # (container, key) -> (body, etag)

    def get_blob_client(self, container, blob):
        return FakeAzureBlobClient(self, container, blob)


class FakeAzureBlobClient:
    def __init__(self, client, container, key):
        self._c = client
        self._k = (container, key)

    def upload_blob(self, body, overwrite=True, etag=None, match_condition=None):
        import uuid as _uuid

        c = self._c
        with c._lock:
            cur = c._objs.get(self._k)
            if not overwrite and cur is not None:
                raise c.HttpError(409, "BlobAlreadyExists")
            if match_condition is not None:
                if cur is None:
                    raise c.HttpError(404, "BlobNotFound")
                if etag is None or etag.strip('"') != cur[1]:
                    raise c.HttpError(412, "ConditionNotMet")
            new = _uuid.uuid4().hex
            c._objs[self._k] = (bytes(body), new)
            return {"etag": f'"{new}"'}

    def download_blob(self):
        c = self._c
        with c._lock:
            cur = c._objs.get(self._k)
            if cur is None:
                raise c.HttpError(404, "BlobNotFound")

            class _Props:
                etag = f'"{cur[1]}"'

            class _Stream:
                properties = _Props()

                @staticmethod
                def readall():
                    return cur[0]

            return _Stream()

    def delete_blob(self, etag=None, match_condition=None):
        c = self._c
        with c._lock:
            cur = c._objs.get(self._k)
            if cur is None:
                raise c.HttpError(404, "BlobNotFound")
            if match_condition is not None and (
                etag is None or etag.strip('"') != cur[1]
            ):
                raise c.HttpError(412, "ConditionNotMet")
            del c._objs[self._k]


def _lease_factories(tmp_path):
    """Every TableLease implementation behind one conformance suite."""
    from financedatabase_spark.operators.io_sinks import DirectoryLease
    from financedatabase_spark.sources.objectstore import (
        ConditionalPutLease,
        FileObjectStore,
        InMemoryObjectStore,
    )
    from financedatabase_spark.sources.objectstore_azure import AzureObjectStore
    from financedatabase_spark.sources.objectstore_gcs import GcsObjectStore
    from financedatabase_spark.sources.objectstore_s3 import S3ObjectStore

    local = tmp_path / "conf_local"
    local.mkdir()
    mem = InMemoryObjectStore()
    fs = FileObjectStore(str(tmp_path / "conf_store"))
    s3 = S3ObjectStore("bucket", client=FakeS3Client())
    gcs = GcsObjectStore("bucket", client=FakeGcsClient())
    az = AzureObjectStore("container", client=FakeAzureClient())
    return {
        "directory": lambda: DirectoryLease(str(local)),
        "condput-mem": lambda: ConditionalPutLease(mem, "s3://bucket/tbl"),
        "condput-file": lambda: ConditionalPutLease(fs, "s3://bucket/tbl"),
        "condput-s3": lambda: ConditionalPutLease(s3, "s3://bucket/tbl"),
        "condput-gcs": lambda: ConditionalPutLease(gcs, "gs://bucket/tbl"),
        "condput-azure": lambda: ConditionalPutLease(az, "az://container/tbl"),
    }


def test_lease_protocol_conformance(tmp_path):
    """Same contract for every implementation: exclusion while held,
    re-acquirable after release, release of a never-contended lease is
    clean (no leftovers blocking the next writer)."""
    from financedatabase_spark.operators.io_sinks import ConcurrentWriteError

    for name, make in _lease_factories(tmp_path).items():
        a, b = make(), make()
        tok = a.acquire()
        with pytest.raises(ConcurrentWriteError):
            b.acquire()
        a.release(tok)
        tok2 = b.acquire()  # released lease is immediately re-acquirable
        b.release(tok2)
        tok3 = a.acquire()
        a.release(tok3)

        # renew: re-stamps a held lease (exclusion persists, the
        # REPLACEMENT token releases cleanly) and refuses a lease this
        # writer no longer holds
        tok4 = a.acquire()
        tok5 = a.renew(tok4)
        with pytest.raises(ConcurrentWriteError):
            b.acquire()
        a.release(tok5)
        with pytest.raises(ConcurrentWriteError):
            a.renew(tok5)  # released: no longer ours to renew
        tok6 = b.acquire()  # renewed-then-released lease left no debris
        b.release(tok6)


def test_conditional_put_lease_stale_takeover():
    """A lease whose ts is older than stale_after is broken by CAS: the
    taker proceeds, the original holder's release is a swallowed 412
    (the lease is no longer theirs), and the taker still holds."""
    import json

    from financedatabase_spark.operators.io_sinks import ConcurrentWriteError
    from financedatabase_spark.sources.objectstore import (
        ConditionalPutLease,
        InMemoryObjectStore,
        PreconditionFailedError,
    )

    store = InMemoryObjectStore()
    holder = ConditionalPutLease(store, "s3://b/t")
    tok = holder.acquire()
    # backdate the lease body in place (what a crashed writer leaves)
    body, etag = store.get(holder.key)
    stale = dict(json.loads(body), ts=0.0)
    store.put(holder.key, json.dumps(stale).encode(), if_match=etag)

    taker = ConditionalPutLease(store, "s3://b/t")
    tok2 = taker.acquire(stale_after=60.0)
    holder.release(tok)  # 412 swallowed: not ours anymore
    assert store.get(holder.key) is not None  # taker's lease survives
    with pytest.raises(ConcurrentWriteError):
        ConditionalPutLease(store, "s3://b/t").acquire()
    taker.release(tok2)
    assert store.get(holder.key) is None

    # the store-level single-winner primitive: two CAS breakers at the
    # SAME etag -> exactly one succeeds, the other gets 412
    e1 = store.put("k", b"stale")
    store.put("k", b"w1", if_match=e1)
    with pytest.raises(PreconditionFailedError):
        store.put("k", b"w2", if_match=e1)


def test_conditional_put_lease_renewal_vs_racing_breaker():
    """The max-hold contract: renewal keeps a long hold alive (a breaker
    keyed to the ORIGINAL acquire time finds the lease fresh), and a
    holder whose lease WAS broken learns it at the next renew — the CAS
    put at the old etag 412s and surfaces as ConcurrentWriteError."""
    import json

    from financedatabase_spark.operators.io_sinks import ConcurrentWriteError
    from financedatabase_spark.sources.objectstore import (
        ConditionalPutLease,
        InMemoryObjectStore,
    )

    store = InMemoryObjectStore()
    holder = ConditionalPutLease(store, "s3://b/t")
    tok = holder.acquire()

    # backdate, renew, and the breaker must STILL see a fresh lease:
    # staleness is measured from the renewal's ts, not acquire's
    body, etag = store.get(holder.key)
    store.put(holder.key, json.dumps(dict(json.loads(body), ts=0.0)).encode(),
              if_match=etag)
    tok = (tok[0], store.get(holder.key)[1])  # etag moved with the backdate
    tok = holder.renew(tok)
    with pytest.raises(ConcurrentWriteError):
        ConditionalPutLease(store, "s3://b/t").acquire(stale_after=60.0)

    # now the breaker wins first (lease left stale, no renewal in time):
    # the holder's next heartbeat must report the loss, and the taker's
    # lease must survive the loser's renew attempt untouched
    body, etag = store.get(holder.key)
    store.put(holder.key, json.dumps(dict(json.loads(body), ts=0.0)).encode(),
              if_match=etag)
    stale_tok = (tok[0], store.get(holder.key)[1])
    taker = ConditionalPutLease(store, "s3://b/t")
    taker_tok = taker.acquire(stale_after=60.0)
    with pytest.raises(ConcurrentWriteError):
        holder.renew(stale_tok)
    assert json.loads(store.get(holder.key)[0])["owner"] == taker._owner
    taker.release(taker_tok)


def test_conditional_put_lease_two_process_contention(tmp_path):
    """TWO PROCESSES race the conditional-put lease over a shared
    file-backed store: both make progress across 200 rounds and the
    lock object is gone after the last release — the cross-process
    twin of the DirectoryLease contention test."""
    import subprocess
    import sys

    store_dir = str(tmp_path / "store")
    prog = r"""
import sys, time, os
sys.path.insert(0, {repo!r})
from financedatabase_spark.operators.io_sinks import ConcurrentWriteError
from financedatabase_spark.sources.objectstore import ConditionalPutLease, FileObjectStore
lease = ConditionalPutLease(FileObjectStore({store!r}), "s3://bucket/tbl")
go = {store!r} + "/../go"
while not os.path.exists(go):
    time.sleep(0.001)
wins = 0
for _ in range(200):
    try:
        tok = lease.acquire()
    except ConcurrentWriteError:
        continue
    wins += 1
    lease.release(tok)
print(wins)
""".format(repo=str(__import__("pathlib").Path(__file__).resolve().parents[1]), store=store_dir)
    procs = [
        subprocess.Popen([sys.executable, "-c", prog], stdout=subprocess.PIPE)
        for _ in range(2)
    ]
    (tmp_path / "go").touch()
    outs = [int(p.communicate(timeout=120)[0].strip()) for p in procs]
    assert all(p.returncode == 0 for p in procs)
    assert all(w > 0 for w in outs), outs
    from financedatabase_spark.sources.objectstore import FileObjectStore

    assert FileObjectStore(store_dir).get("s3://bucket/tbl/_LOCK.json") is None


def test_rewrite_with_conditional_put_lease(spark, tmp_path):
    """End-to-end: ParquetTable rewrites under the object-store lease;
    a concurrent holder on the same store blocks the rewrite without
    touching the table."""
    from financedatabase_spark.operators.io_sinks import (
        ConcurrentWriteError,
        ParquetTable,
    )
    from financedatabase_spark.sources.objectstore import (
        ConditionalPutLease,
        InMemoryObjectStore,
    )

    store = InMemoryObjectStore()
    path = str(tmp_path / "t")
    t = ParquetTable(spark, path, lease=ConditionalPutLease(store, path))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    t.rewrite(t.read().filter("id = 2"))
    assert [r.id for r in t.read().collect()] == [2]
    assert store.get(path + "/_LOCK.json") is None  # released after commit

    blocker = ConditionalPutLease(store, path)
    tok = blocker.acquire()
    with pytest.raises(ConcurrentWriteError):
        t.rewrite(t.read().limit(0))
    assert [r.id for r in t.read().collect()] == [2]  # untouched
    blocker.release(tok)


def test_s3_adapter_error_mapping():
    """The boto3 shim's translation layer: quoted-ETag normalization,
    412/409 -> PreconditionFailedError, 404 -> absent (get None, delete
    no-op), unknown errors re-raised untouched."""
    from financedatabase_spark.sources.objectstore import PreconditionFailedError
    from financedatabase_spark.sources.objectstore_s3 import S3ObjectStore

    store = S3ObjectStore("b", client=FakeS3Client())
    assert store.get("k") is None
    store.delete("k")  # absent: no-op
    e1 = store.put("k", b"v1", if_none_match=True)
    assert '"' not in e1  # quotes stripped
    assert store.get("k") == (b"v1", e1)
    with pytest.raises(PreconditionFailedError):
        store.put("k", b"v2", if_none_match=True)
    e2 = store.put("k", b"v2", if_match=e1)
    with pytest.raises(PreconditionFailedError):
        store.put("k", b"v3", if_match=e1)  # stale etag
    with pytest.raises(PreconditionFailedError):
        store.put("absent", b"v", if_match=e2)  # If-Match on absent key
    with pytest.raises(PreconditionFailedError):
        store.delete("k", if_match=e1)  # stale etag
    store.delete("k", if_match=e2)
    assert store.get("k") is None

    # 409 ConditionalRequestConflict (concurrent conditional write in
    # flight) maps to PreconditionFailedError so acquire/renew retry
    class Conflicting(FakeS3Client):
        def put_object(self, **kw):
            raise self.ClientError(409, "ConditionalRequestConflict")

    with pytest.raises(PreconditionFailedError):
        S3ObjectStore("b", client=Conflicting()).put("k", b"v", if_none_match=True)

    # non-conditional failures pass through untouched
    class Throttled(FakeS3Client):
        def put_object(self, **kw):
            raise self.ClientError(503, "SlowDown")

    with pytest.raises(FakeS3Client.ClientError):
        S3ObjectStore("b", client=Throttled()).put("k", b"v", if_none_match=True)


def test_gcs_adapter_error_mapping():
    """The google-cloud-storage shim's translation layer: generation ->
    etag-slot stringification, 412 -> PreconditionFailedError, 404 ->
    absent (get None, delete no-op), CAS-against-deleted -> precondition
    failure, unknown errors re-raised untouched."""
    from financedatabase_spark.sources.objectstore import PreconditionFailedError
    from financedatabase_spark.sources.objectstore_gcs import GcsObjectStore

    store = GcsObjectStore("b", client=FakeGcsClient())
    assert store.get("k") is None
    store.delete("k")  # absent: no-op
    g1 = store.put("k", b"v1", if_none_match=True)
    assert g1.isdigit()  # generation stringified into the etag slot
    assert store.get("k") == (b"v1", g1)
    with pytest.raises(PreconditionFailedError):
        store.put("k", b"v2", if_none_match=True)  # generation 0 conflict
    g2 = store.put("k", b"v2", if_match=g1)
    assert int(g2) > int(g1)  # generations are monotonic
    with pytest.raises(PreconditionFailedError):
        store.put("k", b"v3", if_match=g1)  # stale generation
    with pytest.raises(PreconditionFailedError):
        store.put("absent", b"v", if_match=g2)  # CAS on an absent key
    with pytest.raises(PreconditionFailedError):
        store.delete("k", if_match=g1)  # stale generation
    store.delete("k", if_match=g2)
    assert store.get("k") is None

    # non-conditional failures pass through untouched
    class Throttled(FakeGcsClient):
        def bucket(self, name):
            b = super().bucket(name)
            orig = b.blob

            def blob(key):
                bl = orig(key)
                def boom(body, **kw):
                    raise self.ApiError(503, "backendError")
                bl.upload_from_string = boom
                return bl

            b.blob = blob
            return b

    with pytest.raises(FakeGcsClient.ApiError):
        GcsObjectStore("b", client=Throttled()).put("k", b"v", if_none_match=True)


def test_gcs_adapter_default_client_requires_sdk():
    """Constructing without an injected client goes through
    google.cloud.storage.Client() — exercised only where the SDK
    exists."""
    pytest.importorskip("google.cloud.storage")
    from financedatabase_spark.sources.objectstore_gcs import GcsObjectStore

    assert GcsObjectStore("bucket").bucket is not None


def test_s3_adapter_default_client_requires_boto3():
    """Constructing without an injected client goes through
    boto3.client('s3') — exercised only where the SDK exists."""
    pytest.importorskip("boto3")
    from financedatabase_spark.sources.objectstore_s3 import S3ObjectStore

    assert S3ObjectStore("bucket").client is not None


def test_rewrite_heartbeat_renews_and_aborts_on_loss(spark, tmp_path):
    """The max-hold contract wired into rewrite: with renew_every set, a
    heartbeat re-stamps the lease while the write runs (observed renew
    count > 0, lease stays fresh, lock released after commit); when the
    heartbeat finds the lease BROKEN, the rewrite aborts before the
    pointer swap and the table is untouched."""
    import threading

    from financedatabase_spark.operators.io_sinks import (
        ConcurrentWriteError,
        ParquetTable,
    )
    from financedatabase_spark.sources.objectstore import (
        ConditionalPutLease,
        InMemoryObjectStore,
    )

    class CountingLease(ConditionalPutLease):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.renews = 0

        def renew(self, token):
            self.renews += 1
            return super().renew(token)

    store = InMemoryObjectStore()
    path = str(tmp_path / "hb")
    lease = CountingLease(store, path)
    t = ParquetTable(spark, path, lease=lease)
    t.write(spark.createDataFrame([(i, "x") for i in range(10)], "id long, v string"))
    t.rewrite(t.read().filter("id < 5"), renew_every=0.02)
    assert sorted(r.id for r in t.read().collect()) == list(range(5))
    assert lease.renews >= 1  # the heartbeat actually beat
    assert store.get(path + "/_LOCK.json") is None  # released after commit

    class LosingLease(ConditionalPutLease):
        """Simulates a breaker winning mid-hold: the first renew finds
        the lease re-taken."""

        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.beat = threading.Event()

        def renew(self, token):
            self.beat.set()
            raise ConcurrentWriteError("lease broken by another writer")

    lost = LosingLease(store, path)
    t2 = ParquetTable(spark, path, lease=lost)
    before = sorted(r.id for r in t2.read().collect())
    with pytest.raises(ConcurrentWriteError, match="lost its lease"):
        t2.rewrite(t2.read().limit(0), renew_every=0.01)
    assert lost.beat.is_set()
    assert sorted(r.id for r in t2.read().collect()) == before  # no publish

    class FlakyLease(ConditionalPutLease):
        """Transient store errors (throttling, network blips) must NOT
        abort the rewrite — only ConcurrentWriteError means the lease is
        gone. The first renew throws a generic error; later ones work."""

        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            self.calls = 0

        def renew(self, token):
            self.calls += 1
            if self.calls == 1:
                raise RuntimeError("503 SlowDown")
            return super().renew(token)

    store2 = InMemoryObjectStore()
    path2 = str(tmp_path / "flaky")
    flaky = FlakyLease(store2, path2)
    t3 = ParquetTable(spark, path2, lease=flaky)
    t3.write(spark.createDataFrame([(1, "x")], "id long, v string"))
    t3.rewrite(t3.read(), renew_every=0.01)  # completes despite the blip
    assert flaky.calls >= 2  # the beater kept beating after the error
    assert [r.id for r in t3.read().collect()] == [1]
    assert store2.get(path2 + "/_LOCK.json") is None  # released cleanly


def test_rewrite_commit_point_revalidates_lease(spark, tmp_path):
    """Breaking the lease BETWEEN write-complete and commit must abort
    the publish: the synchronous commit-point renew (run even without a
    heartbeat) proves exclusivity right before the pointer swap. The
    lease here renews fine during any heartbeat but is broken by the
    time the commit-point call arrives — rewrite must raise and leave
    the committed snapshot untouched."""
    from financedatabase_spark.operators.io_sinks import (
        ConcurrentWriteError,
        ParquetTable,
    )

    class BrokenAtCommitLease:
        def acquire(self, stale_after: float = 3600.0) -> object:
            return "tok"

        def renew(self, token: object) -> object:
            # the one and only renew call IS the commit-point one
            # (renew_every is None below) — simulate a breaker having
            # re-taken the lease while the parquet write ran
            raise ConcurrentWriteError("lease re-taken before the commit")

        def release(self, token: object) -> None:
            pass

    path = str(tmp_path / "commitfence")
    t = ParquetTable(spark, path, lease=BrokenAtCommitLease())
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    before = sorted(r.id for r in t.read().collect())
    with pytest.raises(ConcurrentWriteError, match="re-taken"):
        t.rewrite(t.read().limit(0))
    assert sorted(r.id for r in t.read().collect()) == before  # no publish


def test_rewrite_self_fence_on_renewal_blackout(spark, tmp_path):
    """If the lease store is unreachable for longer than stale_after
    while the write runs, NO 412 is ever observed — but the lease may
    have been legitimately broken and re-taken. The commit must refuse
    when the last successful renewal is older than stale_after, even
    though the beater never reported a loss."""
    from financedatabase_spark.operators.io_sinks import (
        ConcurrentWriteError,
        ParquetTable,
    )

    class UnreachableStoreLease:
        def acquire(self, stale_after: float = 3600.0) -> object:
            return "tok"

        def renew(self, token: object) -> object:
            raise RuntimeError("503 SlowDown: store unreachable")

        def release(self, token: object) -> None:
            pass

    path = str(tmp_path / "blackout")
    t = ParquetTable(spark, path, lease=UnreachableStoreLease())
    t.write(spark.createDataFrame([(1, "a")], "id long, v string"))
    # stale_after far below the parquet-write wall time: every beat
    # errors transiently, renewed_at never advances past acquire, and
    # the commit-point fence must fire with exclusivity unproven
    with pytest.raises(ConcurrentWriteError, match="exclusivity unproven"):
        t.rewrite(t.read(), stale_after=0.05, renew_every=0.01)
    assert [r.id for r in t.read().collect()] == [1]  # no publish


def test_rewrite_renew_every_must_beat_stale_after(spark, tmp_path):
    """renew_every >= stale_after guarantees the lease goes stale
    between beats — rejected up front, before any lock or write."""
    from financedatabase_spark.operators.io_sinks import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "cfg"))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    with pytest.raises(ValueError, match="renew_every"):
        t.rewrite(df, stale_after=60.0, renew_every=60.0)
    with pytest.raises(ValueError, match="renew_every"):
        t.rewrite(df, stale_after=60.0, renew_every=120.0)


def test_condput_renew_lost_response_adopts_etag():
    """A renew whose conditional PUT lands server-side but loses its
    response leaves the token one etag behind. The NEXT renew's 412
    must be disambiguated by owner: still-ours -> adopt the stored etag
    and keep the hold (no spurious abort); another owner -> abort."""
    import json

    from financedatabase_spark.operators.io_sinks import ConcurrentWriteError
    from financedatabase_spark.sources.objectstore import (
        ConditionalPutLease,
        InMemoryObjectStore,
    )

    store = InMemoryObjectStore()
    holder = ConditionalPutLease(store, "s3://b/t")
    tok = holder.acquire()

    # simulate the lost response: re-stamp the lease with the HOLDER'S
    # own body (what the dropped renew wrote server-side) so the store
    # etag advances while the held token stays at the old one
    body, etag = store.get(holder.key)
    store.put(holder.key, holder._body(), if_match=etag)
    assert store.get(holder.key)[1] != tok[1]  # token now stale

    tok2 = holder.renew(tok)  # 412 -> GET -> owner matches -> adopt
    assert tok2[1] == store.get(holder.key)[1]
    tok3 = holder.renew(tok2)  # and the adopted etag renews normally
    assert json.loads(store.get(holder.key)[0])["owner"] == holder._owner

    # genuinely broken: another writer's lease at the key -> abort
    other = ConditionalPutLease(store, "s3://b/t")
    body, etag = store.get(holder.key)
    store.put(holder.key, other._body(), if_match=etag)
    with pytest.raises(ConcurrentWriteError):
        holder.renew(tok3)
    # vanished lease (released + deleted under us) -> also abort
    store.delete(holder.key)
    with pytest.raises(ConcurrentWriteError):
        holder.renew(tok3)


def test_azure_adapter_error_mapping():
    """The azure-storage-blob shim's translation layer: quoted-etag
    normalization, overwrite=False -> create-only (409 mapped),
    etag+match_condition CAS (412 mapped, 404-on-CAS mapped), 404 ->
    absent (get None, delete no-op), unknown errors re-raised."""
    from financedatabase_spark.sources.objectstore import PreconditionFailedError
    from financedatabase_spark.sources.objectstore_azure import AzureObjectStore

    store = AzureObjectStore("c", client=FakeAzureClient())
    assert store.get("k") is None
    store.delete("k")  # absent: no-op
    e1 = store.put("k", b"v1", if_none_match=True)
    assert '"' not in e1  # quotes stripped
    assert store.get("k") == (b"v1", e1)
    with pytest.raises(PreconditionFailedError):
        store.put("k", b"v2", if_none_match=True)
    e2 = store.put("k", b"v2", if_match=e1)
    with pytest.raises(PreconditionFailedError):
        store.put("k", b"v3", if_match=e1)  # stale etag
    with pytest.raises(PreconditionFailedError):
        store.put("absent", b"v", if_match=e2)  # CAS on an absent blob
    with pytest.raises(PreconditionFailedError):
        store.delete("k", if_match=e1)  # stale etag
    store.delete("k", if_match=e2)
    assert store.get("k") is None

    # non-conditional failures pass through untouched
    class Throttled(FakeAzureClient):
        def get_blob_client(self, container, blob):
            class _BC:
                @staticmethod
                def upload_blob(body, **kw):
                    raise FakeAzureClient.HttpError(503, "ServerBusy")

            return _BC()

    with pytest.raises(FakeAzureClient.HttpError):
        AzureObjectStore("c", client=Throttled()).put("k", b"v", if_none_match=True)
