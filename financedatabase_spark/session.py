"""SparkSession factory with engine defaults.

The reference keeps a per-(pid, database) SQLAlchemy engine cache
(reference: dbase/database/SQLHelpers.py:100-144); in Spark the session
singleton plays that role. Defaults are chosen for the local[N] test
harness but the same settings are what we'd ship to a real cluster:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
shuffle partitions sized to cores, Arrow enabled for the pandas-UDF path,
and a fixed UTC session timezone so the reference's timezone-naive market
timestamps round-trip unchanged (SURVEY.md §7.4 risk 3).
"""

from __future__ import annotations

import logging
import math
import os
import threading
from typing import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger(__name__)

# the directory that holds the package, for the Python workers' path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _is_active(spark: SparkSession) -> bool:
    try:
        return spark.sparkContext._jsc is not None
    except Exception:
        return False


# ---------------------------------------------------------------------------
# Checkpoint (stage-barrier) lifecycle.
#
# Several operators materialize a bounded intermediate once so that multiple
# consumers share one execution (LSH band table, curation stage survivors,
# iterative-loop states). `DataFrame.localCheckpoint()` stores the rows as
# executor-local blocks whose release normally waits on THREE collectors in
# sequence: the Python wrapper must be garbage-collected, py4j must detach
# the JVM binding, and the JVM must collect the RDD object before Spark's
# ContextCleaner finally drops the blocks. Under PySpark's ClientServer
# gateway the py4j detach step never runs automatically (no auto_gc), so in
# a long-lived session every checkpoint block is pinned for the LIFETIME of
# the process — measured r15 as a monotone per-pass slowdown of the
# checkpoint-heavy benchmark queries. The helpers below make the release
# explicit and deterministic instead:
#
# - `barrier(df)` checkpoints eagerly and records the checkpoint RDD's JVM
#   handle (a) on the returned frame and (b) in the ACTIVE BUILD SCOPE (see
#   `build_scope`) opened by the query registry around every registered
#   query build. Rebuilding the same registered query unpersists the
#   previous build's blocks up front — steady state is one live copy per
#   query name, no matter how many times a bench/driver loop re-runs it.
# - `release_barrier(df)` unpersists one barrier's blocks immediately; it
#   is for iterative operators that rebind a loop-carried frame (connected
#   components, Lloyd rounds, BPE merges): once the next round's eager
#   checkpoint has materialized, the previous round's blocks are garbage
#   by construction.
#
# Contract: a registered query's materialized intermediates stay valid
# until the SAME query name is built again on the same session (re-running
# a stale, previously-built frame after a rebuild may fail on the released
# checkpoint). Sequential rebuilds are exactly the bench/driver protocol;
# scopes are thread-local, so concurrent builds of different queries from
# different threads (guide §2.6) do not interact.
# ---------------------------------------------------------------------------

_BUILD_CTX = threading.local()


def _barrier_registry(spark: SparkSession) -> dict:
    return spark.__dict__.setdefault("_fdspark_barrier_handles", {})


def release_build_checkpoints(spark: SparkSession, name: str) -> int:
    """Unpersist every checkpoint registered by the previous build of
    registered query ``name``. Returns the number of handles released."""
    handles = _barrier_registry(spark).pop(name, [])
    n = 0
    for h in handles:
        try:
            h.unpersist(False)
            n += 1
        except Exception:
            _log.warning(
                "could not release a checkpoint of query %r", name, exc_info=True
            )
    return n


class build_scope:
    """Context manager the query registry wraps around each registered
    query build: releases the previous build's checkpoints on entry and
    collects the new build's handles for the next release."""

    def __init__(self, spark: SparkSession, name: str):
        self.spark, self.name = spark, name

    def __enter__(self):
        release_build_checkpoints(self.spark, self.name)
        stack = getattr(_BUILD_CTX, "stack", None)
        if stack is None:
            stack = _BUILD_CTX.stack = []
        self.handles: list = []
        stack.append((self.spark, self.handles))
        return self

    def __exit__(self, *exc):
        _BUILD_CTX.stack.pop()
        if _is_active(self.spark):
            # merge (not overwrite): a query building the same name twice
            # in one scope, or a nested build, must not orphan handles
            _barrier_registry(self.spark).setdefault(self.name, []).extend(
                self.handles
            )
        return False


def _ckpt_rdd(df: DataFrame):
    """The checkpointed JVM RDD behind a localCheckpoint()'d frame."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return None
    return plan.rdd()


def scaled_partitions(
    df: DataFrame, target_bytes: int | None = None, at_least: int = 1
) -> int:
    """Partition count for a materialized intermediate, derived from
    Catalyst's size estimate so it scales with the INPUT rather than a
    core-count constant (guide §2.2). Same decision rule as AQE's
    partition coalescing (which cannot see checkpoint scans): size-based
    ceil(bytes / advisory partition size), but parallelism-first for
    small inputs — never fewer than defaultParallelism partitions unless
    that would drop partitions below the coalescer's minimum size. At
    corpus scale the size term dominates (bytes/64MB >> cores); locally
    it keeps the downstream consumers parallel instead of collapsing a
    few-MB intermediate onto one core. Unknown stats fall back to
    defaultParallelism."""
    spark = df.sparkSession
    if target_bytes is None:
        raw = spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
        )
        target_bytes = _parse_bytes(raw)
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        size = -1
    par = spark.sparkContext.defaultParallelism
    if size >= 2**62:
        size = -1  # defaultSizeInBytes leaf = unknown
    # Catalyst join/filter estimates run away by orders of magnitude when
    # a join sits above an unknown-stats leaf (a checkpoint scan): the
    # multiplied guess asked for 65k+ partitions on a 500-row frame. Cross
    # -check against the REAL bytes of the frame's input files (compressed
    # parquet; x32 allows decompression + row expansion) and refuse to
    # trust an estimate that exceeds what the inputs could produce. With
    # neither a file-backed bound nor a sane estimate, partition count =
    # cluster parallelism — exactly what shuffle.partitions would give.
    fb = _local_input_bytes(df)
    if fb:
        size = min(size, fb * 32) if size > 0 else fb * 32
    elif size > target_bytes * par * 64:
        return max(at_least, par)
    if size <= 0:
        return max(at_least, par)
    min_bytes = _parse_bytes(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB")
    )
    parallel_floor = min(par, math.ceil(size / min_bytes))
    return max(at_least, math.ceil(size / target_bytes), parallel_floor)


def stream_state_partitions(spark: SparkSession) -> int:
    """Shuffle-partition count for a bounded streaming drain (stateful
    operators pin it into the query's checkpoint at the first batch).
    Every state partition pays a state-store commit, its state files and,
    on the local filesystem, a ``chmod`` fork per file per batch, so a
    count above the task slots only adds a wave of near-empty tasks.
    ``$SPARK_GRAFT_STREAM_STATE_PARTITIONS`` (default 8) is an upper
    bound; the count is capped at ``defaultParallelism``."""
    cap = int(os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "8"))
    return max(1, min(cap, spark.sparkContext.defaultParallelism))


def _local_input_bytes(df: DataFrame) -> int:
    """Total on-disk bytes of the frame's input files, when every input is
    a local file we can stat (the bench/test layout); 0 = unknown.
    `inputFiles()` raises only on a streaming frame."""
    if df.isStreaming:
        return 0
    total = 0
    for p in df.inputFiles():
        if p.startswith("file:"):
            local = "/" + p[5:].lstrip("/")
        elif p.startswith("/"):
            local = p
        else:
            return 0
        try:
            total += os.path.getsize(local)
        except OSError:
            return 0
    return total


def _parse_bytes(s: str) -> int:
    s = s.strip().lower()
    for suffix, mult in (
        ("tb", 2**40), ("gb", 2**30), ("mb", 2**20), ("kb", 2**10),
        ("t", 2**40), ("g", 2**30), ("m", 2**20), ("k", 2**10), ("b", 1),
    ):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * mult)
    return int(s)


def barrier(df: DataFrame, preserve_partitioning: bool = False) -> DataFrame:
    """Materialize ``df`` once (eager localCheckpoint) with an explicit
    release handle (see module note above).

    ``preserve_partitioning=True`` additionally records the physical
    plan's hash partitioning (and sort order) in the checkpoint scan:
    under AQE the LogicalRDD otherwise comes back as
    ``UnknownPartitioning(0)``, so every downstream consumer re-shuffles
    what is already partitioned (r15 verdict: the minhash band table's
    8-core run beat 32 cores because of exactly this). AQE is disabled
    only for the checkpoint's own job — the caller has already fixed the
    partition count (`scaled_partitions`), which is the one decision AQE
    would have made."""
    spark = df.sparkSession
    if preserve_partitioning:
        prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            out = df.localCheckpoint()
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)
    else:
        out = df.localCheckpoint()
    try:
        handle = _ckpt_rdd(out)
    except Exception:
        handle = None
    if handle is not None:
        out._fdspark_ckpt_rdd = handle
        release_on_rebuild(spark, handle)
    return out


def release_on_rebuild(spark: SparkSession, handle) -> None:
    """Hand ``handle`` to the active build scope of ``spark``: the next
    build of the same registered query calls ``handle.unpersist(False)``.
    Outside a registered build (or in a scope of another session) this
    is a no-op."""
    stack = getattr(_BUILD_CTX, "stack", None)
    if stack:
        scope_spark, handles = stack[-1]
        if scope_spark is spark:
            handles.append(handle)


def release_barrier(df: DataFrame) -> None:
    """Immediately unpersist one barrier's blocks — ONLY for loop-carried
    frames that the caller has just superseded (nothing can reference a
    released checkpoint again; localCheckpoint lineage is truncated)."""
    handle = getattr(df, "_fdspark_ckpt_rdd", None)
    if handle is not None:
        try:
            handle.unpersist(False)
        except Exception:
            _log.warning("could not release checkpoint handle %r", handle, exc_info=True)


def session_memo(
    spark: SparkSession, key: Hashable, build: Callable[[], DataFrame]
) -> DataFrame:
    """Memoize ``build()`` per (live session, key). The cache lives ON
    the session object itself, so its lifetime is exactly the session
    object's: no module-level registry to pin frames after the caller
    drops the session. (A weak-keyed side table cannot give that
    guarantee here — the cached DataFrames strongly reference their
    session, so a weak key would never be collectible while its value
    lives; an attribute makes that loop an ordinary gc-collectable
    cycle.) A stopped session's cached frames are unusable — on a
    stopped session the memo is bypassed and cleared (the caller's
    build against a stopped session fails loudly, which is the right
    error surface)."""
    if not _is_active(spark):
        spark.__dict__.pop("_fdspark_memo", None)
        return build()
    cache = spark.__dict__.setdefault("_fdspark_memo", {})
    if key not in cache:
        cache[key] = build()
    return cache[key]


def values_dim(spark: SparkSession, rows, columns_sql: str) -> DataFrame:
    """Tiny literal dimension as a VALUES LocalRelation.

    `spark.createDataFrame(list)` yields a Python-RDD-backed frame
    (`Scan ExistingRDD`): every broadcast of it runs a separate
    Python→JVM job (applySchemaToPythonRDD) — measured as a fixed
    per-query stage cost in the flagship pipeline. A VALUES relation
    lives in the driver as a LocalRelation: broadcasts materialize with
    NO job, and Catalyst constant-folds/prunes it like any literal.

    ``columns_sql`` is "name type, name type, ..."; every value is cast
    to its declared type. Parameterized/nested types (``decimal(10,2)``,
    ``array<int>``, ``struct<...>``) are supported — the column list is
    split on top-level commas only. Supported value types: str, int,
    float (NaN/±Inf rendered as typed casts), bool, datetime.date/
    datetime (rendered as typed SQL literals), list/tuple (rendered as
    array(...)), None.
    """
    import datetime as _dt
    import math as _math

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, _dt.datetime):
            return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
        if isinstance(v, _dt.date):
            return f"DATE '{v.isoformat()}'"
        if isinstance(v, float) and not _math.isfinite(v):
            if _math.isnan(v):
                return "CAST('NaN' AS DOUBLE)"
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        if isinstance(v, (int, float)):
            return repr(v)
        if isinstance(v, (list, tuple)):
            return "array(" + ", ".join(lit(x) for x in v) + ")"
        s = str(v)
        if "'" in s or "\\" in s:
            # Quote/backslash escaping differs between the default
            # C-style parser and spark.sql.parser.escapedStringLiterals
            # (Hive-compat) mode — and legacy mode has NO quote escape
            # at all. A hex binary literal parses identically in both.
            return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"
        return f"'{s}'"

    def split_top_level(spec: str) -> list[str]:
        parts, depth, start = [], 0, 0
        for i, ch in enumerate(spec):
            if ch in "<(":
                depth += 1
            elif ch in ">)":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append(spec[start:i])
                start = i + 1
        parts.append(spec[start:])
        return [p for p in (p.strip() for p in parts) if p]

    cols = [c.split(None, 1) for c in split_top_level(columns_sql)]
    if not rows:
        casts = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in cols)
        df = spark.sql(f"SELECT {casts} WHERE FALSE")
        df._literal_rows = []
        return df
    vals = ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)
    names = ", ".join(n for n, _ in cols)
    casts = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols)
    df = spark.sql(f"SELECT {casts} FROM (VALUES {vals}) AS t({names})")
    # inline-fold hint: operators that receive a SMALL literal dim can
    # compile it into CASE/filter expressions instead of a broadcast
    # join, dropping the BroadcastExchange job entirely (the flagship
    # pipeline's residual stages are exactly these tiny broadcasts)
    df._literal_rows = [tuple(r) for r in rows]
    return df


#: Settings the source layer reads through, constants of every session:
#: the driver testdata stores events.ts as TIMESTAMP(NANOS), read as a
#: long and converted in `readers.load_table`; Python data sources get
#: filter pushdown (default-off in 4.1), with which the REST catalog
#: source (`sources/restds.py`) prunes pages.
SOURCE_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.python.filterPushdown.enabled": "true",
}


def ensure_source_confs(spark: SparkSession) -> None:
    """Bring a session to `SOURCE_CONFS` before a source reads through
    it. A `get_spark` session already holds every value, so nothing is
    written; a session built elsewhere (a caller's own, or a cluster
    session) gets the missing ones, each set to its one value, so no
    build ever changes a source setting back for another."""
    for key, value in SOURCE_CONFS.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)


def get_spark(app_name: str = "financedatabase_spark", cpus: int | None = None) -> SparkSession:
    """Build (or return) the engine SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a real
    cluster the master/size come from spark-submit; every .config here is
    still correct at 1000 executors.

    Python workers are forked from the engine's daemon module
    (`financedatabase_spark.pydaemon`), which keeps each task from
    re-reading the directories of pyspark.zip, the py4j zip and the
    spark-core jar; the directory that holds the package goes on the
    workers' PYTHONPATH, so they import it (and the engine's UDFs) from
    any working directory.

    Streaming checkpoints (offsets, commits, state files) go through
    Spark's ``FileSystemBasedCheckpointFileManager``. The default
    FileContext-based manager resolves paths with Hadoop's
    ``FileUtil.readLink``, which forks a ``readlink`` process per
    checkpoint file on the local filesystem (176 per
    ``streaming_latest_state`` build at local[4]). The FileSystem-based manager
    writes a temp file and renames it, which is atomic on a local
    filesystem; this factory only builds ``local[N]`` sessions, so that
    holds for every session it makes. A cluster session (HDFS, object
    stores) is not built here and keeps its own manager.

    The ``chmod`` forks remain: Hadoop 3.4's
    ``RawLocalFileSystem.setPermission`` forks ``chmod`` on every file
    it creates unless libhadoop is loaded, and pyspark's jars ship no
    libhadoop. No configuration removes them, including the 8-12 per
    DML statement of ``io_sinks``.

    The join settings are constants: sort-merge is not preferred, and
    AQE may hash-build a shuffled join side of up to 64 MB per
    partition. They were tuned for these ``local[N]`` sessions; a
    cluster session tunes its own from spark-submit.

    So are the source settings, `SOURCE_CONFS`: TIMESTAMP(NANOS)
    parquet columns read as longs (``readers.load_table`` converts them)
    and Python data sources get filter pushdown (``restds``). They are
    set here when the session is built; `ensure_source_confs` brings a
    session built elsewhere up to them.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "financedatabase_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # local rename is atomic; see the docstring
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Split small files down to ~cores scan partitions: staging tables
        # compress to a few MB, and the default byte-based planner gives
        # such files ONE split, serializing CPU-heavy scan work (regex
        # tokenize, hashing) onto one core — measured 24-42% off the heavy
        # sf0.1 queries with these two. Harmless at cluster scale:
        # minPartitionNum is a suggested MINIMUM (maxPartitionBytes still
        # caps splits at 128 MB), and a 64 KB open cost only packs more
        # small files per task.
        .config("spark.sql.files.minPartitionNum", str(cpus))
        .config("spark.sql.files.openCostInBytes", "65536")
        .config(map=SOURCE_CONFS)
        # r15: let the planner pick shuffled-hash over sort-merge when the
        # build side fits (guide §3.1/§9) — drops the per-partition sorts
        # on the composite pipelines' doc-id equi-joins (measured -6..-10%
        # on curation/minhash/simhash at sf0.1, plan: SortMergeJoin →
        # ShuffledHashJoin). Scale-safe: the AQE threshold bounds the
        # build-side partition that may be hash-built (OOM guard). Both
        # are constants: see the docstring.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.ui.enabled", "false")
        # managed tables (bucketed joins, env catalogs) land outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/financedatabase_spark_warehouse"),
        )
    )
    # NOTE: do NOT set spark.driver.memory here — in this container a large
    # explicit heap makes identical jobs degrade 10-15× over a session
    # (measured: 1s → 16s by run 5 with 8g; stable ~1s on the default).
    # Set SPARK_GRAFT_DRIVER_MEM only if a workload genuinely OOMs.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
