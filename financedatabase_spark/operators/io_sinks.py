"""Sinks and DML rewrites — SURVEY.md §2.1 S7–S9, §2.10 M1–M5.

The reference's sinks are MySQL writes (`to_sql`, SQLHelpers.py:361-367),
an INSERT-IGNORE upsert via temp table (SQLHelpers.py:651-686), and
imperative UPDATE/DELETE builders (SQLHelpers.py:689-776, :251-358). On a
file-backed lakehouse those become:

- append/overwrite parquet writes (`ParquetTable`),
- insert-ignore = LEFT ANTI join on the primary key + append — the incoming
  side shuffles on the PK only; with a Delta/Iceberg catalog this is
  `MERGE WHEN NOT MATCHED` (documented, not required here),
- UPDATE/DELETE = declarative read→rewrite: `when(pred, new)` columns or an
  inverted filter, then overwrite. Non-transactional like any plain-parquet
  rewrite; the reference's match-count guard (A5) is preserved in the
  returned report.

Job budget per statement, once the table has been read in this process
(the first `ParquetTable.read` of a version infers its schema with one
job): UPDATE and DELETE run ONE Spark job, the rewrite's write; dedup runs
TWO, the shuffle-map stage of its aggregate and the write. The guard counts
are not jobs of their own: they are `DataFrame.observe` metrics computed by
the write job and read after `rewrite` returns. Each is observed in the
write's RESULT stage, whose accumulator updates Spark applies once per
partition, so a shuffle-map stage that is re-run after a lost executor
cannot count a row twice.

At scale: appends write partitioned files without touching existing data.
Rewrites are whole-table copy-on-write: `ParquetTable.rewrite` writes the
complete rewritten frame into a fresh `_vN` directory and swaps the
`_CURRENT` pointer to it, so an UPDATE that changes a few rows still
writes every row of the table: on perfbench's market_etl DML table the
bytes written are about 285x the stored bytes of the rows the statements
change. Partition-scoped overwrite would bound that cost; it is not
implemented.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass
from functools import reduce
from typing import Protocol

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass
class DmlReport:
    """Mirror of the reference's DML result dict (SQLHelpers.py:739-776)."""

    success: bool
    rows_matched: int
    rows_affected: int
    error: str | None = None


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the table's rewrite lease."""


class UnsupportedFilesystemError(RuntimeError):
    """The table path's filesystem cannot provide the atomic namespace
    operation the single-writer lease depends on (remote object stores:
    use a conditional-put / catalog-service lease instead)."""


class TableLease(Protocol):
    """Single-writer lease a table rewrite holds across its
    write→commit window.

    Contract: `acquire` returns an opaque token on success and raises
    `ConcurrentWriteError` when another writer holds the lease (after
    transparently recovering leases orphaned longer than
    ``stale_after`` seconds); `release` surrenders the token
    best-effort — releasing an already-broken lease is not an error,
    the stale-recovery path covers leftovers. Mutual exclusion is per
    TABLE: two writers of the same table must contend on the same
    underlying resource however they were constructed.

    **Max-hold contract.** Staleness is judged by the lease's last
    write: a hold that outlives ``stale_after`` without renewal can be
    legitimately broken mid-write by another writer. A rewrite that may
    run longer must heartbeat `renew(token)` — which re-stamps the
    lease and returns the REPLACEMENT token (etag-based leases mint a
    new one) — at some fraction of ``stale_after``;
    `ParquetTable.rewrite(renew_every=...)` wires this up. `renew`
    raises `ConcurrentWriteError` when the lease was already broken and
    re-taken: the writer has LOST exclusivity and must abort, not
    publish.

    `DirectoryLease` is the built-in filesystem implementation;
    `sources/objectstore.ConditionalPutLease` is the object-store one,
    backed by conditional puts (S3 If-None-Match / If-Match, GCS
    x-goog-if-generation-match) behind a three-call client protocol — a
    catalog service (what Delta's LogStore / an Iceberg catalog provide)
    slots in the same way. Pass either to ``ParquetTable(..., lease=...)``
    — the rewrite protocol itself never touches the lock, only
    acquire/release."""

    def acquire(self, stale_after: float = 3600.0) -> object: ...

    def renew(self, token: object) -> object: ...

    def release(self, token: object) -> None: ...


class DirectoryLease:
    """Filesystem `TableLease`: a lock DIRECTORY created with
    ``os.mkdir`` — atomic on POSIX and, unlike ``O_EXCL`` creation, also
    reliable on NFS (where O_EXCL is advisory under NFSv2 and
    historically racy). Remote object-store URIs (s3://, gs://, abfs://,
    hdfs://, ...) have NO atomic namespace operation this lease could
    use, so they raise `UnsupportedFilesystemError` up front rather than
    silently degrading to last-write-wins.

    **Stale break is an atomic takeover.** A lease older than
    ``stale_after`` seconds is presumed orphaned by a crashed writer.
    Breaking it renames the lock directory to a unique tombstone —
    ``os.rename`` succeeds for exactly ONE breaker, so two writers
    racing to break the same stale lease can never both proceed; the
    loser's rename fails and it retries against the winner's fresh
    lease. The tombstone is removed best-effort after the takeover."""

    def __init__(self, table_path: str, lock_name: str = "_LOCK") -> None:
        self.table_path = table_path
        self.lock_name = lock_name

    def acquire(self, stale_after: float = 3600.0, _attempts: int = 8) -> str:
        if "://" in self.table_path and not self.table_path.startswith("file://"):
            raise UnsupportedFilesystemError(
                f"rewrite lease requires an atomic-rename filesystem (local "
                f"or NFS); {self.table_path!r} is a remote URI — use a "
                f"conditional-put or catalog-service TableLease there"
            )
        if _attempts <= 0:
            raise ConcurrentWriteError(
                f"rewrite lease on {self.table_path}: acquire retries "
                f"exhausted (persistent contention or clock skew)"
            )
        lock = os.path.join(self.table_path, self.lock_name)
        os.makedirs(self.table_path, exist_ok=True)
        try:
            os.mkdir(lock)
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lock)
            except OSError:  # lock vanished between check and stat: retry
                return self.acquire(stale_after, _attempts - 1)
            if age > stale_after:
                tombstone = f"{lock}.broken.{os.getpid()}.{int(time.time() * 1e6)}"
                try:
                    os.rename(lock, tombstone)  # atomic: one breaker wins
                except OSError:
                    # another writer broke (or the holder released) first
                    return self.acquire(stale_after, _attempts - 1)
                import shutil as _sh

                _sh.rmtree(tombstone, ignore_errors=True)
                return self.acquire(stale_after, _attempts - 1)
            raise ConcurrentWriteError(
                f"rewrite lease on {self.table_path} held by another writer "
                f"(lock {lock}, age {age:.0f}s)"
            ) from None
        self._owner_line = f"{os.getpid()} {time.time():.0f} {uuid.uuid4().hex[:8]}"
        with open(os.path.join(lock, "owner"), "w") as f:
            f.write(self._owner_line)
        return lock

    def renew(self, token: object) -> object:
        """Re-stamp the lock directory's mtime so staleness is measured
        from the last heartbeat, not the original acquire. Raises
        `ConcurrentWriteError` if the lease is no longer this writer's
        (broken by a staleness takeover and possibly re-taken) — checked
        via the owner file before AND after the utime, which narrows
        (but, unlike the conditional-put lease's CAS, cannot fully
        close) the rename race window; acceptable for the local/NFS dev
        tier this lease serves. Returns the SAME token."""
        lock = str(token)

        def _owned() -> bool:
            try:
                with open(os.path.join(lock, "owner")) as f:
                    return f.read() == getattr(self, "_owner_line", None)
            except OSError:
                return False

        if not _owned():
            raise ConcurrentWriteError(
                f"rewrite lease on {self.table_path} was broken by another "
                f"writer during the hold — abort, do not publish"
            )
        try:
            os.utime(lock, None)
        except OSError:
            raise ConcurrentWriteError(
                f"rewrite lease on {self.table_path} vanished during renew"
            ) from None
        if not _owned():
            raise ConcurrentWriteError(
                f"rewrite lease on {self.table_path} was broken by another "
                f"writer during the hold — abort, do not publish"
            )
        return token

    def release(self, token: object) -> None:
        import shutil as _sh

        _sh.rmtree(str(token), ignore_errors=True)


class ParquetTable:
    """Minimal path-backed table for the sink operators (S7).

    `mode='append'|'overwrite'` maps the reference's `if_exists` flag
    (SQLHelpers.py:361-367).

    **Atomic rewrites.** DML rewrites (UPDATE/DELETE/dedup) read the table
    lazily, so they cannot overwrite their own input in place. Each
    `rewrite` writes a fresh versioned directory (``_vNNNNNNNN`` —
    underscore-prefixed, so Hadoop/Spark flat scans of the table root
    ignore it) and then commits by atomically replacing the ``_CURRENT``
    pointer file (``os.replace``, atomic on POSIX). A crash at ANY point
    leaves the pointer referencing a complete version: before the swap
    readers see the old data, after it the new — the same
    pointer-to-immutable-snapshot commit Delta's ``_delta_log`` performs,
    scaled down to one file. (The reference's replace-then-append MySQL
    rewrite, SQLHelpers.py:380-403, relies on InnoDB transactions for the
    equivalent guarantee.) Stale versions are pruned best-effort AFTER the
    commit; leftovers are invisible to readers.

    Tables created by plain `write` keep the flat layout and remain
    readable; the first `rewrite` migrates them to the versioned layout.

    **Concurrency contract.** Rewrites are single-writer, enforced by a
    mkdir/rename lock-directory lease (`_LOCK` — atomic on POSIX and NFS;
    remote object-store URIs raise `UnsupportedFilesystemError`, see
    `_acquire_lock`): a second concurrent rewrite raises
    `ConcurrentWriteError` before writing anything. Readers need no lock —
    they only ever follow the committed pointer. Plain `write(mode=
    'append')` is append-only file creation and safe alongside readers,
    but racing it against a `rewrite` can strand the appended files in a
    superseded snapshot; route mixed workloads through `rewrite`.

    **Schema memo.** Inferring a parquet schema is a Spark job, so the
    table remembers the schema it read for the committed directory and
    `read()` passes it to ``spark.read.schema(...)``; it infers only when
    the pointer names another directory than the memo's. A `rewrite`
    carries the memo over to the version it commits when the written
    frame's fields equal it by name and type (nullability aside: file
    reads are always nullable), as every DML statement's frame does; any
    other rewrite leaves the next read to infer. `write()` clears it. A
    rewrite by another process moves the pointer to a new directory, so
    this process's next read infers again; an append by another process
    that changes the column set of the current directory is not seen
    until then. `read(version=N)` always infers.
    """

    POINTER = "_CURRENT"
    LOCK = "_LOCK"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_by: list[str] | None = None,
        lease: TableLease | None = None,
    ):
        self.spark = spark
        self.path = path
        self.partition_by = partition_by or []
        # pluggable single-writer lease: the default DirectoryLease covers
        # local/NFS paths; object-store deployments inject a conditional-
        # put / catalog-service implementation (see TableLease)
        self.lease: TableLease = lease or DirectoryLease(path, self.LOCK)
        # (directory, schema) of the last read or carried-over commit
        self._schema_memo: tuple[str, StructType] | None = None

    # -- versioned-layout plumbing ------------------------------------
    def _pointer(self) -> str:
        return os.path.join(self.path, self.POINTER)

    def _current_dir(self) -> str:
        if os.path.isfile(self._pointer()):
            with open(self._pointer()) as f:
                return os.path.join(self.path, f.read().strip())
        return self.path  # flat layout (no rewrite has happened yet)

    def _committed_version(self) -> int:
        """Version number the pointer commits to (0 = flat layout)."""
        base = os.path.basename(self._current_dir())
        if base.startswith("_v") and base[2:].isdigit():
            return int(base[2:])
        return 0

    def _has_flat_files(self) -> bool:
        return os.path.isdir(self.path) and any(
            e.endswith(".parquet") or e == "_SUCCESS"
            or (not e.startswith("_") and os.path.isdir(os.path.join(self.path, e)))
            for e in os.listdir(self.path)
        )

    # -- single-writer lease ------------------------------------------
    def _acquire_lock(self, stale_after: float = 3600.0) -> object:
        """Take the table's rewrite lease via the pluggable `TableLease`.
        Rewrites are single-writer: a second concurrent rewrite fails
        fast with `ConcurrentWriteError` instead of racing the pointer
        swap — the loser's data is never partially visible because it
        never reaches the commit point. See `DirectoryLease` for the
        default filesystem protocol and its stale-break semantics."""
        return self.lease.acquire(stale_after)

    def _release_lock(self, lock: object) -> None:
        """Release the lease (best-effort — an already-broken lease or a
        failing filesystem is not an error for the releaser, the
        stale-recovery protocol covers leftovers)."""
        self.lease.release(lock)

    def exists(self) -> bool:
        if not os.path.isdir(self.path):
            return False
        cur = self._current_dir()
        return os.path.isdir(cur) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in os.listdir(cur)
        )

    def read(self, version: int | None = None) -> DataFrame:
        """Read the current table, or — time travel — any retained
        earlier version (``version=N`` reads ``_vN``; versions are
        retained when pruning was disabled or has not run). The committed
        pointer always names a complete snapshot, so concurrent readers
        never observe a partial rewrite."""
        if version is not None:
            if version == 0:
                # version 0 IS the flat pre-rewrite layout — there is no
                # _v00000000 directory to look for
                if self._has_flat_files():
                    return self.spark.read.parquet(self.path)
                raise FileNotFoundError(f"version 0 not retained at {self.path}")
            if version > self._committed_version():
                # newer dirs are crash orphans from an uncommitted rewrite
                raise FileNotFoundError(
                    f"version {version} not committed at {self.path}"
                )
            vdir = os.path.join(self.path, f"_v{version:08d}")
            if not os.path.isdir(vdir):
                raise FileNotFoundError(f"version {version} not retained at {self.path}")
            return self.spark.read.parquet(vdir)
        cur = self._current_dir()
        memo = self._schema_memo
        if memo is not None and memo[0] == cur:
            return self.spark.read.schema(memo[1]).parquet(cur)
        df = self.spark.read.parquet(cur)
        self._schema_memo = (cur, df.schema)
        return df

    def versions(self) -> list[int]:
        """Retained COMMITTED version numbers, ascending (0 = flat
        pre-rewrite layout, listed only while flat files remain). Orphan
        ``_vN`` dirs left by a crash-before-commit rewrite are newer than
        the pointer and are excluded — they may be incomplete snapshots."""
        if not os.path.isdir(self.path):
            return []
        committed = self._committed_version()
        out = [
            int(e[2:])
            for e in os.listdir(self.path)
            if e.startswith("_v") and e[2:].isdigit()
            and int(e[2:]) <= committed
            and os.path.isdir(os.path.join(self.path, e))
        ]
        if self._has_flat_files():
            out.append(0)
        return sorted(out)

    def write(self, df: DataFrame, mode: str = "append") -> None:
        w = df.write.mode(mode)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        try:
            w.parquet(self._current_dir())
        finally:
            self._schema_memo = None  # the write may change the schema

    def rewrite(
        self, df: DataFrame, retain: int = 1,
        stale_after: float = 3600.0, renew_every: float | None = None,
    ) -> None:
        """Commit ``df`` as the table's new contents atomically (see class
        docstring for the crash-safety argument). ``retain`` keeps that
        many newest version dirs after the commit (>=1; higher values
        enable `read(version=...)` time travel at the cost of storage —
        the same retention/VACUUM trade Delta exposes).

        **Max-hold.** The lease judges staleness from its last write, so
        a rewrite that runs longer than ``stale_after`` without renewal
        can be legitimately broken mid-write by another writer. For
        rewrites that may outlive it (100 TB compactions), pass
        ``renew_every`` (seconds, typically ``stale_after/4``): a
        heartbeat thread then re-stamps the lease while the write runs.
        A heartbeat that finds the lease broken records the loss and the
        rewrite raises `ConcurrentWriteError` BEFORE the pointer swap —
        losing exclusivity mid-write must abort, never publish.

        **Commit-point re-validation.** Heartbeats alone cannot fence
        the commit: if the lease store is unreachable for longer than
        ``stale_after`` while the parquet write runs, the lease goes
        stale without the beater ever observing a 412, a competing
        writer legitimately breaks and re-takes it, and both would
        publish. Two guards close this: (a) the beater records the
        monotonic time of each successful renew, and the commit refuses
        when the last one is older than ``stale_after`` (the lease may
        have been broken during the blackout, whether or not a 412 was
        seen); (b) a SYNCHRONOUS ``lease.renew`` runs immediately before
        the pointer swap — on a CAS lease this proves exclusivity at the
        commit point, on `DirectoryLease` it re-checks the owner file
        (its check-then-stamp TOCTOU residue is documented there)."""
        import shutil
        import threading

        if renew_every is not None and renew_every >= stale_after:
            raise ValueError(
                f"renew_every ({renew_every}s) must be < stale_after "
                f"({stale_after}s), or the lease goes stale between beats; "
                f"use stale_after/4 or faster"
            )
        lock = self._acquire_lock(stale_after)
        cell = {"token": lock, "lost": None, "renewed_at": time.monotonic()}
        stop = threading.Event()
        beater = None
        if renew_every is not None:
            def _beat() -> None:
                while not stop.wait(renew_every):
                    try:
                        cell["token"] = self.lease.renew(cell["token"])
                        cell["renewed_at"] = time.monotonic()
                    except ConcurrentWriteError as exc:
                        # ONLY this means exclusivity is gone (the lease
                        # was broken and re-taken) — record and stop.
                        cell["lost"] = exc
                        return
                    except Exception:  # noqa: BLE001
                        # Transient store error (throttling 503, network
                        # blip): the lease is still ours — keep beating
                        # with the same token and retry next interval. A
                        # renewal that actually landed server-side but
                        # lost its response surfaces as a 412 on the
                        # NEXT beat and the lease disambiguates it by
                        # owner (ConditionalPutLease.renew). An outage
                        # longer than stale_after is caught by the
                        # commit-point fence below — not here.
                        continue

            beater = threading.Thread(target=_beat, daemon=True)
            beater.start()
        try:
            cur = self._current_dir()
            base = os.path.basename(cur)
            n = int(base[2:]) if base.startswith("_v") and base[2:].isdigit() else 0
            new_name = f"_v{n + 1:08d}"
            new_dir = os.path.join(self.path, new_name)
            memo = self._schema_memo
            if memo is not None and (
                memo[0] != cur or df.schema.simpleString() != memo[1].simpleString()
            ):
                memo = None  # simpleString drops nullability at every level
            w = df.write.mode("overwrite")
            if self.partition_by:
                # version snapshots keep the table's partition layout so
                # scan pruning survives the first rewrite
                w = w.partitionBy(*self.partition_by)
            w.parquet(new_dir)

            # The data write is done; quiesce the heartbeat so the
            # commit-point re-validation cannot race it on the token.
            stop.set()
            if beater is not None:
                beater.join()
            if cell["lost"] is not None:
                raise ConcurrentWriteError(
                    f"rewrite of {self.path} lost its lease mid-write; "
                    f"aborting before the commit point"
                ) from cell["lost"]
            if time.monotonic() - cell["renewed_at"] > stale_after:
                # Self-fence: the lease store was unreachable for longer
                # than the staleness horizon, so another writer may have
                # legitimately broken and re-taken the lease without this
                # process ever observing a 412. Exclusivity is unproven;
                # abort rather than risk a torn publish.
                raise ConcurrentWriteError(
                    f"rewrite of {self.path}: no successful lease renewal "
                    f"within stale_after ({stale_after}s); exclusivity "
                    f"unproven at the commit point — aborting, not publishing"
                )
            # Synchronous re-validation at the commit point: a CAS lease
            # proves exclusivity right here; DirectoryLease re-checks the
            # owner file (narrower residual window, documented there).
            cell["token"] = self.lease.renew(cell["token"])
            tmp = self._pointer() + ".tmp"
            with open(tmp, "w") as f:
                f.write(new_name)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self._pointer())  # <- the commit point
            self._schema_memo = None if memo is None else (new_dir, memo[1])

            # post-commit prune of stale data: best-effort, never part of
            # the transaction (a failure here leaves invisible garbage,
            # not a broken table)
            keep = {f"_v{v:08d}" for v in range(n + 2 - max(retain, 1), n + 2)}
            try:
                for entry in os.listdir(self.path):
                    full = os.path.join(self.path, entry)
                    if entry.startswith("_v") and entry not in keep and os.path.isdir(full):
                        shutil.rmtree(full, ignore_errors=True)
                    elif cur == self.path and os.path.isdir(full) and not entry.startswith("_"):
                        # flat-layout key=value/ partition subdirs
                        shutil.rmtree(full, ignore_errors=True)
                    elif cur == self.path and (
                        entry.endswith(".parquet") or entry in ("_SUCCESS",)
                        or entry.endswith(".crc")
                    ):
                        os.remove(full)  # flat-layout files superseded by _v1
            except OSError:
                pass
        finally:
            stop.set()
            if beater is not None:
                beater.join()
            if cell["lost"] is None:
                self._release_lock(cell["token"])


def eq_predicate(filters: dict[str, object]) -> Column:
    """P12 — AND-chain of equality / IN predicates from a filter dict
    (reference builder: SQLHelpers.py:288-305, :706-719)."""
    preds = []
    for col, val in filters.items():
        if isinstance(val, (list, tuple, set)):
            preds.append(F.col(col).isin(*val))
        else:
            preds.append(F.col(col) == F.lit(val))
    if not preds:
        return F.lit(True)
    return reduce(lambda a, b: a & b, preds)


def filter_for_save(df: DataFrame, drop_na: bool = True) -> DataFrame:
    """S9 — the reference's pre-save hygiene (`__filter_data`,
    SQLHelpers.py:894-924): lowercase column names, drop duplicate-named
    columns (keep first), drop all-NA-containing rows, drop duplicate rows."""
    seen: set[str] = set()
    keep: list[Column] = []
    for name in df.columns:
        low = name.lower()
        if low in seen:
            continue  # second occurrence tagged _dup then dropped in the reference
        seen.add(low)
        keep.append(F.col(name).alias(low))
    out = df.select(*keep)
    if drop_na:
        out = out.na.drop("any")
    return out.dropDuplicates()


def insert_ignore(
    target: DataFrame,
    incoming: DataFrame,
    pk_cols: list[str],
) -> DataFrame:
    """S8 — INSERT IGNORE: rows of ``incoming`` whose PK is absent from
    ``target`` are appended; PK-duplicates inside ``incoming`` collapse
    to ONE row, and which of them survives is unspecified:
    ``dropDuplicates(pk_cols)`` keeps whichever row its aggregation sees
    first, which depends on partitioning and task scheduling once
    ``incoming`` spans more than one partition (MySQL would keep the
    first in arrival order). Callers needing a deterministic winner
    deduplicate ``incoming`` themselves first.

    Reference: temp table + ``INSERT IGNORE INTO t SELECT * FROM temp``
    (SQLHelpers.py:651-686). Returns target ∪ surviving-incoming; callers
    persisting to a `ParquetTable` append only the survivors.
    """
    w_incoming = incoming.dropDuplicates(pk_cols)
    survivors = w_incoming.join(target.select(*pk_cols), pk_cols, "left_anti")
    return target.unionByName(survivors)


def update_rewrite(
    df: DataFrame,
    filters: dict[str, object],
    updates: dict[str, Column | object],
) -> tuple[DataFrame, Column]:
    """M1 — ``UPDATE t SET … WHERE eq-preds`` as a declarative rewrite:
    every row keeps its value unless the predicate matches
    (reference: dynamic_batch_update, SQLHelpers.py:689-776).

    Returns (rewritten_df, predicate) so the caller can compute the
    reference's match-count guard with one aggregate."""
    pred = eq_predicate(filters)
    out = df.select(
        *[
            F.when(pred, updates[c] if isinstance(updates[c], Column) else F.lit(updates[c]))
            .otherwise(F.col(c))
            .alias(c)
            if c in updates
            else F.col(c)
            for c in df.columns
        ]
    )
    return out, pred


def delete_rewrite(
    df: DataFrame,
    filters: dict[str, object],
) -> tuple[DataFrame, Column]:
    """M2 — ``DELETE WHERE eq/IN-preds`` as an inverted filter
    (reference: delete_from_table, SQLHelpers.py:251-358). Null-safe: rows
    where the predicate is NULL survive, matching SQL DELETE."""
    pred = eq_predicate(filters)
    return df.filter(~F.coalesce(pred, F.lit(False))), pred


def _observe_matches(df: DataFrame, filters: dict[str, object]) -> tuple[DataFrame, Observation]:
    """``df`` with the statement's match count observed on it, read as
    ``obs.get["matched"]`` after the frame's first action. A NULL
    predicate is no match, as in the reference's ``WHERE``."""
    obs = Observation()
    matched = F.count_if(F.coalesce(eq_predicate(filters), F.lit(False)))
    return df.observe(obs, matched.alias("matched")), obs


def run_update(
    table: ParquetTable, filters: dict[str, object], updates: dict[str, object]
) -> DmlReport:
    """M1 end-to-end against a ParquetTable, with the count guard.

    One Spark job once the table's schema is known: the match count is
    observed on the frame the statement read and computed by the
    rewrite's write job (see the module docstring)."""
    df, obs = _observe_matches(table.read(), filters)
    out, _ = update_rewrite(df, filters, updates)
    table.rewrite(out)
    matched = obs.get["matched"]
    return DmlReport(True, rows_matched=matched, rows_affected=matched)


def run_delete(
    table: ParquetTable, filters: dict[str, object], dry_run: bool = False
) -> DmlReport:
    """M2 end-to-end; ``dry_run`` reports the match count without writing
    (reference: delete_from_table dry-run mode).

    One Spark job: the dry run's count, or the rewrite's write job with
    the match count observed on the frame the statement read (see the
    module docstring)."""
    df = table.read()
    if dry_run:
        matched = df.filter(F.coalesce(eq_predicate(filters), F.lit(False))).count()
        return DmlReport(True, rows_matched=matched, rows_affected=0)
    df, obs = _observe_matches(df, filters)
    out, _ = delete_rewrite(df, filters)
    table.rewrite(out)
    matched = obs.get["matched"]
    return DmlReport(True, rows_matched=matched, rows_affected=matched)


def clear_table(table: ParquetTable) -> DmlReport:
    """M3 — DELETE FROM t (truncate): overwrite with the empty frame."""
    df = table.read()
    table.rewrite(df.limit(0))
    return DmlReport(True, 0, 0)


def dedup_rewrite(table: ParquetTable) -> DmlReport:
    """M4 — whole-table duplicate removal rewrite
    (reference: drop_SQL_Table_Duplicates, SQLHelpers.py:370-405 — read,
    drop_duplicates, batched replace; here a single overwrite).

    Two Spark jobs once the table's schema is known. One aggregate
    groups by every column and counts each group's rows; the write job
    observes the row count before (the sum of the group counts) and
    after (the number of groups) on the aggregate's output, which is its
    result stage (see the module docstring)."""
    df = table.read()
    n = "_n"
    while n in df.columns:
        n = "_" + n
    obs = Observation()
    groups = (
        df.groupBy(*df.columns)
        .agg(F.count(F.lit(1)).alias(n))
        .observe(
            obs,
            F.coalesce(F.sum(n), F.lit(0)).alias("before"),
            F.count(F.lit(1)).alias("after"),
        )
    )
    table.rewrite(groups.drop(n))
    counts = obs.get
    return DmlReport(
        True, rows_matched=counts["before"], rows_affected=counts["before"] - counts["after"]
    )


def export_jsonl_shards(
    df: DataFrame,
    path: str,
    shard_col: str = "shard",
    compression: str | None = "gzip",
) -> int:
    """Training-data export: write one JSONL directory per shard id —
    the hand-off format data loaders stream (pairs with
    `sampling.token_shard_packing`, which assigns the shard ids under a
    token budget).

    Spark-first: `partitionBy(shard_col)` routes rows to their shard
    directory in ONE pass with no per-shard loop or driver involvement;
    rows are repartitioned on the shard column first so each shard is
    written by one task as a contiguous file set (loaders see
    `shard=<id>/part-*.json.gz`). Returns the shard count.
    """
    shards = df.repartition(F.col(shard_col))
    writer = shards.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.partitionBy(shard_col).json(path)
    # count shards from the written layout — re-running the (possibly
    # expensive) upstream plan just for a distinct count doubles the job
    return sum(
        1
        for d in os.listdir(path)
        if d.startswith(f"{shard_col}=") and os.path.isdir(os.path.join(path, d))
    )
