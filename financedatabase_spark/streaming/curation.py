"""Continuous-curation back half: the stream-static-refresh pattern.

`streaming_curation_v2` (plans/queries_streaming.py) covers the
MAP-SIDE front of the curation composite — blocklist + Gopher rules are
stateless, so they ride inside the streaming query itself. The stages a
production continuous-ingest deployment still needs are the ones whose
"static" side is TRAINED ON THE CORPUS: the CCNet unigram LM (trained
on the survivors it then scores), the decontamination Bloom bitmap (fed
by benchmark shards that keep landing), SemDeDup centroids. Those
cannot live inside one streaming DAG — Spark's stream-static join
plans the static side ONCE at query start, so a model retrained later
would never be picked up.

The production pattern (stream-static refresh) is a foreachBatch loop:

  micro-batch  → map-side front (blocklist + Gopher) → idempotent
                 EPOCH-KEYED write into the accumulating front sink
                 (overwrite of ``front/epoch=<id>`` — replay-safe, see
                 `write_front_epoch`)
  every k-th   → REFIT the corpus-trained artifact over the
  batch          accumulation (bounded vocab collect → broadcast
                 LocalRelation, exactly like the batch operator) and
                 republish the admitted snapshot

Because each refit re-scores the FULL accumulation with a model trained
on that same accumulation, the snapshot after the final micro-batch is
EXACTLY the batch composite's admitted corpus — not an approximation —
which is what `tests/test_streaming.py::
test_curation_stream_static_refresh_matches_batch` pins. Intermediate
snapshots differ (the composition effect: the LM keeps learning), which
the same test asserts to prove the refresh is live.

Scale shape: foreachBatch bodies are ordinary batch plans — the front
stays codegen map-side per micro-batch; the refit pays one bounded
vocab collect + one ntile window per language over the accumulation,
amortized over `refresh_every` batches. The sinks are plain parquet
directories, so the accumulation survives driver restarts with the
stream's checkpoint (see the checkpoint-restart tests).

Reference parity: the reference's ingest loop is poll → filter → upsert
(FinanceDatabase v2.py polling endpoints); this is its LLM-pipeline
generalization with corpus-trained admission, per the build brief.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from financedatabase_spark.session import stream_state_partitions


def write_front_epoch(survivors: DataFrame, front: str, epoch_id: int) -> str:
    """Idempotent per-epoch front write. foreachBatch is AT-LEAST-ONCE:
    if the driver dies after a batch's write commits but before the
    checkpoint records the offset, the restarted stream re-runs the
    SAME epoch (same ``epoch_id``, same rows). Keying the sink on the
    epoch — ``<front>/epoch=<id>`` — and OVERWRITING that directory
    makes the replay a no-op-equivalent: the rows land exactly once no
    matter how many times the epoch executes. (A flat ``append`` sink
    would double them, and the next refit would then score and admit
    doubled counts.) This is the standard batchId-idempotence pattern
    for foreachBatch sinks. Returns the epoch directory path."""
    path = os.path.join(front, f"epoch={int(epoch_id)}")
    survivors.write.mode("overwrite").parquet(path)
    return path


def read_front(spark: SparkSession, front: str) -> DataFrame:
    """The accumulated front across all committed epochs. Partition
    discovery over the ``epoch=N`` directories adds an ``epoch``
    column; the accumulation drops it so refit sees the survivor schema
    unchanged."""
    return spark.read.parquet(front).drop("epoch")


def run_admission_with_refresh(
    spark: SparkSession,
    stream: DataFrame,
    front_fn: Callable[[DataFrame], DataFrame],
    refit_fn: Callable[[DataFrame], DataFrame],
    work_dir: str,
    refresh_every: int = 1,
    checkpoint: str | None = None,
    timeout_sec: int = 300,
) -> dict:
    """Drive one availableNow drain of ``stream`` through the admission
    loop. ``front_fn`` maps a micro-batch to its map-side survivors
    (appended to ``<work_dir>/front``); every ``refresh_every`` batches
    ``refit_fn`` maps the ACCUMULATED survivors to the refreshed
    admitted snapshot, republished at ``<work_dir>/admitted`` (versioned
    subdirectory + atomic pointer rewrite, so a concurrent reader never
    sees a half-written snapshot). Returns
    {"batches": n, "refreshes": m, "front": path, "admitted": path}.

    A trailing refit always runs if the last micro-batch was not a
    refresh boundary, so the returned snapshot covers the full drain.

    Retry/restart semantics: the front sink is epoch-keyed (see
    `write_front_epoch`), so a replayed micro-batch lands its rows
    exactly once and every refit reads a duplicate-free accumulation.
    ``batches``/``refreshes`` count THIS call's epochs (a restarted
    drain re-counts from zero; the refresh CADENCE may therefore shift
    across restarts, but the trailing refit always rebuilds the
    snapshot from the full accumulation, so the published snapshot is
    restart-invariant). Raises ``TimeoutError`` if the drain outlives
    ``timeout_sec`` — a truncated drain must not masquerade as a
    complete snapshot.
    """
    if not checkpoint:
        # The epoch-keyed sink's idempotence argument REQUIRES durable
        # epoch ids: without a checkpoint a second drain restarts at
        # epoch 0 and its overwrites would clobber part of the prior
        # accumulation while stale higher epochs survive — a silently
        # mixed front. Fail loudly instead.
        raise ValueError(
            "run_admission_with_refresh requires a checkpoint location: "
            "the epoch-keyed front sink is only replay-safe when epoch "
            "ids are durable across drains"
        )
    front = os.path.join(work_dir, "front")
    admitted_root = os.path.join(work_dir, "admitted")
    pointer = os.path.join(work_dir, "ADMITTED_CURRENT")
    os.makedirs(admitted_root, exist_ok=True)
    # Snapshot numbering must survive ACROSS drains on the same
    # work_dir (the steady-state pattern): restarting at v00001 would
    # make a second drain's refit OVERWRITE the directory the live
    # pointer still references, in place — exactly the torn read the
    # versioned-snapshot + atomic-pointer design exists to prevent.
    # Resume from the highest committed version, like ParquetTable's
    # _v numbering.
    base_version = max(
        (
            int(e[1:])
            for e in os.listdir(admitted_root)
            if e.startswith("v") and e[1:].isdigit()
        ),
        default=0,
    )
    state = {"batches": 0, "refreshes": 0}

    def _refit() -> None:
        state["refreshes"] += 1
        acc = read_front(spark, front)
        snap = os.path.join(admitted_root, f"v{base_version + state['refreshes']:05d}")
        refit_fn(acc).write.mode("overwrite").parquet(snap)
        tmp = pointer + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(snap)
        os.replace(tmp, pointer)  # atomic publish

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        write_front_epoch(front_fn(batch_df), front, epoch_id)
        state["batches"] += 1
        if state["batches"] % refresh_every == 0:
            _refit()

    writer = (
        stream.writeStream.foreachBatch(_process)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
    )
    # The per-batch front writes and refits are micro-batch-sized jobs:
    # at the session default (cores) shuffle-partition count they pay
    # dozens of near-empty tasks per aggregation per batch. Scope the
    # drain to the bounded-replay partition count (the same count as the
    # memory-sink drains, `session.stream_state_partitions`; results are
    # partition-invariant — exact aggregates and a deterministic top-k
    # vocab).
    parts = str(stream_state_partitions(spark))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try:
        q = writer.start()
        finished = q.awaitTermination(timeout_sec)
        if not finished:
            q.stop()
            raise TimeoutError(
                f"admission drain exceeded {timeout_sec}s "
                f"({state['batches']} batches processed so far) — refusing to "
                f"publish a snapshot of a truncated drain"
            )
        q.stop()
        if state["batches"] == 0:
            # Empty drain: no micro-batch landed, so no refit ran and no
            # pointer was (re)written. If a prior drain published a
            # snapshot, that snapshot is still current — return it with
            # batches=0 so the caller sees nothing new arrived. On a
            # FIRST-EVER drain there is nothing to publish: raise a named
            # error instead of the bare FileNotFoundError / opaque Spark
            # read failure this path used to hit.
            if not os.path.exists(pointer):
                raise ValueError(
                    "admission drain processed no micro-batches and no prior "
                    "snapshot exists — the source directory is empty; nothing "
                    "to publish"
                )
        elif state["batches"] % refresh_every != 0:
            # trailing refit stays inside the scoped drain configuration
            _refit()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    with open(pointer) as fh:
        current = fh.read().strip()
    return {
        "batches": state["batches"],
        "refreshes": state["refreshes"],
        "front": front,
        "admitted": current,
    }


def current_admitted(spark: SparkSession, work_dir: str) -> DataFrame:
    """Read the snapshot the pointer currently publishes — what a
    downstream consumer broadcasts between refreshes."""
    with open(os.path.join(work_dir, "ADMITTED_CURRENT")) as fh:
        return spark.read.parquet(fh.read().strip())
