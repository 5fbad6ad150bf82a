"""Structured Streaming operators: file-source streams with
availableNow triggers; streaming results must equal the batch analog."""

import os

import pytest
from pyspark.sql import functions as F

from financedatabase_spark.operators.dedup import dedup_keep_last
from financedatabase_spark.operators.resample import resample
from financedatabase_spark.streaming.snapshots import (
    dedup_stream,
    latest_state_stream,
    streaming_bars,
)


@pytest.fixture()
def event_stream(spark, sf_dir, tmp_path):
    """events table staged as a file-source stream."""
    from financedatabase_spark.sources.readers import load_table

    batch = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "stream_src")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    return batch, stream


def _run_stream(spark, sdf, name, mode):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_bars_match_batch(spark, event_stream):
    batch, stream = event_stream
    sdf = streaming_bars(
        stream, "1h", key_cols=["event_type"], ts_col="ts", price_col="value",
        origin_minutes=None,
    )
    got = _run_stream(spark, sdf, "bars_stream", "append").toPandas()

    ticks = batch.select(
        "event_type", "ts", "event_id",
        F.col("value").alias("open"), F.col("value").alias("high"),
        F.col("value").alias("low"), F.col("value").alias("close"),
        F.lit(1).cast("long").alias("volume"),
    )
    want = resample(
        ticks, "1h", ts_col="ts", key_cols=["event_type"], order_cols=["ts"],
        origin_minutes=None, fill_gaps=False,
    ).toPandas()
    # append mode emits only watermark-closed windows; on a bounded source
    # the final window may be withheld — compare on the emitted subset
    key = ["event_type", "ts"]
    got_i = got.set_index(key).sort_index()
    want_i = want.set_index(key).sort_index()
    assert len(got_i) >= 0.9 * len(want_i)
    joined = got_i.join(want_i, lsuffix="_s", rsuffix="_b", how="inner")
    assert len(joined) == len(got_i)
    for c in ("high", "low", "volume"):  # open/close tie-break can differ on equal ts
        assert (joined[f"{c}_s"] == joined[f"{c}_b"]).all(), c


def test_latest_state_stream(spark, event_stream):
    batch, stream = event_stream
    sdf = latest_state_stream(stream, ["user_id"], "ts", ["event_type", "value"])
    got = _run_stream(spark, sdf, "latest_stream", "complete").toPandas()
    want = (
        dedup_keep_last(batch, ["user_id"], ["ts", "event_id"])
        .select("user_id", "ts", "event_type", "value")
        .toPandas()
    )
    got = got.sort_values("user_id").reset_index(drop=True)
    want = want.sort_values("user_id").reset_index(drop=True)
    assert (got["user_id"] == want["user_id"]).all()
    assert (got["ts"] == want["ts"]).all()
    assert (got["value"] == want["value"]).all()


def test_registered_stream_query_leaves_no_memory_view(spark, sf_dir):
    """A registered streaming build drops the memory sink's temp view once
    its frame has resolved it; the frame still reads the sink's rows."""
    from financedatabase_spark.plans.queries_streaming import streaming_latest_state

    def sink_views():
        return {
            t.name for t in spark.catalog.listTables()
            if t.isTemporary and t.name.startswith("q_")
        }

    before = sink_views()
    frames = [streaming_latest_state(spark, sf_dir) for _ in range(2)]
    assert sink_views() == before
    rows = [sorted(map(tuple, df.collect())) for df in frames]
    assert rows[0] and rows[0] == rows[1]


def test_dedup_stream_drops_replayed_rows(spark, sf_dir, tmp_path):
    from financedatabase_spark.sources.readers import load_table

    batch = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    src = str(tmp_path / "dup_src")
    batch.write.mode("overwrite").parquet(src)
    batch.write.mode("append").parquet(src)  # replay everything once
    stream = spark.readStream.schema(batch.schema).parquet(src)
    sdf = dedup_stream(stream, ["event_id"], "ts")
    got = _run_stream(spark, sdf, "dedup_stream_t", "append")
    assert got.count() == batch.count()


def test_forward_fill_stream_state_survives_batches(spark, tmp_path):
    """applyInPandasWithState forward fill: a null arriving in micro-batch 2
    must be filled from the value its key last emitted in micro-batch 1 —
    state outlives the batch, which no windowed aggregate can express."""
    import os
    import time

    from financedatabase_spark.streaming.snapshots import forward_fill_stream

    schema = "user_id long, ts string, value double"
    b1 = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", 1.0),
            (1, "2024-01-01 09:01:00", None),
            (2, "2024-01-01 09:00:30", None),
            (2, "2024-01-01 09:02:00", 2.0),
        ],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b2 = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", None),
            (1, "2024-01-01 10:05:00", 4.0),
            (2, "2024-01-01 10:01:00", None),
        ],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    src = str(tmp_path / "ffill_src")
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.1)  # distinct mtimes so the file source orders batch1 first
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sdf = forward_fill_stream(stream, key_cols=["user_id"], ts_col="ts")
    got = (
        _run_stream(spark, sdf, "ffill_stream", "append")
        .toPandas()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )
    filled = {(r.user_id, str(r.ts)): r.filled_value for r in got.itertuples()}
    assert filled[(1, "2024-01-01 09:01:00")] == 1.0  # intra-batch fill
    assert filled[(1, "2024-01-01 10:00:00")] == 1.0  # CROSS-batch fill
    assert filled[(1, "2024-01-01 10:05:00")] == 4.0
    import math
    assert math.isnan(filled[(2, "2024-01-01 09:00:30")])  # nothing to fill from
    assert filled[(2, "2024-01-01 10:01:00")] == 2.0  # cross-batch fill
    assert len(got) == 7


def test_sessionize_stream_matches_batch(spark, sf_dir, tmp_path):
    """transformWithStateInPandas gap sessionization: replaying the events
    table as a 2-file stream must close, across in-batch gap proofs and
    event-time timers, exactly the sessions the batch session_window twin
    computes — except each key's final session, which stays open (the
    watermark never passes its end on a bounded source)."""
    import time

    from financedatabase_spark.sources.readers import load_table
    from financedatabase_spark.streaming.sessions import (
        sessionize_batch,
        sessionize_stream,
    )

    batch = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    # split on ts median so batch 2 is strictly later (arrival order = ts order)
    mid = str(batch.select("ts").toPandas()["ts"].quantile(0.5, interpolation="lower"))
    src = str(tmp_path / "sess_src")
    cut = F.lit(mid).cast("timestamp_ntz")
    batch.filter(F.col("ts") <= cut).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.1)
    batch.filter(F.col("ts") > cut).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(batch.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    GAP = 120.0

    def _norm(pdf):
        for c in ("session_start", "session_end"):
            if getattr(pdf[c].dt, "tz", None) is not None:
                pdf[c] = pdf[c].dt.tz_convert("UTC").dt.tz_localize(None)
        return pdf.sort_values(["event_type", "session_start"]).reset_index(drop=True)

    got = _norm(
        _run_stream(
            spark,
            sessionize_stream(stream, GAP, ["event_type"], "ts", "value"),
            "sessions_stream",
            "append",
        ).toPandas()
    )
    want_all = _norm(
        sessionize_batch(batch, GAP, ["event_type"], "ts", "value").toPandas()
    )
    # the final watermark is the global max event time: sessions whose
    # end+gap it never passed (each key's tail session near the stream
    # end) stay open and unemitted
    import pandas as pd

    max_ts = batch.select("ts").toPandas()["ts"].max()
    want = want_all[
        want_all["session_end"] + pd.Timedelta(seconds=GAP) <= max_ts
    ].reset_index(drop=True)
    assert len(got) == len(want) > 0
    for c in ("event_type", "session_start", "session_end", "n_events"):
        assert got[c].tolist() == want[c].tolist(), c
    import numpy as np

    assert np.allclose(got["sum_value"], want["sum_value"], rtol=1e-9)


def test_history_union_today_guards_mixed_legs(spark, sf_dir, tmp_path):
    """R2: batch∪batch and stream∪stream union; the unsupported
    batch∪stream mix fails with the engine's clear error, not Spark's
    analysis exception."""
    import pytest

    from financedatabase_spark.sources.readers import load_table
    from financedatabase_spark.streaming.snapshots import history_union_today

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    assert history_union_today(ev, ev).count() == 2 * ev.count()

    stage = str(tmp_path / "s")
    ev.limit(100).write.parquet(stage)
    stream = spark.readStream.schema(ev.schema).parquet(stage)
    with pytest.raises(ValueError, match="both be batch"):
        history_union_today(ev, stream)
    assert history_union_today(stream, stream).isStreaming


def test_streaming_corpus_curation_matches_batch(spark, sf_dir):
    """The Gopher rule bundle is stateless, so running it inside a
    streaming query must produce EXACTLY the batch GROUP BY — and the
    plan must actually be streaming (the projection crosses the
    batch/stream divide unchanged)."""
    from financedatabase_spark.operators.text import gopher_quality
    from financedatabase_spark.plans.registry import QUERIES
    from financedatabase_spark.sources.readers import load_table

    got = {
        (r.source, r["pass"]): (r.n_docs, r.n_words)
        for r in QUERIES["streaming_corpus_curation"](spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    import pyspark.sql.functions as F

    want = {
        (r.source, r["pass"]): (r.n_docs, r.n_words)
        for r in gopher_quality(docs, keep_cols=["source"])
        .groupBy("source", "pass")
        .agg(F.count("*").alias("n_docs"), F.sum("n_words").alias("n_words"))
        .collect()
    }
    assert got == want and got


def test_forward_fill_checkpoint_restart_carries_state(spark, tmp_path):
    """Checkpoint-resume — the semantics a production stream actually
    relies on: drain batch 1, STOP the query, append batch 2, re-create
    the stream on the SAME checkpoint dir. The restarted query must (a)
    not re-emit batch 1 (the file-source offsets committed) and (b) fill
    batch 2's nulls from state built in batch 1 — i.e. stateful state
    survives a query RESTART, not just a micro-batch boundary."""
    from financedatabase_spark.streaming.snapshots import forward_fill_stream

    schema = "user_id long, ts string, value double"
    b1 = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", 1.0),
            (2, "2024-01-01 09:02:00", 2.0),
        ],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b2 = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", None),   # fillable ONLY from restored state
            (2, "2024-01-01 10:01:00", None),
            (2, "2024-01-01 10:02:00", 5.0),
        ],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    src = str(tmp_path / "ckpt_src")
    ckpt = str(tmp_path / "ckpt_state")
    out = str(tmp_path / "ckpt_out")
    b1.coalesce(1).write.mode("overwrite").parquet(src)

    def run():
        # memory sinks don't support checkpoint recovery; the restartable
        # production shape is a file sink + checkpointLocation
        stream = spark.readStream.schema(b1.schema).parquet(src)
        sdf = forward_fill_stream(stream, key_cols=["user_id"], ts_col="ts")
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        return spark.read.parquet(out).toPandas()

    first = run()
    assert len(first) == 2  # batch 1 drained

    b2.coalesce(1).write.mode("append").parquet(src)
    second = run()  # RESTART: fresh query object, same checkpoint dir

    # (a) no re-emission: batch-1 rows appear exactly once in the sink
    assert len(second) == 5, second.to_string()
    assert sorted(second["ts"].astype(str)) == [
        "2024-01-01 09:00:00",
        "2024-01-01 09:02:00",
        "2024-01-01 10:00:00",
        "2024-01-01 10:01:00",
        "2024-01-01 10:02:00",
    ]
    # (b) state carried across the restart: nulls fill from batch-1 values
    filled = {
        (r.user_id, str(r.ts)): r.filled_value for r in second.itertuples()
    }
    assert filled[(1, "2024-01-01 10:00:00")] == 1.0
    assert filled[(2, "2024-01-01 10:01:00")] == 2.0
    assert filled[(2, "2024-01-01 10:02:00")] == 5.0


def _restart_complete(spark, src, schema, build, ckpt, out):
    """Run one availableNow drain of a COMPLETE-mode aggregation through
    a restartable sink: foreachBatch overwrites `out` with each complete
    snapshot, the state store lives at `ckpt`. Returns the final sink."""
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        build(stream)
        .writeStream.foreachBatch(
            lambda df, _eid: df.write.mode("overwrite").parquet(out)
        )
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    return spark.read.parquet(out)


_SHARD1 = [
    (1, "en", "alpha beta gamma alpha"),
    (2, "en", "beta delta"),
    (3, "de", "eins zwei drei"),
]
_SHARD2 = [
    (4, "en", "alpha epsilon beta"),
    (5, "de", "zwei vier"),
    (6, "fr", "un deux"),
]


def _sketch_restart_case(spark, tmp_path, build):
    """Shared drive: drain shard 1, STOP, append shard 2, restart on the
    same checkpoint — the final complete-mode sink must equal the batch
    build over shard1 ∪ shard2 (state survived the restart; losing it
    would leave only shard-2 contributions)."""
    schema = "doc_id long, lang string, text string"
    full = spark.createDataFrame(_SHARD1 + _SHARD2, schema)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    spark.createDataFrame(_SHARD1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    first = _restart_complete(spark, src, full.schema, build, ckpt, out).collect()
    assert first  # shard 1 produced a snapshot
    import time

    time.sleep(1.1)  # distinct mtime so the file source sees a new file
    spark.createDataFrame(_SHARD2, schema).coalesce(1).write.mode("append").parquet(src)
    got = _restart_complete(spark, src, full.schema, build, ckpt, out).toPandas()
    want = build(full).toPandas()
    cols = sorted(want.columns)
    got = got[cols].sort_values(cols).reset_index(drop=True)
    want = want[cols].sort_values(cols).reset_index(drop=True)
    assert got.equals(want), f"restarted sink != batch build\n{got}\nvs\n{want}"
    # and the batch build genuinely mixes both shards (state carried)
    only2 = build(spark.createDataFrame(_SHARD2, schema)).toPandas()
    assert not got.equals(
        only2[cols].sort_values(cols).reset_index(drop=True)
    ), "test is vacuous: shard 2 alone reproduces the full build"


def test_streaming_cms_checkpoint_restart(spark, tmp_path):
    """CMS counters maintained across a query RESTART equal the batch
    grid over the full corpus — sum-merge state survives the stop."""
    from financedatabase_spark.operators.sketch import portable_hash28
    from financedatabase_spark.operators.text import normalized_text

    def build(df):
        toks = df.select(
            F.explode_outer(F.split(normalized_text("text"), " ")).alias("token")
        ).filter(F.col("token") != "")
        cells = toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("row"),
                            F.expr(
                                f"({portable_hash28('token', f'{r}:')}) % 1024"
                            ).alias("bucket"),
                        )
                        for r in range(4)
                    ]
                )
            ).alias("_cell")
        ).select("_cell.row", "_cell.bucket")
        return cells.groupBy("row", "bucket").agg(F.count("*").alias("counter"))

    _sketch_restart_case(spark, tmp_path, build)


def test_streaming_bloom_checkpoint_restart(spark, tmp_path):
    """Bloom bitmap maintained across a restart equals the batch build —
    bit_or-merge state survives the stop (a lost word would flip
    shard-1-only bits back to 0 and admit contaminated docs)."""
    from financedatabase_spark.operators.sketch import bloom_build
    from financedatabase_spark.operators.text import normalized_text

    def build(df):
        keys = df.select(F.md5(normalized_text("text")).alias("h"))
        return bloom_build(keys, "h")

    _sketch_restart_case(spark, tmp_path, build)


def test_streaming_hll_checkpoint_restart(spark, tmp_path):
    """Per-language HLL registers maintained across a restart equal the
    batch build — max-merge state survives the stop."""
    from financedatabase_spark.operators.sketch import hll_registers
    from financedatabase_spark.operators.text import normalized_text

    def build(df):
        toks = df.select(
            "lang",
            F.explode_outer(F.split(normalized_text("text"), " ")).alias("token"),
        ).filter(F.col("token") != "")
        return hll_registers(toks, ["lang"], "token").select(
            "lang", "bucket", F.col("r").cast("int").alias("r")
        )

    _sketch_restart_case(spark, tmp_path, build)


def test_sessionize_checkpoint_restart_carries_state(spark, tmp_path):
    """Stateful gap sessionization survives a query RESTART: a session
    OPENED in batch 1 must close from batch-2 evidence after the stop —
    if the state store were lost, the session would vanish (its events
    were already consumed) rather than emit with its batch-1 rows."""
    from financedatabase_spark.streaming.sessions import sessionize_stream

    schema = "event_type string, ts string, value double"
    b1 = spark.createDataFrame(
        [("a", "2024-01-01 09:00:00", 1.0), ("a", "2024-01-01 09:00:30", 2.0)],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b2 = spark.createDataFrame(
        [
            ("a", "2024-01-01 09:10:00", 3.0),  # proves session-1's gap
            ("a", "2024-01-01 09:10:30", 4.0),
            ("a", "2024-01-01 09:30:00", 5.0),  # closes session 2 by proof+timeout
        ],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    b1.coalesce(1).write.mode("overwrite").parquet(src)

    def run():
        stream = spark.readStream.schema(b1.schema).parquet(src)
        sdf = sessionize_stream(stream, 120.0, ["event_type"], "ts", "value")
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        return spark.read.parquet(out).toPandas()

    first = run()
    assert len(first) == 0  # session 1 still open: nothing to emit yet

    import time

    time.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(src)
    second = run()  # RESTART on the same checkpoint

    sess = {
        str(r.session_start): (str(r.session_end), r.n_events, r.sum_value)
        for r in second.itertuples()
    }
    assert sess == {
        "2024-01-01 09:00:00": ("2024-01-01 09:00:30", 2, 3.0),
        "2024-01-01 09:10:00": ("2024-01-01 09:10:30", 2, 7.0),
    }, second.to_string()


def test_curation_stream_static_refresh_matches_batch(spark, sf_dir, tmp_path):
    """The continuous-curation BACK half (stream-static refresh): a
    foreachBatch loop appends each micro-batch's map-side survivors
    (blocklist + Gopher) to an accumulating sink and, per batch,
    RETRAINS the CCNet LM on the accumulation and republishes the
    admitted (head+middle) snapshot. After 3 micro-batches the final
    snapshot must equal the batch composite's admitted corpus EXACTLY —
    the refit re-scores the full accumulation with a model trained on
    it, so this is equality, not approximation. Intermediate snapshots
    are smaller (partial corpus, partial LM): the refresh is live, not
    one final pass."""
    import time

    from financedatabase_spark.operators.corrections import (
        domain_blocklist_dim,
        filter_blocked_domains,
        registrable_host,
    )
    from financedatabase_spark.operators.lm import ccnet_tertiles
    from financedatabase_spark.operators.text import gopher_quality
    from financedatabase_spark.plans.queries_documents import BLOCKED_DOMAINS, synthetic_url
    from financedatabase_spark.sources.readers import load_table
    from financedatabase_spark.streaming.curation import (
        current_admitted,
        run_admission_with_refresh,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    src = str(tmp_path / "src")
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)  # distinct mtimes -> deterministic file order
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    bl = domain_blocklist_dim(spark, BLOCKED_DOMAINS)

    def front(df):
        # the composite's map-side stages 1-2 (same URL fixture derivation)
        urls = df.withColumn("url", synthetic_url()).withColumn(
            "host", registrable_host(F.col("url"))
        )
        s1 = filter_blocked_domains(urls, bl, url_col="url", host_col="host").select(
            "doc_id", "text", "lang"
        )
        flags = gopher_quality(s1, keep_cols=["text", "lang"])
        return flags.filter(
            F.col("ok_n_words")
            & F.col("ok_word_len")
            & F.col("ok_symbols")
            & F.col("ok_alpha")
        ).select("doc_id", "text", "lang")

    def refit(acc):
        keep = ccnet_tertiles(acc).filter(F.col("bucket") != "tail").select("doc_id")
        return acc.join(keep, "doc_id")

    work = str(tmp_path / "work")
    stats = run_admission_with_refresh(
        spark, stream, front, refit, work,
        refresh_every=1, checkpoint=str(tmp_path / "ckpt"),
    )
    assert stats["batches"] == 3 and stats["refreshes"] == 3

    got = sorted(
        r.doc_id for r in spark.read.parquet(stats["admitted"]).select("doc_id").collect()
    )
    # batch twin: the composite's stages 1-3 over the full corpus
    want_front = front(docs)
    want = sorted(r.doc_id for r in refit(want_front).select("doc_id").collect())
    assert got == want and got

    # composition effect: the first snapshot saw 1/3 of the corpus
    import os

    v1 = spark.read.parquet(os.path.join(work, "admitted", "v00001"))
    assert 0 < v1.count() < len(got)
    # the pointer reads back the final snapshot
    assert sorted(
        r.doc_id for r in current_admitted(spark, work).select("doc_id").collect()
    ) == got

    # --- mid-epoch replay: foreachBatch is at-least-once. Erase the
    # newest commit marker so a restart on the same checkpoint
    # RE-DELIVERS the already-written final epoch (same epoch_id, same
    # rows). The epoch-keyed front sink must absorb the replay: the
    # accumulation stays duplicate-free and the republished snapshot
    # still equals the batch composite.
    front_before = sorted(
        r.doc_id for r in spark.read.parquet(stats["front"]).select("doc_id").collect()
    )
    commits = os.path.join(str(tmp_path / "ckpt"), "commits")
    newest = max(
        (f for f in os.listdir(commits) if not f.startswith(".")), key=int
    )
    os.remove(os.path.join(commits, newest))
    crc = os.path.join(commits, f".{newest}.crc")  # local-FS shadow file
    if os.path.exists(crc):
        os.remove(crc)
    stats2 = run_admission_with_refresh(
        spark, stream, front, refit, work,
        refresh_every=1, checkpoint=str(tmp_path / "ckpt"),
    )
    assert stats2["batches"] == 1  # exactly the replayed epoch, nothing new
    front_after = sorted(
        r.doc_id for r in spark.read.parquet(stats2["front"]).select("doc_id").collect()
    )
    assert front_after == front_before  # replay landed rows exactly once
    assert sorted(
        r.doc_id for r in current_admitted(spark, work).select("doc_id").collect()
    ) == got


def test_curation_refresh_timeout_raises(spark, sf_dir, tmp_path):
    """A drain that outlives timeout_sec must raise, not return a
    silently truncated snapshot."""
    import time

    import pytest as _pytest

    from financedatabase_spark.sources.readers import load_table
    from financedatabase_spark.streaming.curation import run_admission_with_refresh

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    for i in range(2):
        docs.filter(F.col("doc_id") % 2 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def slow_front(df):
        time.sleep(3)
        return df

    with _pytest.raises(TimeoutError, match="truncated drain"):
        run_admission_with_refresh(
            spark, stream, slow_front, lambda acc: acc,
            str(tmp_path / "work"), refresh_every=10,
            checkpoint=str(tmp_path / "ckpt"), timeout_sec=1,
        )


def test_curation_zero_batch_drain(spark, sf_dir, tmp_path):
    """An EMPTY drain must fail loudly on a first run (no snapshot to
    publish -> named ValueError, not a bare FileNotFoundError on the
    pointer) and, after a successful drain, must return the still-valid
    prior snapshot with batches=0 instead of crashing."""
    import pytest as _pytest

    from financedatabase_spark.sources.readers import load_table
    from financedatabase_spark.streaming.curation import (
        current_admitted,
        run_admission_with_refresh,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "src"
    src.mkdir()  # exists but EMPTY: the drain processes no micro-batch
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    work = str(tmp_path / "work")
    with _pytest.raises(ValueError, match="no micro-batches"):
        run_admission_with_refresh(
            spark, stream, lambda df: df, lambda acc: acc, work,
            refresh_every=1, checkpoint=str(tmp_path / "ckpt"),
        )

    # now land real data, drain, then drain AGAIN with nothing new:
    # the prior snapshot stays published and the call reports 0 batches
    docs.filter("doc_id < 50").coalesce(1).write.mode("append").parquet(str(src))
    stats1 = run_admission_with_refresh(
        spark, stream, lambda df: df, lambda acc: acc, work,
        refresh_every=1, checkpoint=str(tmp_path / "ckpt"),
    )
    assert stats1["batches"] == 1 and stats1["refreshes"] == 1
    before = sorted(
        r.doc_id for r in current_admitted(spark, work).select("doc_id").collect()
    )
    stats2 = run_admission_with_refresh(
        spark, stream, lambda df: df, lambda acc: acc, work,
        refresh_every=1, checkpoint=str(tmp_path / "ckpt"),
    )
    assert stats2["batches"] == 0 and stats2["refreshes"] == 0
    assert stats2["admitted"] == stats1["admitted"]
    after = sorted(
        r.doc_id for r in current_admitted(spark, work).select("doc_id").collect()
    )
    assert after == before and after

    # a LATER drain with new data must publish a NEW version directory,
    # never overwrite the one the live pointer references in place (the
    # version counter resumes across drains) — and the old snapshot
    # stays readable until the pointer flips
    docs.filter("doc_id >= 50 AND doc_id < 75").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    stats3 = run_admission_with_refresh(
        spark, stream, lambda df: df, lambda acc: acc, work,
        refresh_every=1, checkpoint=str(tmp_path / "ckpt"),
    )
    assert stats3["batches"] == 1
    assert stats3["admitted"] != stats1["admitted"]
    assert stats3["admitted"].endswith("v00002")
    old = sorted(
        r.doc_id for r in spark.read.parquet(stats1["admitted"]).select("doc_id").collect()
    )
    assert old == before  # prior snapshot untouched
    assert len(
        set(r.doc_id for r in current_admitted(spark, work).select("doc_id").collect())
    ) == 75


def test_run_raises_on_timed_out_drain(spark, sf_dir, monkeypatch):
    """A drain that does not finish in time is stopped and raises: a
    truncated memory sink must not pass for the drained stream."""
    from pyspark.sql.streaming.query import StreamingQuery

    from financedatabase_spark.plans.queries_streaming import streaming_latest_state

    parts = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, timeout=None: False)
    with pytest.raises(TimeoutError, match="truncated sink"):
        streaming_latest_state(spark, sf_dir)
    monkeypatch.undo()
    assert spark.streams.active == []
    assert not [
        t for t in spark.catalog.listTables()
        if t.isTemporary and t.name.startswith("q_")
    ]
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts


def test_stream_state_partitions_capped_at_task_slots(spark, monkeypatch):
    from financedatabase_spark.session import stream_state_partitions

    slots = spark.sparkContext.defaultParallelism
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", str(slots + 5))
    assert stream_state_partitions(spark) == slots
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "1")
    assert stream_state_partitions(spark) == 1


def test_stage_dirs_do_not_accumulate_across_rebuilds(spark, sf_dir):
    """Rebuilding a registered streaming query leaves a constant number of
    directories under the staging root: the staged replay of a source is
    reused, a per-build stage is removed once drained, and a stage the
    returned frame still reads is removed at the next build."""
    from financedatabase_spark.plans import queries_streaming as qs
    from financedatabase_spark.plans.registry import QUERIES

    for name, builds in (
        ("streaming_latest_state", 5),
        ("history_union_today", 5),
        ("streaming_curation_refresh", 3),
    ):
        counts = []
        for _ in range(builds):
            assert QUERIES[name](spark, sf_dir).count() > 0
            counts.append(len(os.listdir(qs._STAGING_ROOT[0])))
        assert len(set(counts)) == 1, (name, counts)


def test_rewritten_source_is_restaged(spark, sf_dir, tmp_path):
    """A rewrite of the source (new mtime and size) makes the next build
    stage a fresh copy and drop the superseded one; the result matches
    the oracle over the rewritten file."""
    import shutil

    import duckdb
    import pyarrow.parquet as pq

    from financedatabase_spark.plans import queries_streaming as qs
    from financedatabase_spark.plans.registry import ORACLE_SQL, QUERIES
    from tests.conftest import assert_frames_match

    src = str(tmp_path / "events.parquet")
    shutil.copy(os.path.join(sf_dir, "events.parquet"), src)
    name = "streaming_latest_state"

    def build_matches():
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{src}'")
        want = con.execute(ORACLE_SQL[name]).fetchdf()
        con.close()
        assert_frames_match(QUERIES[name](spark, str(tmp_path)).toPandas(), want)

    def stages():
        return {
            v[1] for k, v in spark.__dict__["_fdspark_stage_memo"].items()
            if k[0] == src
        }

    build_matches()
    first = stages()
    build_matches()
    assert stages() == first  # unchanged source: the staged copy is reused

    events = pq.read_table(src)
    pq.write_table(events.slice(0, events.num_rows // 2), src)
    build_matches()
    second = stages()
    assert len(second) == 1 and second != first
    assert not any(os.path.exists(d) for d in first)

    shutil.rmtree(next(iter(second)))  # a vanished staged copy re-stages
    build_matches()
    assert stages() != second


def test_concurrent_replays_stage_one_copy(spark, sf_dir, tmp_path):
    """Threads asking for the same staged replay at once share one staged
    copy: the memo's check-and-stage is atomic."""
    import shutil
    import sys
    import threading

    from financedatabase_spark.plans import queries_streaming as qs

    shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path / "events.parquet")
    os.rmdir(qs._stage_dir())  # the staging root exists before the count
    before = set(os.listdir(qs._STAGING_ROOT[0]))
    errors: list[BaseException] = []

    def replay():
        try:
            qs._staged_replay(spark, str(tmp_path), "events", ["user_id", "ts"], "ts")
        except BaseException as e:  # noqa: BLE001 - re-raised by the assert below
            errors.append(e)

    threads = [threading.Thread(target=replay) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(set(os.listdir(qs._STAGING_ROOT[0])) - before) == 1


def test_streaming_build_spawns_no_readlink(sf_dir, tmp_path):
    """Checkpoint files go through the FileSystem-based checkpoint manager,
    so a warm streaming build forks no ``readlink``; ``chmod`` forks (one
    per created file, see `get_spark`) stay bounded. The JVM finds both
    tools through PATH, so wrappers first on PATH log every fork."""
    import shutil
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bin_dir, log = tmp_path / "bin", tmp_path / "spawns.log"
    bin_dir.mkdir()
    for tool in ("readlink", "chmod"):
        real = shutil.which(tool)
        wrapper = bin_dir / tool
        wrapper.write_text(f'#!/bin/sh\necho {tool} >> "{log}"\nexec {real} "$@"\n')
        wrapper.chmod(0o755)
    script = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {repo!r})
        from financedatabase_spark.plans.registry import QUERIES
        from financedatabase_spark.session import get_spark

        spark = get_spark("spawn-count", cpus=4)

        def spawns():
            try:
                with open({str(log)!r}) as fh:
                    return fh.read().split()
            except FileNotFoundError:
                return []

        build = QUERIES["streaming_latest_state"]
        build(spark, {os.path.abspath(sf_dir)!r}).count()  # warm: stages the replay once
        before = len(spawns())
        build(spark, {os.path.abspath(sf_dir)!r}).count()
        new = spawns()[before:]
        jvm = spark._jvm
        mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path({str(tmp_path / "ckpt")!r}),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
        print("MANAGER", mgr.getClass().getName())
        print("SPAWNS", new.count("readlink"), len(new))
        spark.stop()
        """
    )
    env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}")
    env.pop("SPARK_GRAFT_STREAM_STATE_PARTITIONS", None)
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = dict(
        line.split(" ", 1) for line in proc.stdout.splitlines()
        if line.startswith(("MANAGER", "SPAWNS"))
    )
    assert out["MANAGER"].endswith(".FileSystemBasedCheckpointFileManager")
    readlinks, total = map(int, out["SPAWNS"].split())
    assert readlinks == 0
    assert total <= 80, total
