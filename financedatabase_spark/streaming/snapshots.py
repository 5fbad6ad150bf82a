"""Structured Streaming analogs of the reference's realtime paths
(SURVEY.md §2.12 R1–R4).

The reference polls snapshot endpoints for "now" state (v2.py:456-524) and
splices today's snapshot with history per `is_today` routing
(v2.py:2119-2129) — a hand-rolled lambda architecture. Structured
Streaming replaces the polling loop:

- R1 latest-state view  → windowed `last` per key over the stream,
  emitted in update mode (batch analog: dedup keep-last).
- R3 late/dup handling  → `withWatermark` + `dropDuplicates(keys)` —
  exactly the reference's dedup-keep-last-after-splice, but incremental.
- R4 streaming bars     → tumbling `window()` agg with the same
  market-open anchoring as the batch resampler; one code path for both
  (the batch resample IS this plan executed on a bounded source).
- R2 history ∪ today    → `unionByName` of the batch frame and the
  stream: Spark runs the batch part once and incrementalizes the rest.

File-source streams are used in tests (`trigger(availableNow=True)`), the
same code runs on Kafka/rate sources unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from financedatabase_spark.functions.columns import MARKET_OPEN_MINUTES
from financedatabase_spark.operators.resample import _duration_string, _origin_start_time


def _watermarkable(stream: DataFrame, ts_col: str) -> DataFrame:
    """Spark watermarks require TIMESTAMP (with local time zone); batch
    tables surface event time as timestamp_ntz (the on-disk semantic).
    Cast at the streaming edge — wall-clock-preserving under the UTC
    session this engine pins."""
    if dict(stream.dtypes).get(ts_col) == "timestamp_ntz":
        return stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """R3 — drop late duplicates per key within the watermark
    (reference batch analog: v3/utils.py:694-697 keep-last dedup)."""
    return _watermarkable(stream, ts_col).withWatermark(
        ts_col, watermark_delay
    ).dropDuplicates([*key_cols, ts_col])


def latest_state_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """R1 — per-key latest-state view: max_by over the stream keyed on the
    snapshot keys; emit with outputMode('update') for a live quote board
    (reference polling snapshots: v2.py:456-524). No watermark: the
    group-by has no event-time key, so one would never evict state in
    update or complete mode — every key's latest row is kept."""
    value_cols = value_cols or [
        c for c in stream.columns if c not in key_cols and c != ts_col
    ]
    aggs = [F.max(ts_col).alias(ts_col)] + [
        F.max_by(c, F.col(ts_col)).alias(c) for c in value_cols
    ]
    return (
        _watermarkable(stream, ts_col)
        .groupBy(*key_cols)
        .agg(*aggs)
    )


def streaming_bars(
    stream: DataFrame,
    interval: str,
    key_cols: list[str],
    ts_col: str = "ts",
    price_col: str = "value",
    watermark_delay: str = "10 minutes",
    origin_minutes: int | None = MARKET_OPEN_MINUTES,
) -> DataFrame:
    """R4 — incremental OHLCV bars: the batch resampler's window agg with a
    watermark (reference anchoring: utils.py:396 origin=MARKET_OPEN_TIME).
    min_by/max_by on the event time give open/close; append mode emits each
    bar once its window passes the watermark."""
    dur = _duration_string(interval)
    start_time = _origin_start_time(interval, origin_minutes)
    win = (
        F.window(F.col(ts_col), dur, dur, start_time)
        if start_time
        else F.window(F.col(ts_col), dur)
    )
    return (
        _watermarkable(stream, ts_col)
        .withWatermark(ts_col, watermark_delay)
        .groupBy(*key_cols, win.alias("_w"))
        .agg(
            F.min_by(price_col, F.col(ts_col)).alias("open"),
            F.max(price_col).alias("high"),
            F.min(price_col).alias("low"),
            F.max_by(price_col, F.col(ts_col)).alias("close"),
            F.count("*").alias("volume"),
        )
        .select(*key_cols, F.col("_w.start").alias(ts_col), "open", "high", "low", "close", "volume")
    )


def history_union_today(history: DataFrame, today: DataFrame) -> DataFrame:
    """R2 — the reference's is_today routing (v2.py:2119-2129) as a
    union of the historical leg and today's snapshot leg.

    Structured Streaming cannot union a bounded frame with a live stream
    directly, so the lambda shape is one of:

    - **both legs streaming** — history replayed from its files
      (`readStream` + availableNow) unioned with the live source; or
    - **serving view (both legs batch)** — today's micro-batches drain
      into a sink table and the query layer serves
      ``history ∪ sink`` (re-evaluated per batch), usually followed by
      the splice keep-last dedup (P8) over the overlap window.

    The mixed case fails here with a clear error instead of Spark's
    deep analysis exception."""
    if history.isStreaming != today.isStreaming:
        raise ValueError(
            "history and today legs must both be batch (serving view over a "
            "drained sink) or both streaming; Spark does not union bounded "
            "with unbounded frames"
        )
    return history.unionByName(today)


def forward_fill_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    filled_col: str = "filled_value",
) -> DataFrame:
    """W1's streaming twin — per-key forward fill across micro-batches via
    ``applyInPandasWithState``: the state is the last non-null value each
    key has ever emitted, so a null arriving in batch N is filled from a
    value seen in batch N-k. No windowed aggregate can express this
    (state must survive arbitrarily many batches); it is the canonical
    custom-stateful-operator shape (reference batch analog: `.ffill()`,
    utils.py:322, :387-399).

    Rows are filled in (ts asc) order WITHIN each batch and batches are
    assumed in arrival order — the same contract as the reference's
    polling loop, which appends in time order. State is one scalar per
    key: constant memory per key regardless of stream length, and the
    operator shuffles once on the grouping key per micro-batch.
    (`value_col` is assumed double-typed, matching the events table.)
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql import types as T

    in_fields = {f.name: f.dataType for f in stream.schema.fields}
    out_schema = T.StructType(
        [T.StructField(c, in_fields[c]) for c in (*key_cols, ts_col)]
        + [T.StructField(filled_col, in_fields[value_col])]
    )
    state_schema = T.StructType([T.StructField("last", in_fields[value_col])])

    def fill(key, pdfs, state):
        last = state.get[0] if state.exists else None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col]).reset_index(drop=True)
            filled = []
            for v in pdf[value_col]:
                if v is not None and not pd.isna(v):
                    last = v
                filled.append(last)
            res = pdf[[*key_cols, ts_col]].copy()
            res[filled_col] = pd.Series(filled, dtype="float64")
            out.append(res)
        state.update((last,))
        yield from out

    return stream.groupBy(*key_cols).applyInPandasWithState(
        fill, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
