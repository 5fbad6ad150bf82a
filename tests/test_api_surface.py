"""Reference-API parity: every public retrieval call from the reference's
`dbase.DataAPI.ThetaData` surface works against a synthetic bulk options
table, with the reference's semantics (bars in session hours, EOD at
16:00, keep-last snapshots, ticker-change splicing, quote→EOD fallback)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from financedatabase_spark.api import OptionsMarket
from financedatabase_spark.operators.alias import alias_dim


@pytest.fixture(scope="module")
def market(spark):
    rows = []
    seq = 0
    # AAPL under its old ticker 'APPL_OLD' before 2024-01-10, two strikes;
    # in-session quotes every 30 minutes over 4 business days
    for day in (8, 9, 10, 11):  # Jan 2024: Mon..Thu
        root = "APPL_OLD" if day < 10 else "AAPL"
        for strike in (180.0, 185.0):
            for right in ("C", "P"):
                for halfhour in range(13):  # 09:30..15:30
                    ts = dt.datetime(2024, 1, day, 9, 30) + dt.timedelta(minutes=30 * halfhour)
                    px = 5.0 + strike / 100 + day * 0.1 + halfhour * 0.01
                    rows.append(
                        (root, dt.date(2024, 2, 16), strike, right, ts,
                         px - 0.05, px + 0.05, 10 + seq % 5, 12, 7, seq)
                    )
                    seq += 1
    ticks = spark.createDataFrame(
        rows,
        "root string, expiration date, strike double, right string, ts timestamp,"
        "bid double, ask double, bid_size long, ask_size long, volume long, seq long",
    )
    oi = ticks.groupBy("root", "expiration", "strike", "right", F.to_date("ts").alias("d")).count().select(
        "root", "expiration", "strike", "right",
        F.col("d").cast("timestamp").alias("ts"),
        (F.col("count") * 100).cast("long").alias("open_interest"),
    )
    aliases = alias_dim(spark, [("AAPL", "APPL_OLD", "2024-01-10")])
    return OptionsMarket(ticks, open_interest=oi, aliases=aliases)


def test_retrieve_quote_raw_and_resampled(market):
    raw = market.retrieve_quote("AAPL", "2024-02-16", "C", 180.0)
    assert raw.count() == 4 * 13  # ticker change spliced: all 4 days
    assert {"midpoint", "weighted_midpoint"} <= set(raw.columns)
    bars = market.retrieve_quote("AAPL", "2024-02-16", "C", 180.0, interval="1h")
    assert 0 < bars.count() < raw.count()


def test_retrieve_ohlc_session_bars(market):
    bars = market.retrieve_ohlc("AAPL", "2024-02-16", "C", 180.0, interval="1h").toPandas()
    assert (bars.ts.dt.hour >= 9).all() and (bars.ts.dt.hour <= 16).all()
    assert (bars.high >= bars.low).all()


def test_retrieve_eod_is_market_close_stamped(market):
    eod = market.retrieve_eod_ohlc("AAPL", "2024-02-16", "C", 180.0).toPandas()
    assert len(eod) == 4
    assert (eod.ts.dt.hour == 16).all()
    # day 11 closes higher than day 8 by construction
    assert eod.sort_values("ts").close.iloc[-1] > eod.sort_values("ts").close.iloc[0]


def test_bulk_eod_covers_chain(market):
    bulk = market.retrieve_bulk_eod("AAPL", "2024-02-16")
    assert bulk.select("strike", "right").distinct().count() == 4


def test_open_interest(market):
    oi = market.retrieve_openInterest("AAPL", "2024-02-16", "C", 180.0)
    assert oi.count() == 4
    assert market.retrieve_bulk_open_interest("AAPL").count() == 16


def test_realtime_snapshots_keep_last(market):
    rt = market.retrieve_quote_rt("AAPL", "2024-02-16", "C", 180.0).toPandas()
    assert len(rt) == 1
    assert rt.ts.iloc[0] == dt.datetime(2024, 1, 11, 15, 30)
    chain = market.retrieve_bulk_quote_rt("AAPL")
    assert chain.count() == 4  # one row per contract


def test_chain_snapshot_at_time(market):
    snap = market.retrieve_chain_bulk("AAPL", at_time="2024-01-09 12:00:00").toPandas()
    assert len(snap) == 4
    assert (snap.ts <= dt.datetime(2024, 1, 9, 12)).all()


def test_listings(market):
    assert market.list_contracts("AAPL").count() == 4
    dates = [r.date for r in market.list_dates("AAPL", "2024-02-16", "C", 180.0).collect()]
    assert dates == [dt.date(2024, 1, d) for d in (8, 9, 10, 11)]


def test_quote_to_eod_patch_fills_missing_days(spark, market):
    # drop day 9 from the tick table's 'trade' path by filtering volume
    patched = market.quote_to_eod_patch("AAPL", "2024-02-16", "C", 180.0)
    # base EOD already covers all days here, so the patch adds nothing
    assert patched.count() == 4
    # but its schema carries the nullable volume the fallback rows use
    assert dict(patched.dtypes)["volume"] == "bigint"


def test_timeframe_utilities():
    from financedatabase_spark.api import (
        extract_numeric_value,
        identify_length,
        is_retrieval_successful,
        is_theta_data_retrieval_successful,
    )

    assert extract_numeric_value("5m") == ("m", 5)
    assert extract_numeric_value("12h") == ("h", 12)
    assert identify_length("w", 2) == 10          # 2 weeks = 10 trading days
    assert identify_length("h", 3, rt=True) == 180
    import pytest as _pytest
    with _pytest.raises(ValueError):
        identify_length("x", 1)
    assert is_retrieval_successful(object()) is True
    assert is_retrieval_successful("404: no data") is False
    assert is_theta_data_retrieval_successful is is_retrieval_successful


def test_pipeline_facade_exports_resolve(spark, sf_dir):
    """Every name in pipeline.__all__ must import, and a representative
    end-to-end composition through the facade must run: stats -> dedup
    keep-list -> split -> shard packing, one lazy plan chain."""
    from financedatabase_spark import pipeline as P
    from financedatabase_spark.sources.readers import load_table

    missing = [n for n in P.__all__ if not hasattr(P, n)]
    assert not missing

    docs = load_table(spark, sf_dir, "documents")
    keep = P.exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    stats = P.doc_stats(docs).join(keep, "doc_id")
    split = P.dataset_split(stats, {"train": 0.9, "val": 0.05, "test": 0.05})
    shards = P.token_shard_packing(
        split.filter(F.col("split") == "train"),
        "n_tokens_ws", budget=2048, order_col="doc_id",
    )
    out = shards.collect()
    assert out and all(r.n_docs > 0 for r in out)


def test_sources_work_under_a_session_get_spark_did_not_build(spark, tmp_path):
    """The package's sources read through any caller-provided session,
    not only one from `get_spark`: on a session with both source
    settings off (a new session over the same context stands in for a
    caller's own), scanning an `events` table stored as
    TIMESTAMP(NANOS) still yields its `ts` truncated to microseconds,
    and registering the REST catalog switches on Python-source filter
    pushdown, whether or not another session of the same context
    registered the format first. Only that session's conf changes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from financedatabase_spark.session import SOURCE_CONFS
    from financedatabase_spark.sources.readers import load_table
    from financedatabase_spark.sources.restds import register_rest_catalog

    nanos = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(nanos, pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
    )
    other = spark.newSession()
    for key in SOURCE_CONFS:
        other.conf.set(key, "false")
    rows = load_table(other, str(tmp_path), "events").orderBy("event_id").collect()
    epoch = dt.datetime(1970, 1, 1)
    assert [r.ts for r in rows] == [
        epoch + dt.timedelta(microseconds=n // 1000) for n in nanos
    ]
    assert other.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    register_rest_catalog(other)
    assert other.conf.get("spark.sql.python.filterPushdown.enabled") == "true"
    assert all(spark.conf.get(k) == v for k, v in SOURCE_CONFS.items())
