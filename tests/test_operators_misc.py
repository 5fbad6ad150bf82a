"""Unit coverage for operator functions not exercised by registry queries:
alias at-time resolution, skew-salted join, fan-out fetch, market-frame
normalization edge cases, CLI wiring."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from financedatabase_spark.errors import MissingColumnError
from financedatabase_spark.operators.alias import alias_dim, spliced_history, symbol_on_date
from financedatabase_spark.operators.normalize import normalize_market_frame
from financedatabase_spark.operators.skew import salted_agg, salted_join
from financedatabase_spark.sources.paginated import fan_out_fetch


def test_symbol_on_date(spark):
    aliases = alias_dim(spark, [("META", "FB", "2022-06-09")])
    assert symbol_on_date(aliases, "META", "2022-01-01").collect()[0][0] == "FB"
    assert symbol_on_date(aliases, "META", "2022-06-09").collect()[0][0] == "META"


def test_spliced_history_dedups_overlap(spark):
    import datetime as dt

    aliases = alias_dim(spark, [("META", "FB", "2022-06-09")])
    rows = [
        ("FB", dt.datetime(2022, 6, 1), 1, 100.0),
        ("FB", dt.datetime(2022, 6, 8), 2, 101.0),
        ("META", dt.datetime(2022, 6, 9), 3, 102.0),
        ("META", dt.datetime(2022, 6, 10), 4, 103.0),
        # vendor glitch: duplicate timestamp row arriving later must win
        ("META", dt.datetime(2022, 6, 10), 5, 104.0),
    ]
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, seq long, px double")
    out = spliced_history(
        df, aliases, "META", key_cols=["symbol", "ts"], order_cols=["seq"]
    ).toPandas().sort_values("ts")
    assert list(out.px) == [100.0, 101.0, 102.0, 104.0]
    assert (out.symbol == "META").all()


def test_salted_join_matches_plain_join(spark, sf_dir):
    from financedatabase_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(orders, "l_orderkey").agg(
        F.count("*").alias("n"), F.sum("l_quantity").cast("decimal(18,2)").alias("q")
    ).collect()[0]
    salted = salted_join(li, orders, "l_orderkey", buckets=8).agg(
        F.count("*").alias("n"), F.sum("l_quantity").cast("decimal(18,2)").alias("q")
    ).collect()[0]
    assert plain.n == salted.n and plain.q == salted.q


def test_salted_agg_rejects_non_algebraic(spark):
    df = spark.range(10).withColumn("k", F.lit("a"))
    with pytest.raises(ValueError, match="non-algebraic"):
        salted_agg(df, ["k"], {"id": "median"})


def test_fan_out_fetch(spark):
    keys = spark.createDataFrame([(i,) for i in range(20)], "day long").repartition(4)

    def fetch(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"day": pdf.day, "rows_fetched": pdf.day * 10}
        )

    out = fan_out_fetch(keys, fetch, "day long, rows_fetched long").toPandas()
    assert len(out) == 20
    assert out.set_index("day").rows_fetched.sort_index().tolist() == [i * 10 for i in range(20)]


def test_normalize_missing_column_raises(spark):
    df = spark.createDataFrame([(1.0,)], "bid double")
    with pytest.raises(MissingColumnError):
        normalize_market_frame(df, ts_col="timestamp")


def test_normalize_single_contract_drops_identity(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 2, 10), "AAPL", 180500, "call", 1.0, 1.2)],
        "timestamp timestamp, symbol string, strike long, right string, bid double, ask double",
    )
    bulk = normalize_market_frame(df, is_bulk=True)
    assert {"root", "strike", "right"} <= set(bulk.columns)
    assert bulk.collect()[0].strike == 180.5  # wire ÷1000
    assert bulk.collect()[0].right == "C"
    single = normalize_market_frame(df, is_bulk=False)
    assert {"root", "strike", "right"}.isdisjoint(single.columns)
    assert "midpoint" in single.columns


def test_normalize_legacy_names_and_eod(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 2), 1.0, 1.2)],
        "timestamp timestamp, bid double, ask double",
    )
    out = normalize_market_frame(df, legacy_names=True, eod=True)
    assert "CloseBid" in out.columns and "CloseAsk" in out.columns
    assert out.collect()[0].Ts.hour == 16  # midnight shifted to market close


def test_cli_diff_roundtrip(spark, capsys):
    from financedatabase_spark import cli

    rc = cli.main(["diff", "--bases", "fdcli_misc", "--src", "prod", "--dst", "dev"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "fdcli_misc_dev" in out


def test_volume_bars_boundaries(spark):
    """Ticks join bar k while pre-tick cumulative volume < (k+1)*V: a tick
    STRADDLING the threshold belongs to the bar it opened in."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators.resample import volume_bars

    rows = [  # (ts, price, volume) single key; V=10
        ("2024-01-01 09:00:00", 100.0, 4),   # cum_pre 0  -> bar 0
        ("2024-01-01 09:01:00", 101.0, 4),   # cum_pre 4  -> bar 0
        ("2024-01-01 09:02:00", 102.0, 4),   # cum_pre 8  -> bar 0 (straddles)
        ("2024-01-01 09:03:00", 103.0, 4),   # cum_pre 12 -> bar 1
        ("2024-01-01 09:04:00", 99.0, 9),    # cum_pre 16 -> bar 1
        ("2024-01-01 09:05:00", 98.0, 1),    # cum_pre 25 -> bar 2
    ]
    df = spark.createDataFrame(
        [("A", ts, p, v) for ts, p, v in rows],
        "sym string, ts string, price double, volume long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r.bar_idx: r
        for r in volume_bars(df, 10.0, ["sym"], price_col="price").collect()
    }
    assert set(out) == {0, 1, 2}
    assert out[0].open == 100.0 and out[0].close == 102.0 and out[0].volume == 12
    assert out[1].open == 103.0 and out[1].close == 99.0 and out[1].volume == 13
    assert out[2].open == 98.0 and out[2].n_ticks == 1
    # single hash partitioning shared by window + aggregate: exactly one
    # exchange in the plan
    plan = volume_bars(df, 10.0, ["sym"], price_col="price")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 1


def test_connected_components_chain(spark):
    """A path graph needs multiple propagation rounds: every node must end
    labeled with the component minimum, isolated pairs stay separate."""
    from financedatabase_spark.operators.dedup_docs import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 9), (6, 5)], "doc1 long, doc2 long"
    )
    got = {r.doc_id: r.cluster_rep for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 1, 5: 5, 6: 5}


def test_grouped_components_matches_global(spark):
    """Per-group union-find (the lazy semdedup path) must equal the
    iterative global loop on edges that never cross groups — including a
    path graph inside one group (multi-hop union) and singleton edges."""
    from financedatabase_spark.operators.dedup_docs import (
        connected_components,
        grouped_components,
    )

    pairs = spark.createDataFrame(
        [(10, 2, 1), (10, 2, 3), (10, 3, 4), (10, 4, 9), (20, 6, 5), (30, 8, 7)],
        "grp long, doc1 long, doc2 long",
    )
    grouped = {
        r.doc_id: r.cluster_rep for r in grouped_components(pairs, "grp").collect()
    }
    global_ = {
        r.doc_id: r.cluster_rep for r in connected_components(pairs).collect()
    }
    assert grouped == global_ == {1: 1, 2: 1, 3: 1, 4: 1, 9: 1, 5: 5, 6: 5, 7: 7, 8: 7}


def test_hard_negative_mining_band_and_exclusion(spark):
    """Negatives never share the anchor's label; the semi-hard band cuts
    at the ROUNDED score on both edges; ranks order by score desc then
    corpus_id."""
    from financedatabase_spark.operators.similarity import hard_negative_mining

    # anchor (1,0,0); same-label (2) must be excluded even at cosine 1;
    # negatives at cosine 1.0, ~0.707, 0.0, -1.0
    rows = [
        (1, "a", [1.0, 0.0, 0.0]),
        (2, "a", [1.0, 0.0, 0.0]),
        (3, "b", [2.0, 0.0, 0.0]),
        (4, "b", [1.0, 1.0, 0.0]),
        (5, "c", [0.0, 1.0, 0.0]),
        (6, "c", [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    anchors = emb.filter("vec_id = 1").selectExpr(
        "vec_id AS anchor_id", "label", "embedding"
    )
    corpus = emb.selectExpr("vec_id AS corpus_id", "label", "embedding")
    got = hard_negative_mining(anchors, corpus, k=10).collect()
    assert [(r.corpus_id, r.neg_label, r.rank) for r in got] == [
        (3, "b", 1), (4, "b", 2), (5, "c", 3), (6, "c", 4)
    ]
    assert got[0].score == 1.0 and got[3].score == -1.0

    banded = hard_negative_mining(
        anchors, corpus, k=10, min_score=0.0, max_score=0.99
    ).collect()
    assert [r.corpus_id for r in banded] == [4, 5]  # 3 cut high, 6 cut low


def test_hard_negative_mining_degenerate_rows(spark):
    """Zero-norm embeddings must not rank (their NaN cosine sorts above
    every number in Spark and NaN >= x passes the band filter); NULL
    labels drop their rows on either side via the != join predicate."""
    from financedatabase_spark.operators.similarity import hard_negative_mining

    rows = [
        (1, "a", [1.0, 0.0]),
        (2, "b", [1.0, 1.0]),
        (3, "b", [0.0, 0.0]),   # zero norm: must never appear
        (4, None, [1.0, 0.0]),  # NULL label: not a provable negative
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    anchors = emb.filter("vec_id = 1").selectExpr(
        "vec_id AS anchor_id", "label", "embedding"
    )
    corpus = emb.selectExpr("vec_id AS corpus_id", "label", "embedding")
    got = hard_negative_mining(anchors, corpus, k=10, min_score=-1.0).collect()
    assert [r.corpus_id for r in got] == [2]

    # a zero-norm / NULL-label ANCHOR yields no rows rather than NaN ranks
    bad_anchors = emb.filter("vec_id in (3, 4)").selectExpr(
        "vec_id AS anchor_id", "label", "embedding"
    )
    assert hard_negative_mining(bad_anchors, corpus, k=10).count() == 0


def test_grouped_components_dtype_mismatch_raises(spark):
    import pytest as _pytest

    from financedatabase_spark.operators.dedup_docs import grouped_components

    pairs = spark.createDataFrame(
        [(1, 2, "3")], "grp long, doc1 long, doc2 string"
    )
    with _pytest.raises(ValueError, match="share a dtype"):
        grouped_components(pairs, "grp")


def test_dollar_bars_clock(spark):
    from pyspark.sql import functions as F

    from financedatabase_spark.operators.resample import dollar_bars

    rows = [  # (ts, price, size): dollars = 40, 60, 110, 10 -> V=100
        ("2024-01-01 09:00:00", 10.0, 4),   # cum_pre 0   -> bar 0
        ("2024-01-01 09:01:00", 20.0, 3),   # cum_pre 40  -> bar 0
        ("2024-01-01 09:02:00", 11.0, 10),  # cum_pre 100 -> bar 1
        ("2024-01-01 09:03:00", 10.0, 1),   # cum_pre 210 -> bar 2
    ]
    df = spark.createDataFrame(
        [("A", ts, p, v) for ts, p, v in rows],
        "sym string, ts string, price double, volume long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.bar_idx: r for r in dollar_bars(df, 100.0, ["sym"]).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0].dollar_value == 100.0 and out[0].n_ticks == 2
    assert out[1].open == 11.0 and out[1].dollar_value == 110.0
    assert out[2].n_ticks == 1


def test_hot_bucket_mixed_corpus_clusters(spark):
    """Mass duplication PLUS a near-duplicate variant: the starred hot
    bucket must still leave the whole duplicate group one connected
    component with the min doc_id as representative."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators.dedup_docs import (
        connected_components,
        minhash_lsh_dedup,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"), F.lit(base).alias("text")
    ).unionByName(
        spark.createDataFrame(
            [(200, base + " lambda"), (300, "totally different words entirely here now")],
            "doc_id long, text string",
        )
    )
    pairs = minhash_lsh_dedup(docs, threshold=0.5)
    comp = {r.doc_id: r.cluster_rep for r in connected_components(pairs).collect()}
    # all 200 identical docs form one component rooted at doc 0
    assert all(comp[d] == 0 for d in range(200))
    # the unrelated doc never joins
    assert 300 not in comp or comp[300] == 300


def test_deterministic_sampling(spark):
    import pytest
    from pyspark.sql import functions as F

    from financedatabase_spark.operators.sampling import (
        deterministic_sample,
        fixed_size_sample,
        fraction_threshold_hex,
        stratified_sample,
    )

    assert fraction_threshold_hex(0.0) == "00000000"
    assert fraction_threshold_hex(1.0) == "gggggggg"
    assert fraction_threshold_hex(0.5) == "80000000"
    with pytest.raises(ValueError):
        fraction_threshold_hex(1.5)

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("grp")
    )
    a = {r.doc_id for r in deterministic_sample(df, 0.25).collect()}
    b = {r.doc_id for r in deterministic_sample(df.repartition(7), 0.25).collect()}
    assert a == b  # partition-layout independent
    assert 0.18 < len(a) / 2000 < 0.32

    strat = stratified_sample(df, {"0": 1.0, "1": 0.0}, stratum_col="grp")
    got = strat.groupBy("grp").count().collect()
    assert {r.grp: r["count"] for r in got} == {"0": 667}  # '1' empty, '2' dropped

    fx = fixed_size_sample(df, 5, stratum_col="grp")
    assert fx.groupBy("grp").count().collect()[0]["count"] == 5
    fx2 = {r.doc_id for r in fixed_size_sample(df.repartition(11), 5, "grp").collect()}
    assert fx2 == {r.doc_id for r in fx.collect()}


def test_ngram_repetition_hand_example(spark):
    """'a b a b a b c' has six 2-grams: 'a b'×3, 'b a'×2, 'b c'×1 — five
    occurrences of duplicated grams (15 of 18 chars), top gram 9/18. A
    no-repeat doc scores 0; a fully repeated doc scores dup=1."""
    from financedatabase_spark.operators.text import ngram_repetition_columns

    df = spark.createDataFrame(
        [(1, "a b a b a b c"), (2, "one two three four"), (3, "x y x y x y x y")],
        "doc_id int, text string",
    )
    rows = {
        r.doc_id: r
        for r in df.select("doc_id", *ngram_repetition_columns("text", 2)).collect()
    }
    assert rows[1].dup2_frac == 15 / 18 and rows[1].top2_frac == 9 / 18
    assert rows[2].dup2_frac == 0.0
    assert rows[3].dup2_frac == 1.0 and rows[3].top2_frac == 12 / 21


def test_ewma_matches_pandas_ewm(spark):
    """The fold recursion must equal pandas ewm(adjust=False) — level
    after the last observation and the full per-row scan series."""
    import numpy as np
    import pandas as pd

    from financedatabase_spark.operators.smoothing import ewma_last, ewma_series

    rng = np.random.default_rng(7)
    pdf = pd.DataFrame(
        {"k": np.repeat(["a", "b"], 50), "i": list(range(50)) * 2,
         "x": rng.normal(100.0, 5.0, 100)}
    )
    df = spark.createDataFrame(pdf)
    got_last = {r.k: r.ewma_value for r in ewma_last(df, 0.2, ["k"], "i", "x").collect()}
    got_ser = (
        ewma_series(df, 0.2, ["k"], "i", "x")
        .toPandas().sort_values(["k", "i"]).reset_index(drop=True)
    )
    for k in ("a", "b"):
        want = pdf[pdf.k == k].sort_values("i")["x"].ewm(alpha=0.2, adjust=False).mean().to_numpy()
        assert np.allclose(got_last[k], want[-1], rtol=1e-12)
        assert np.allclose(got_ser[got_ser.k == k]["ewma_value"].to_numpy(), want, rtol=1e-12)


def test_ewma_chunked_bit_equals_whole_series(spark):
    """The chunked carry-forward fold must be BIT-identical (==, not
    allclose) to the single-task whole-series fold on a long key —
    same multiply/add operand sequence, threaded boundary accumulator.
    Keys deliberately span different chunk subsets (b is absent from
    the middle chunks, c exists only in the last) so the carry-through
    and late-first-appearance paths are both exercised."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from financedatabase_spark.operators.smoothing import (
        ewma_last,
        ewma_last_chunked,
        ewma_series,
        ewma_series_chunked,
    )

    rng = np.random.default_rng(11)
    n = 20_000
    frames = [
        pd.DataFrame({"k": "a", "i": np.arange(n), "x": rng.normal(100.0, 5.0, n)}),
        pd.DataFrame(  # absent from chunks 2..4
            {"k": "b", "i": np.concatenate([np.arange(2000), np.arange(12000, 15000)]),
             "x": rng.normal(50.0, 2.0, 5000)}
        ),
        pd.DataFrame({"k": "c", "i": np.arange(18000, n), "x": rng.normal(10.0, 1.0, 2000)}),
    ]
    df = spark.createDataFrame(pd.concat(frames)).repartition(7)
    chunk = F.floor(F.col("i") / 2500)  # 8 epochs

    want_last = {r.k: (r.ewma_value, r.n) for r in ewma_last(df, 0.3, ["k"], "i", "x").collect()}
    got_last = {
        r.k: (r.ewma_value, r.n)
        for r in ewma_last_chunked(df, 0.3, ["k"], "i", "x", chunk_expr=chunk,
                                   checkpoint_every=3).collect()
    }
    assert got_last == want_last  # exact float equality, counts included

    want_ser = (
        ewma_series(df, 0.3, ["k"], "i", "x").toPandas().sort_values(["k", "i"]).reset_index(drop=True)
    )
    got_ser = (
        ewma_series_chunked(df, 0.3, ["k"], "i", "x", chunk_expr=chunk)
        .toPandas().sort_values(["k", "i"]).reset_index(drop=True)
    )
    assert len(got_ser) == len(want_ser) == 27_000
    assert (got_ser["ewma_value"].to_numpy() == want_ser["ewma_value"].to_numpy()).all()


def test_tick_imbalance_bars_chunked_bit_equals_whole_series(spark):
    """The chunked tick-bar fold must reproduce the single-fold output
    exactly — bar indices, end markers, tick counts, imbalances — with
    the full recursion state (last price, carried sign, running sum,
    last-close sum) threaded across chunk boundaries. A bar that OPENS
    in one chunk and CLOSES in another is the case that breaks naive
    chunking; 8 chunks over random-walk prices guarantees many such."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from financedatabase_spark.operators.smoothing import (
        tick_imbalance_bars,
        tick_imbalance_bars_chunked,
    )

    rng = np.random.default_rng(23)
    n = 8000
    pdf = pd.concat(
        [
            pd.DataFrame(
                {"k": k, "i": np.arange(n),
                 "price": 100.0 + np.cumsum(rng.choice([-0.5, 0.0, 0.5], n)),
                 "volume": rng.integers(1, 9, n)}
            )
            for k in ("a", "b")
        ]
    )
    df = spark.createDataFrame(pdf).repartition(5)
    chunk = F.floor(F.col("i") / 1000)  # 8 epochs; bars span boundaries

    want = sorted(map(tuple, tick_imbalance_bars(df, 40, ["k"], "i").collect()))
    got = sorted(
        map(
            tuple,
            tick_imbalance_bars_chunked(
                df, 40, ["k"], "i", chunk_expr=chunk, checkpoint_every=3
            ).collect(),
        )
    )
    assert len(want) > 20  # the walk actually closes bars
    assert got == want


def test_tick_run_bars_chunked_bit_equals_whole_series(spark):
    """Same contract as the imbalance variant, for the two-sided run-bar
    state (buy/sell cumulatives + both last-close marks)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from financedatabase_spark.operators.smoothing import (
        tick_run_bars,
        tick_run_bars_chunked,
    )

    rng = np.random.default_rng(29)
    n = 6000
    pdf = pd.concat(
        [
            pd.DataFrame(
                {"k": k, "i": np.arange(n),
                 "price": 100.0 + np.cumsum(rng.choice([-0.5, 0.0, 0.5], n)),
                 "volume": rng.integers(1, 9, n)}
            )
            for k in ("a", "b")
        ]
    )
    df = spark.createDataFrame(pdf).repartition(5)
    chunk = F.floor(F.col("i") / 900)  # 7 epochs

    want = sorted(map(tuple, tick_run_bars(df, 120, ["k"], "i").collect()))
    got = sorted(
        map(
            tuple,
            tick_run_bars_chunked(
                df, 120, ["k"], "i", chunk_expr=chunk, checkpoint_every=3
            ).collect(),
        )
    )
    assert len(want) > 20
    assert got == want


def test_tick_imbalance_bars_hand_example(spark):
    """Tick rule + fixed-threshold boundary recursion on a worked
    example: signs (0,+1,carry +1,-1,+1), sizes (5,3,4,2,6) -> signed
    cum (0,3,7,5,11); threshold 7 closes exactly one bar at i=3."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators.smoothing import tick_imbalance_bars

    rows = [(1, 10.0, 5), (2, 11.0, 3), (3, 11.0, 4), (4, 10.0, 2), (5, 12.0, 6)]
    df = spark.createDataFrame(
        [("k", *r) for r in rows], "g string, i long, price double, volume long"
    )
    out = tick_imbalance_bars(df, 7, ["g"], "i").collect()
    assert len(out) == 1
    b = out[0]
    assert (b.bar_idx, b.end_i, b.n_ticks, b.imbalance) == (0, 3, 3, 7)


def test_int8_quantize_roundtrip_error_bound(spark, sf_dir):
    """Dequantized values must sit within one bucket width
    (hi-lo)/255 of the original, per dimension, for every vector."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators.similarity import (
        _spread,
        _vec,
        dequantize_int8,
        scalar_quantize_int8,
    )
    from financedatabase_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    flat = _spread(emb).select("vec_id", F.posexplode(_vec("embedding")).alias("pos", "x"))
    rng = flat.groupBy("pos").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    codes = scalar_quantize_int8(emb)
    assert codes.agg(F.min("code"), F.max("code")).first() == (0, 255)
    recon = dequantize_int8(codes, rng).join(flat, ["vec_id", "pos"])
    viol = recon.filter(
        F.abs(F.col("x") - F.col("x_hat")) > (F.col("hi") - F.col("lo")) / 255.0 + 1e-12
    ).count()
    assert viol == 0


def test_tick_run_bars_hand_example(spark):
    """One-sided run threshold on a worked example: signs
    (0,+1,-1,-1,+1), sizes (5,3,4,3,2) -> sell side hits 7 at i=4."""
    from financedatabase_spark.operators.smoothing import tick_run_bars

    rows = [(1, 10.0, 5), (2, 11.0, 3), (3, 10.0, 4), (4, 9.0, 3), (5, 10.0, 2)]
    df = spark.createDataFrame(
        [("k", *r) for r in rows], "g string, i long, price double, volume long"
    )
    out = tick_run_bars(df, 7, ["g"], "i").collect()
    assert len(out) == 1
    b = out[0]
    assert (b.bar_idx, b.end_i, b.n_ticks, b.buy_size, b.sell_size) == (0, 4, 4, 3, 7)


def test_anchored_labels_match_pandas_grouper(spark):
    """The anchored calendar labels (W-FRI / BME / BQE / BYS) must agree
    date-by-date with pandas' own Grouper binning — the semantics the
    reference delegates to pandas resample (utils.py:349-357). The span
    crosses year, quarter, month and weekend boundaries (incl. a year
    starting on a weekend: 2022-01-01 is a Saturday)."""
    from financedatabase_spark.operators.resample import anchored_label

    idx = pd.date_range("2021-12-15", "2024-07-15", freq="D")
    pdf = pd.DataFrame({"ts": idx, "v": 1.0})
    sdf = spark.createDataFrame(pdf)

    labeled = sdf.select(
        "ts",
        *[
            anchored_label(F.col("ts"), g).alias(g.replace("-", "_"))
            for g in ("w-fri", "bme", "bqe", "bys")
        ],
    ).toPandas()

    s = pdf.set_index("ts")["v"]
    for grain, col in [("W-FRI", "w_fri"), ("BME", "bme"), ("BQE", "bqe"), ("BYS", "bys")]:
        expect = {}
        for label, group in s.groupby(pd.Grouper(freq=grain)):
            for d in group.index:
                expect[d] = label
        got = dict(zip(labeled["ts"], labeled[col]))
        mismatches = [d for d in expect if pd.Timestamp(got[d]) != expect[d]]
        assert not mismatches, (grain, mismatches[:5])


def test_fixed_size_sample_prefilter_equivalence_under_skew(spark):
    """The two-phase (map-side pre-filter + exact window) fixed-size
    sample must select bit-identical rows to the single-window form on a
    pathologically skewed corpus (one stratum holds ~97% of rows) and
    under different partition layouts."""
    from financedatabase_spark.operators import sampling as smp

    rows = [(i, "en" if i % 30 != 0 else ["de", "fr", "zh"][(i // 30) % 3]) for i in range(9000)]
    base = spark.createDataFrame(rows, "doc_id long, lang string")
    for parts in (1, 7, 32):
        df = base.repartition(parts)
        two_phase = smp.fixed_size_sample(df, 10, stratum_col="lang")
        single = smp.fixed_size_sample(df, 10, stratum_col="lang", local_prefilter=False)
        a = sorted(map(tuple, two_phase.collect()))
        b = sorted(map(tuple, single.collect()))
        assert a == b, parts
        per = {
            r.lang: r.n
            for r in two_phase.groupBy("lang").count().withColumnRenamed("count", "n").collect()
        }
        assert per == {"en": 10, "de": 10, "fr": 10, "zh": 10}


def test_token_packing_hierarchical_equivalence(spark):
    """The two-level-scan packing must produce bit-identical shards to
    the monolithic single-window form — keyed and unkeyed, across
    partition layouts (the offsets make the result independent of where
    the range boundaries land)."""
    from financedatabase_spark.operators import sampling as smp

    rows = [(i, ["en", "de", "fr"][(i * 7) % 3], 50 + (i * 13) % 90) for i in range(4000)]
    base = spark.createDataFrame(rows, "doc_id long, lang string, tok long")
    for key_cols in (["lang"], None):
        for parts in (1, 5, 32):
            df = base.repartition(parts)
            h = smp.token_shard_packing(df, "tok", 4096, key_cols=key_cols)
            m = smp.token_shard_packing(df, "tok", 4096, key_cols=key_cols, hierarchical=False)
            assert sorted(map(tuple, h.collect())) == sorted(map(tuple, m.collect())), (
                key_cols,
                parts,
            )


def test_deterministic_shuffle_positions(spark):
    """The hierarchical shuffle must equal the monolithic window across
    partition layouts; positions are a dense 0..n-1 permutation, stable
    across runs, and differ between seeds."""
    from financedatabase_spark.operators import sampling as smp

    base = spark.createDataFrame(
        [(i, f"s{i % 4}") for i in range(3000)], "doc_id long, src string"
    )
    for parts in (1, 5, 32):
        df = base.repartition(parts)
        h = {r.doc_id: r.pos for r in smp.deterministic_shuffle(df, seed=7).collect()}
        m = {
            r.doc_id: r.pos
            for r in smp.deterministic_shuffle(df, seed=7, hierarchical=False).collect()
        }
        assert h == m, parts
        assert sorted(h.values()) == list(range(3000))
    again = {
        r.doc_id: r.pos for r in smp.deterministic_shuffle(base, seed=7).collect()
    }
    other = {
        r.doc_id: r.pos for r in smp.deterministic_shuffle(base, seed=8).collect()
    }
    assert again == h and other != h


def test_interval_join_boundaries_and_multiplicity(spark):
    """Inclusive [start, end] bounds, exactly-once pairing even when an
    interval spans many buckets, and overlapping intervals each match."""
    import datetime as dt

    from financedatabase_spark.operators.joins import interval_join

    d = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    points = spark.createDataFrame(
        [(1, d("2024-01-01 00:00:00")), (2, d("2024-01-05 12:00:00")),
         (3, d("2024-01-10 00:00:00")), (4, d("2024-02-01 00:00:00"))],
        "pid int, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [(10, d("2024-01-01 00:00:00"), d("2024-01-10 00:00:00")),  # spans many 1-day buckets
         (20, d("2024-01-05 00:00:00"), d("2024-01-06 00:00:00"))],
        "iid int, s timestamp, e timestamp",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in interval_join(points, intervals, "ts", "s", "e", bucket_seconds=86400).collect()
    )
    # p1 at start bound, p3 at end bound (inclusive), p2 in both intervals,
    # p4 in none; no duplicate pairs from the 10-bucket interval
    assert got == [(1, 10), (2, 10), (2, 20), (3, 10)]


def test_volume_bars_hierarchical_equals_window(spark, sf_dir):
    """The two-level prefix sum must produce identical bars to the
    per-key window on integral volumes, at any partition layout."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators.resample import volume_bars
    from financedatabase_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id",
        F.col("value").alias("price"),
        (F.col("event_id") % 7 + 1).cast("long").alias("volume"),
    )
    kw = dict(key_cols=["event_type"], price_col="price", order_col="event_id")
    want = sorted(map(tuple, volume_bars(ev, 100.0, **kw).collect()))
    got = sorted(map(tuple, volume_bars(ev.repartition(11), 100.0, hierarchical=True, **kw).collect()))
    assert len(want) > 30
    assert got == want


def test_review_fix_edge_cases(spark):
    """r5 review fixes: (1) fixed_size_sample's map-side prefilter must
    rank null hash buckets first like Spark's exact window; (2) chunked
    EWMA must not silently drop rows whose chunk id is null; (3) bm25
    guards empty inputs."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from financedatabase_spark.operators.retrieval import bm25_topk
    from financedatabase_spark.operators.sampling import fixed_size_sample
    from financedatabase_spark.operators.smoothing import ewma_last, ewma_last_chunked

    # (1) null keys in an oversized stratum
    rows = [(i, "g") for i in range(40)] + [(None, "g")] * 3
    df = spark.createDataFrame(rows, "doc_id int, grp string").repartition(5)
    exact = sorted(map(tuple, fixed_size_sample(df, 5, "grp", local_prefilter=False).collect()),
                   key=repr)
    fast = sorted(map(tuple, fixed_size_sample(df, 5, "grp").collect()), key=repr)
    assert fast == exact
    assert (None, "g") in fast  # null bucket ranks first -> selected

    # (2) null chunk ids fold (first), never dropped
    ev = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "i int, x double"
    ).withColumn("k", F.lit("a"))
    chunk = F.when(F.col("i") >= 2, F.floor(F.col("i") / 5))  # i<2 -> null chunk
    got = ewma_last_chunked(ev, 0.4, ["k"], "i", "x", chunk_expr=chunk).first()
    want = ewma_last(ev, 0.4, ["k"], "i", "x").first()
    assert got.n == want.n == 10  # all rows folded
    assert got.ewma_value == want.ewma_value  # null chunk = earliest epoch

    # (3) bm25 input guards
    with _pytest.raises(ValueError, match="query term"):
        bm25_topk(ev, [])
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bm25_topk(empty, ["spark"]).count() == 0


def test_review_fix_edge_cases_r6(spark):
    """r6 review fixes: (1) ewma_series_chunked must emit rows whose
    chunk id is null (the final join is null-safe, not plain equality);
    (2) chunk_expr=None raises a clear ValueError instead of an obscure
    PySpark type error; (3) attach_running_total_before with a Column
    value_col must not leak the internal _val column; (4) blocked
    candidate selection honors a non-default round_digits."""
    import numpy as np
    import pandas as pd
    import pytest as _pytest

    from pyspark.sql import functions as F

    from financedatabase_spark.operators.prefix import attach_running_total_before
    from financedatabase_spark.operators.similarity import cosine_topk
    from financedatabase_spark.operators.smoothing import (
        ewma_last_chunked,
        ewma_series,
        ewma_series_chunked,
        tick_imbalance_bars_chunked,
    )

    # (1) null chunk ids survive the series join
    ev = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "i int, x double"
    ).withColumn("k", F.lit("a"))
    chunk = F.when(F.col("i") >= 2, F.floor(F.col("i") / 5))  # i<2 -> null chunk
    want = ewma_series(ev, 0.4, ["k"], "i", "x").toPandas().sort_values("i")
    got = (
        ewma_series_chunked(ev, 0.4, ["k"], "i", "x", chunk_expr=chunk)
        .toPandas().sort_values("i")
    )
    assert len(got) == len(want) == 10  # null-chunk rows emitted
    assert (got["ewma_value"].to_numpy() == want["ewma_value"].to_numpy()).all()

    # (2) chunk_expr is effectively required — clear error, not a type crash
    with _pytest.raises(ValueError, match="chunk_expr is required"):
        ewma_last_chunked(ev, 0.4, ["k"], "i", "x")
    with _pytest.raises(ValueError, match="chunk_expr is required"):
        tick_imbalance_bars_chunked(ev, 5, ["k"], "i", price_col="x", size_col="i")

    # (3) Column-typed value_col: _val must not leak into the output
    base = spark.createDataFrame([(i, i % 3, float(i)) for i in range(20)],
                                 "i int, g int, v double")
    out = attach_running_total_before(base, F.col("v") * 2, ["g"], "i")
    assert set(out.columns) == {"i", "g", "v", "_before"}
    row = {(r.g, r.i): r._before for r in out.collect()}
    pdf = base.toPandas().sort_values(["g", "i"])
    expect = pdf.groupby("g")["v"].cumsum() * 2 - pdf["v"] * 2
    for (g, i), want_b in zip(zip(pdf["g"], pdf["i"]), expect):
        assert row[(g, i)] == want_b

    # (4) blocked top-k selection rounds at round_digits, not 1e6:
    # with 2-digit rounding the two corpus vectors tie on score and the
    # corpus_id asc tie-break must pick id=1 — a 6-digit block selection
    # would keep id=2 (raw score higher) and drop id=1.
    qdf = spark.createDataFrame(pd.DataFrame({"qid": [0], "vec": [[1.0, 0.0]]}))
    theta1, theta2 = 0.08, 0.075  # cos ~0.9968 vs ~0.9972 -> both round to 1.0
    cdf = spark.createDataFrame(pd.DataFrame({
        "cid": [1, 2],
        "vec": [[np.cos(theta1), np.sin(theta1)], [np.cos(theta2), np.sin(theta2)]],
    }))
    top = cosine_topk(qdf, cdf, k=1, query_id="qid", corpus_id="cid",
                      vec_col="vec", round_digits=2, vectorized=True).collect()
    assert [(r.cid, r.score) for r in top] == [(1, 1.0)]


def test_tick_imbalance_bars_adaptive_matches_reference_loop(spark):
    """Adaptive-threshold imbalance bars vs a straightforward pandas
    loop implementing the same recursion (tick rule with carried sign,
    close when |cum - bcum| >= thr_k, thr updated by EWMA of the closed
    bar's |imbalance|)."""
    import numpy as np
    import pandas as pd

    from financedatabase_spark.operators.smoothing import tick_imbalance_bars_adaptive

    rng = np.random.default_rng(31)
    n = 4000
    frames = []
    for k in ("a", "b"):
        frames.append(
            pd.DataFrame(
                {"k": k, "i": np.arange(n),
                 "price": 100.0 + np.cumsum(rng.choice([-0.5, 0.0, 0.5], n)),
                 "volume": rng.integers(1, 9, n)}
            )
        )
    pdf = pd.concat(frames)
    df = spark.createDataFrame(pdf).repartition(5)

    def reference(g, t0, a):
        sg, pp, cum, bcum, thr = 0, None, 0, 0, float(t0)
        prev_i, prev_cum, out = 0, 0, []
        for idx, (_, r) in enumerate(g.sort_values("i").iterrows(), start=1):
            if pp is not None:
                s = (r.price > pp) - (r.price < pp)
                if s != 0:
                    sg = s
            pp = r.price
            cum += sg * int(r.volume)
            if abs(cum - bcum) >= thr:
                out.append((len(out), int(r.i), idx - prev_i, cum - prev_cum, thr))
                thr = a * abs(cum - bcum) + (1 - a) * thr
                bcum, prev_i, prev_cum = cum, idx, cum
        return out

    got = {}
    for r in tick_imbalance_bars_adaptive(df, 40.0, 0.3, ["k"], "i").collect():
        got.setdefault(r.k, []).append(
            (r.bar_idx, r.end_i, r.n_ticks, r.imbalance, r.threshold)
        )
    for k in ("a", "b"):
        want = reference(pdf[pdf.k == k], 40.0, 0.3)
        assert len(want) > 10
        assert sorted(got[k]) == want


def test_corrections_config_file_matches_dict_path(spark, tmp_path):
    """File-driven corrections (reference patches/setup.yaml +
    main.py:95-114 setup()): a YAML config must anti-join identically
    to the in-code entry list; disabled entries are skipped; malformed
    entries fail certification with a clear ValueError (the reference
    raises on uncertified patch functions)."""
    import pytest as _pytest

    from financedatabase_spark.operators.corrections import (
        apply_corrections,
        load_quarantine_config,
        quarantine_dim,
    )

    yml = tmp_path / "setup.yaml"
    yml.write_text(
        "patches:\n"
        "  - query_name: list_dates\n"
        "    symbol: AAPL\n"
        "    bad_date: 2014-06-09\n"
        "    description: AAPL 7:1 split artifact\n"
        "  - query_name: list_dates\n"
        "    symbol: MSFT\n"
        "    bad_date: 2020-08-25\n"
        "    enabled: false\n"
    )
    entries = load_quarantine_config(str(yml))
    assert entries == [("list_dates", "AAPL", "2014-06-09")]  # disabled skipped

    df = spark.createDataFrame(
        [("AAPL", "2014-06-09"), ("AAPL", "2014-06-10"), ("MSFT", "2020-08-25")],
        "symbol string, ts string",
    ).withColumn("ts", F.to_date("ts"))
    from_file = apply_corrections(
        df, quarantine_dim(spark, entries), "list_dates"
    )
    from_dict = apply_corrections(
        df,
        quarantine_dim(spark, [("list_dates", "AAPL", "2014-06-09")]),
        "list_dates",
    )
    got = sorted(map(tuple, from_file.collect()))
    assert got == sorted(map(tuple, from_dict.collect()))
    assert len(got) == 2  # only the quarantined AAPL row dropped

    # JSON variant loads the same entries
    js = tmp_path / "setup.json"
    js.write_text(
        '{"patches": [{"query_name": "list_dates", "symbol": "AAPL",'
        ' "bad_date": "2014-06-09"}]}'
    )
    assert load_quarantine_config(str(js)) == entries

    # certification failures
    bad = tmp_path / "bad.yaml"
    bad.write_text("patches:\n  - query_name: q\n    symbol: A\n")
    with _pytest.raises(ValueError, match="missing required"):
        load_quarantine_config(str(bad))
    bad.write_text(
        "patches:\n  - query_name: q\n    symbol: A\n    bad_date: junk\n"
    )
    with _pytest.raises(ValueError, match="not an ISO date"):
        load_quarantine_config(str(bad))


def test_tick_run_bars_adaptive_matches_reference_loop(spark):
    """Adaptive-threshold run bars vs a straightforward pandas loop
    implementing the same recursion (tick rule with carried sign, close
    when max(buy_run, sell_run) >= thr_k, thr updated by EWMA of the
    closed bar's triggering run magnitude)."""
    import numpy as np
    import pandas as pd

    from financedatabase_spark.operators.smoothing import tick_run_bars_adaptive

    rng = np.random.default_rng(37)
    n = 4000
    frames = []
    for k in ("a", "b"):
        frames.append(
            pd.DataFrame(
                {"k": k, "i": np.arange(n),
                 "price": 100.0 + np.cumsum(rng.choice([-0.5, 0.0, 0.5], n)),
                 "volume": rng.integers(1, 9, n)}
            )
        )
    pdf = pd.concat(frames)
    df = spark.createDataFrame(pdf).repartition(5)

    def reference(g, t0, a):
        sg, pp, cb, cs, bb, bs, thr = 0, None, 0, 0, 0, 0, float(t0)
        prev_i, prev_cb, prev_cs, out = 0, 0, 0, []
        for idx, (_, r) in enumerate(g.sort_values("i").iterrows(), start=1):
            if pp is not None:
                s = (r.price > pp) - (r.price < pp)
                if s != 0:
                    sg = s
            pp = r.price
            cb += int(r.volume) if sg > 0 else 0
            cs += int(r.volume) if sg < 0 else 0
            run = max(cb - bb, cs - bs)
            if run >= thr:
                out.append((len(out), int(r.i), idx - prev_i,
                            cb - prev_cb, cs - prev_cs, thr))
                thr = a * run + (1 - a) * thr
                bb, bs, prev_i, prev_cb, prev_cs = cb, cs, idx, cb, cs
        return out

    got = {}
    for r in tick_run_bars_adaptive(df, 60.0, 0.3, ["k"], "i").collect():
        got.setdefault(r.k, []).append(
            (r.bar_idx, r.end_i, r.n_ticks, r.buy_size, r.sell_size, r.threshold)
        )
    for k in ("a", "b"):
        want = reference(pdf[pdf.k == k], 60.0, 0.3)
        assert len(want) > 10
        assert sorted(got[k]) == want


def test_ivf_auto_vectorized_switch(spark, sf_dir):
    """vectorized="auto" must pick the Catalyst fold below
    AUTO_VECTORIZE_BYTES of corpus and the blocked-matmul path above —
    with identical (rounded) results either way."""
    from financedatabase_spark.operators import similarity as sim

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = corpus.limit(8).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    c = corpus.select(F.col("vec_id").alias("corpus_id"), "label", "embedding")
    assert sim._resolve_vectorized("auto", c) is False  # test corpora are tiny
    assert sim._resolve_vectorized(True, c) is True
    old = sim.AUTO_VECTORIZE_BYTES
    try:
        sim.AUTO_VECTORIZE_BYTES = 0
        assert sim._resolve_vectorized("auto", c) is True
        blocked = sim.ivf_topk(queries, c, k=3, query_id="query_id",
                               cell_col="label", vectorized="auto").collect()
    finally:
        sim.AUTO_VECTORIZE_BYTES = old
    fold = sim.ivf_topk(queries, c, k=3, query_id="query_id",
                        cell_col="label", vectorized="auto").collect()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    assert sorted(blocked, key=key) == sorted(fold, key=key)


def test_document_chunks_reference_and_plan(spark):
    """with_document_chunks vs a pandas reference loop: full coverage
    with the declared overlap, 0-based chunk indices, short-doc and
    single-token edges; plan gate: staged words (one split), no
    re-inlined chunk tree in an inferred generate filter."""
    import pytest as _pytest

    from financedatabase_spark.operators.text import with_document_chunks

    rows = [
        (1, " ".join(f"w{i}" for i in range(10))),  # 2 chunks at stride 4
        (4, " ".join(f"w{i}" for i in range(11))),  # 3rd chunk adds w10
        (2, "only three words"),                    # single short chunk
        (3, "solo"),                                # single token
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = sorted(
        (r.doc_id, r.chunk_idx, r.chunk_text, r.chunk_tokens)
        for r in with_document_chunks(df, "text", max_tokens=6, overlap=2).collect()
    )
    want = []
    for doc_id, text in rows:
        words = text.split()
        stride = 6 - 2
        s = 0
        idx = 0
        while True:  # stop once a chunk reaches the document end —
            piece = words[s:s + 6]  # no overlap-only trailing chunk
            want.append((doc_id, idx, " ".join(piece), len(piece)))
            if s + 6 >= len(words):
                break
            s += stride
            idx += 1
    assert got == sorted(want)
    # overlap property: consecutive chunks share exactly `overlap` tokens
    c0, c1 = want[0][2].split(), want[1][2].split()
    assert c0[-2:] == c1[:2]

    plan = (
        with_document_chunks(df, "text", max_tokens=6, overlap=2)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("split(") == 1, plan

    with _pytest.raises(ValueError, match="overlap"):
        with_document_chunks(df, "text", max_tokens=8, overlap=8)


def test_rrf_fuse_semantics(spark):
    """Reciprocal-rank fusion: a doc present in both lists must outscore
    a doc that ranks first in only one list (the RRF property that makes
    it the standard hybrid combiner); scores equal the hand-computed
    sum(1/(k_rrf+rank)); n_lists counts contributing lists; ties break
    on doc_id; empty input rejected."""
    import pytest as _pytest

    from financedatabase_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, rank long"
    )
    dense = spark.createDataFrame(
        [(99, 1), (20, 2), (30, 3)], "doc_id long, rank long"
    )
    out = {r.doc_id: r for r in rrf_fuse([lex, dense], k=10).collect()}
    assert out[20].n_lists == 2 and out[10].n_lists == 1
    assert out[20].rrf_score == round(1 / 62 + 1 / 62, 6)
    assert out[10].rrf_score == round(1 / 61, 6)
    # doc 20 (rank 2 in both) beats docs 10/99 (rank 1 in one list each)
    assert out[20].rank == 1
    # 10 vs 99: identical scores -> id tiebreak
    assert out[10].rank < out[99].rank

    # k truncates the fused list
    assert rrf_fuse([lex, dense], k=2).count() == 2

    with _pytest.raises(ValueError, match="ranked list"):
        rrf_fuse([])


# --- unigram LM quality (operators/lm.py) ---


def test_unigram_lm_known_corpus(spark):
    """Hand-computable: 2 docs over a tiny vocab; cap keeps top-2 tokens."""
    import math

    from financedatabase_spark.operators.lm import unigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in unigram_lm_scores(docs, vocab_size=2, alpha=0.5).collect()
    }
    # counts: a=3, b=1, c=1 -> top-2 by (count desc, token asc) = {a:3, b:1}
    # n_kept=4, V=2, denom = 4 + 0.5*3 = 5.5
    lp = lambda c: math.log10((c + 0.5) / 5.5)  # noqa: E731
    exp1 = (2 * lp(3) + lp(1)) / 3
    exp2 = (lp(3) + lp(0)) / 2  # c is OOV
    assert out[1].n_tokens == 3 and out[1].oov_tokens == 0
    assert out[2].n_tokens == 2 and out[2].oov_tokens == 1
    assert abs(out[1].avg_logprob - round(exp1, 6)) < 1e-12
    assert abs(out[2].avg_logprob - round(exp2, 6)) < 1e-12


def test_unigram_lm_vocab_tiebreak_deterministic(spark):
    """Equal-count tokens at the cap boundary resolve by token ASC."""
    from financedatabase_spark.operators.lm import unigram_lm_scores

    docs = spark.createDataFrame([(1, "z y x w")], "doc_id long, text string")
    # all counts equal 1; vocab_size=2 keeps {w, x} (token asc)
    row = unigram_lm_scores(docs, vocab_size=2, alpha=0.5).collect()[0]
    assert row.oov_tokens == 2


def test_unigram_lm_empty_and_args(spark):
    import pytest

    from financedatabase_spark.operators.lm import unigram_lm_scores

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert unigram_lm_scores(empty).count() == 0
    # blank-only text yields no tokens -> doc drops out
    blank = spark.createDataFrame([(1, "   ")], "doc_id long, text string")
    assert unigram_lm_scores(blank).count() == 0
    with pytest.raises(ValueError, match="vocab_size"):
        unigram_lm_scores(empty, vocab_size=0)
    with pytest.raises(ValueError, match="alpha"):
        unigram_lm_scores(empty, alpha=0.0)


def test_unigram_lm_scoreplan_single_scan(spark, sf_dir):
    """The score plan joins a LocalRelation vocab: one corpus FileScan,
    no re-planned train subtree, no inferred tokenizer re-evaluation in
    the scan (DataFilters stays empty)."""
    from financedatabase_spark.operators.lm import unigram_lm_scores
    from financedatabase_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = (
        unigram_lm_scores(docs, vocab_size=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan parquet") == 1
    assert "LocalTableScan" in plan
    assert "DataFilters: []" in plan or "DataFilters" not in plan


def test_tfidf_keywords_hand_computed(spark):
    import math

    from financedatabase_spark.operators.lm import tfidf_keywords

    docs = spark.createDataFrame(
        [(1, "cat cat dog"), (2, "dog fish"), (3, "cat bird")],
        "doc_id long, text string",
    )
    out = tfidf_keywords(docs, k=2, min_df=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # df: cat=2, dog=2, fish=1(bird pruned too); N=3
    # doc1: cat tf=2 score=2*ln(1.5), dog tf=1 score=ln(1.5)
    assert [r.term for r in by_doc[1]] == ["cat", "dog"]
    assert abs(by_doc[1][0].score - round(2 * math.log(1.5), 6)) < 1e-12
    # doc2: fish pruned by min_df -> only dog remains
    assert [r.term for r in by_doc[2]] == ["dog"]
    # doc3: bird pruned -> only cat
    assert [r.term for r in by_doc[3]] == ["cat"]
    assert all(r.rank == i + 1 for rs in by_doc.values() for i, r in enumerate(rs))


def test_tfidf_keywords_tie_and_args(spark):
    import pytest

    from financedatabase_spark.operators.lm import tfidf_keywords

    # equal scores tie-break on term asc
    docs = spark.createDataFrame(
        [(1, "b a"), (2, "a b")], "doc_id long, text string"
    )
    rows = tfidf_keywords(docs, k=2, min_df=2).collect()
    d1 = sorted([r for r in rows if r.doc_id == 1], key=lambda r: r.rank)
    assert [r.term for r in d1] == ["a", "b"]
    with pytest.raises(ValueError, match="k must"):
        tfidf_keywords(docs, k=0)
    with pytest.raises(ValueError, match="min_df"):
        tfidf_keywords(docs, min_df=0)


def test_filter_blocked_domains_suffix_semantics(spark):
    from financedatabase_spark.operators.corrections import (
        domain_blocklist_dim,
        filter_blocked_domains,
        host_suffix_chain,
        registrable_host,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "https://spamfarm.example/x"),          # exact apex -> blocked
            (2, "http://cdn.spamfarm.example:8080/y"),  # subdomain + port -> blocked
            (3, "https://user:pw@ok.example.org/z"),    # userinfo stripped -> kept
            (4, "https://notspamfarm.example/q"),       # no dot boundary -> kept
            (5, "HTTPS://WWW.SPAMFARM.EXAMPLE?a=1"),    # case + query -> blocked
        ],
        "id int, url string",
    )
    bl = domain_blocklist_dim(spark, ["spamfarm.example"])
    kept = sorted(r.id for r in filter_blocked_domains(df, bl).collect())
    assert kept == [3, 4]
    chain = df.select(
        host_suffix_chain(registrable_host(F.col("url"))).alias("c")
    ).collect()[1].c
    assert chain == ["cdn.spamfarm.example", "spamfarm.example", "example"]


def test_exact_substring_dedup_planted_passages(spark):
    """Recall gate (Lee et al. ExactSubstr): a 12-token passage planted in
    two docs is removed from BOTH; unique filler survives; a doc repeating
    a k-gram WITHIN itself loses both occurrences; clean docs are
    identity (normalized)."""
    from financedatabase_spark.operators.dedup_docs import exact_substring_dedup

    passage = "zebra quark lattice onyx fjord glyph vortex nymph waltz jinx crypt sphinx"
    fill_a = "alpha one two three four five"
    fill_b = "beta six seven eight nine ten"
    rep = "r1 r2 r3 r4 r5 r6 r7 r8"  # one 8-gram, repeated within doc 3
    rows = [
        (1, f"{fill_a} {passage}"),
        (2, f"{passage} {fill_b}"),
        (3, f"{rep} x1 x2 {rep}"),
        (4, "lonely unique words that appear nowhere else at all ok"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in exact_substring_dedup(df, k=8).collect()}

    # planted passage gone from both hosts, filler intact
    assert out[1].cleaned_text == fill_a
    assert out[2].cleaned_text == fill_b
    assert out[1].n_removed_tokens == 12 and out[2].n_removed_tokens == 12
    # within-doc repetition counts toward min_count; both copies removed
    assert out[3].cleaned_text == "x1 x2"
    assert out[3].n_removed_tokens == 16
    # untouched docs come back identity (normalized form), zero removed
    assert out[4].cleaned_text == rows[3][1]
    assert out[4].n_removed_tokens == 0 and out[4].n_removed_chars == 0
    assert out[5].cleaned_text == "" and out[5].n_removed_tokens == 0


def test_exact_substring_dedup_xxhash_matches_md5(spark):
    from financedatabase_spark.operators.dedup_docs import exact_substring_dedup

    texts = [
        (i, f"shared run t1 t2 t3 t4 t5 t6 t7 t8 t9 tail{i} u{i} v{i}")
        for i in range(6)
    ] + [(99, "nothing in common with anything here at all whatsoever")]
    df = spark.createDataFrame(texts, "doc_id int, text string")
    a = exact_substring_dedup(df, k=8, hash_mode="md5").orderBy("doc_id").collect()
    b = exact_substring_dedup(df, k=8, hash_mode="xxhash64").orderBy("doc_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_gopher_quality_rules_flip_independently(spark):
    """Each Gopher rule flags exactly the doc crafted to violate it."""
    import math

    from financedatabase_spark.operators.text import gopher_quality

    good = "the quick brown words flow and keep that nice rhythm with " * 6  # 60 words, stopwords
    docs = [
        (1, good),
        (2, "too few words that have the with"),            # n_words < 50
        (3, ("a be " * 30).strip()),                        # mean word len < 3
        (4, ("###word the of and that have with be to " + "ordinary " * 45)),  # symbols fine? craft below
        (5, (("12345 " * 20) + "the of and that have be with " + "word " * 30)),  # alpha ratio low
        (6, "zebra quantum flux " * 20),                    # no stopwords
    ]
    # doc 4: make symbol ratio > 0.1 — 54ish words, need > 5.4 symbol hits
    docs[3] = (4, ("# # # # # # # # # # the of and that have with be to " + "word " * 45))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    r = {x.doc_id: x for x in gopher_quality(df).collect()}

    assert r[1]["pass"]
    assert not r[2].ok_n_words and not r[2]["pass"]
    assert not r[3].ok_word_len and r[3].mean_word_len < 3
    assert not r[4].ok_symbols and r[4].symbol_ratio > 0.1
    assert not r[5].ok_alpha and r[5].alpha_word_ratio < 0.8
    assert not r[6].ok_stopwords and r[6].stopword_hits == 0
    # distinct stopword counting: repeating one stopword counts once
    one = spark.createDataFrame([(7, "the the the the the " + "w " * 50)], "doc_id int, text string")
    assert gopher_quality(one).collect()[0].stopword_hits == 1
    assert math.isclose(sum(len(w) for w in good.split()) / len(good.split()),
                        r[1].mean_word_len)


def test_bigram_lm_scores_hand_computed_and_order_sensitivity(spark):
    """Exact add-alpha arithmetic on a 2-doc corpus, and the property
    that motivates bigrams: scrambling word order drops the score while
    the unigram model can't tell the difference."""
    import math

    from financedatabase_spark.operators.lm import bigram_lm_scores, unigram_lm_scores

    natural = "a b a b a b a b"
    scrambled = "a a b b b a a b"
    df = spark.createDataFrame(
        [(1, natural), (2, scrambled)], "doc_id int, text string"
    )
    out = {r.doc_id: r for r in bigram_lm_scores(df, alpha=0.5).collect()}
    # corpus bigrams: doc1: ab x4, ba x3; doc2: aa x2, ab x1, bb x2, ba x1, ab... recompute
    # doc2 pairs: (a,a)(a,b)(b,b)(b,b)? enumerate precisely below
    pairs1 = list(zip(natural.split(), natural.split()[1:]))
    pairs2 = list(zip(scrambled.split(), scrambled.split()[1:]))
    from collections import Counter

    c12 = Counter(pairs1 + pairs2)
    c1 = Counter(p[0] for p in pairs1 + pairs2)
    v = len(c1)
    def score(pairs):
        lps = [
            math.log10((c12[p] + 0.5) / (c1[p[0]] + 0.5 * (v + 1)))
            for p in pairs
        ]
        return round(sum(lps) / len(lps), 6)

    assert out[1].n_bigrams == 7 and out[1].oov_bigrams == 0
    assert out[1].avg_logprob == pytest.approx(score(pairs1), abs=1e-9)
    assert out[2].avg_logprob == pytest.approx(score(pairs2), abs=1e-9)
    # order sensitivity: natural doc scores strictly higher
    assert out[1].avg_logprob > out[2].avg_logprob
    uni = {r.doc_id: r for r in unigram_lm_scores(df).collect()}
    assert uni[1].avg_logprob == uni[2].avg_logprob  # unigram is blind to order

    # single-token doc contributes no bigrams and emits no row
    tiny = spark.createDataFrame([(1, "solo"), (2, "a pair")], "doc_id int, text string")
    rows = bigram_lm_scores(tiny).collect()
    assert [r.doc_id for r in rows] == [2]

    # vocab cap: oov bigrams take the c=0 floor but still score
    capped = bigram_lm_scores(df, vocab_size=1).collect()
    assert all(r.oov_bigrams > 0 for r in capped)

    with pytest.raises(ValueError):
        bigram_lm_scores(df, vocab_size=0)
    with pytest.raises(ValueError):
        bigram_lm_scores(df, alpha=0.0)


def test_dsir_importance_weights_direction(spark):
    """Docs made of target-distinctive bigrams must weigh above docs of
    off-target bigrams: the log likelihood ratio is positive for the
    former, negative for the latter, and near zero for shared content."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators.sampling import dsir_importance_weights

    target_text = "alpha beta alpha beta alpha beta alpha beta"
    raw_text = "gamma delta gamma delta gamma delta gamma delta"
    rows = [(i, target_text, "en") for i in range(5)] + [
        (i + 10, raw_text, "de") for i in range(5)
    ] + [(99, "alpha beta gamma delta", "de")]
    df = spark.createDataFrame(rows, "doc_id int, text string, lang string")
    out = {
        r.doc_id: r
        for r in dsir_importance_weights(df, F.col("lang") == "en").collect()
    }
    assert out[0].log_weight > 0          # pure target content
    assert out[10].log_weight < 0         # pure off-target content
    assert out[0].log_weight > out[99].log_weight > out[10].log_weight
    assert out[0].n_feats == 7

    with pytest.raises(ValueError):
        dsir_importance_weights(df, F.col("lang") == "en", n_buckets=0)


def test_semdedup_keeper_semantics(spark):
    """SemDeDup on a crafted corpus: two tight dup groups + singletons.
    Every group keeps EXACTLY one member — the one farthest from its
    centroid (paper's diversity-preserving choice) — and singletons all
    keep themselves."""
    from financedatabase_spark.operators.similarity import cell_centroids, semdedup

    # cluster A around (1,0,...): ids 1,2 identical, 3 slightly off (the
    # outlier -> keeper); cluster B around (0,1,...): 10,11 dups, 12 far
    def vec(*xs):
        v = list(xs) + [0.0] * (8 - len(xs))
        return v

    rows = [
        (1, 0, vec(1.0, 0.02)),
        (2, 0, vec(1.0, 0.02)),
        (3, 0, vec(1.0, 0.30)),
        (10, 1, vec(0.02, 1.0)),
        (11, 1, vec(0.02, 1.0)),
        (12, 1, vec(-1.0, 1.0)),  # same cluster-ish but dissimilar to 10/11
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    cen = cell_centroids(df)
    out = {r.vec_id: r for r in semdedup(df, cen, tau=0.95).collect()}

    assert len(out) == 6  # every vector gets a verdict
    g1 = {i for i in (1, 2, 3) if out[i].group_rep == out[1].group_rep}
    assert g1 == {1, 2, 3}  # 1~2 identical, 3 within tau of both
    kept1 = [i for i in g1 if out[i].keep]
    # keeper = lowest cosine-to-centroid = the off-axis outlier 3
    assert kept1 == [3]
    assert out[10].group_rep == out[11].group_rep
    kept2 = [i for i in (10, 11) if out[i].keep]
    assert len(kept2) == 1
    assert out[12].keep and out[12].group_rep == 12  # singleton
    # identical vectors tie on csim -> id tiebreak keeps the smaller
    assert sorted(i for i in out if out[i].keep) == [3, 10, 12]


def test_cell_centroids_wide_agg_matches_explode(spark):
    """r15: `cell_centroids(dim=k)` (wide per-position long-sum
    aggregates, one map-side-combined shuffle) must be BIT-identical to
    the default posexplode path on a fixed-width corpus — integer-unit
    sums are associative and the double division keeps the same operand
    order."""
    from financedatabase_spark.operators.similarity import cell_centroids

    rows = [
        (i, i % 3, [((i * 7 + j) % 11) / 7.0 + (0.1 if j % 2 else -0.3) for j in range(6)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    a = {r["cell"]: list(r["cvec"]) for r in cell_centroids(df).collect()}
    b = {r["cell"]: list(r["cvec"]) for r in cell_centroids(df, dim=6).collect()}
    assert a.keys() == b.keys()
    for c in a:
        assert a[c] == b[c], f"cell {c}: {a[c]} != {b[c]}"  # exact doubles


def test_semdedup_literal_pack_matches_broadcast(spark):
    """The literal centroid array renders int-typed and double-typed
    cells alike: both packs give the same verdicts (double-typed cells
    once took a broadcast-packed crossJoin instead)."""
    from financedatabase_spark.operators.similarity import cell_centroids, semdedup

    def vec(*xs):
        return list(xs) + [0.0] * (8 - len(xs))

    rows = [
        (1, 0, vec(1.0, 0.02)),
        (2, 0, vec(1.0, 0.02)),
        (3, 0, vec(1.0, 0.30)),
        (10, 1, vec(0.02, 1.0)),
        (11, 1, vec(0.02, 1.0)),
        (12, 1, vec(-1.0, 1.0)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    cen = cell_centroids(df)
    lit = {
        tuple(r)
        for r in semdedup(df, cen, tau=0.95)
        .select("vec_id", "cluster", "cosine_to_centroid", "group_rep", "keep")
        .collect()
    }
    df_s = df.withColumn("label", F.col("label").cast("double"))
    cen_s = cell_centroids(df_s)
    fb = {
        (r["vec_id"], int(r["cluster"]), r["cosine_to_centroid"], r["group_rep"], r["keep"])
        for r in semdedup(df_s, cen_s, tau=0.95)
        .select("vec_id", "cluster", "cosine_to_centroid", "group_rep", "keep")
        .collect()
    }
    assert lit == fb


def test_ivf_pq_literal_pack_matches_broadcast(spark):
    """ivf_pq_topk over int-keyed and double-keyed centroid/codebook
    frames: two literal packs, one result (double keys once took a
    broadcast-packed crossJoin path)."""
    from financedatabase_spark.operators.similarity import ivf_pq_topk

    import random

    rnd = random.Random(7)
    rows = [
        (i, i % 4, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    from financedatabase_spark.operators.similarity import cell_centroids

    cen = cell_centroids(df)
    q = df.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = df.select(F.col("vec_id").alias("corpus_id"), "label", "embedding")
    lit = {
        tuple(r)
        for r in ivf_pq_topk(q, c, cen, m=4, dim=8, k=3, n_probe=2).collect()
    }
    df_s = df.withColumn("label", F.col("label").cast("double"))
    cen_s = cell_centroids(df_s)
    c_s = df_s.select(F.col("vec_id").alias("corpus_id"), "label", "embedding")
    fb = {
        (r["query_id"], r["corpus_id"], r["approx_dist"], r["rank"])
        for r in ivf_pq_topk(q, c_s, cen_s, m=4, dim=8, k=3, n_probe=2).collect()
    }
    assert lit == fb


def _packed_frame_fixture(spark):
    """Two clusters of 8-d vectors (vec_id, label int, embedding)."""
    import random

    rnd = random.Random(17)
    rows = [
        (i, i % 2, [rnd.uniform(-1, 1) + 2 * (i % 2) for _ in range(8)])
        for i in range(40)
    ]
    # three near-copies in each cluster, so semdedup has groups to prune
    rows += [(100 + i, i % 2, [x + 1e-4 for x in rows[i][2]]) for i in range(6)]
    return spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")


def _broadcast_nodes(plan: str) -> tuple[int, int, int]:
    return (
        plan.count("BroadcastExchange"),
        plan.count("CartesianProduct"),
        plan.count("BroadcastNestedLoopJoin"),
    )


@pytest.mark.parametrize(
    "sql_type, keys",
    [
        ("double", {0: 0.5, 1: 1.5}),
        ("string", {0: "cell'0", 1: "cell'1"}),
        ("date", {0: "2024-01-01", 1: "2024-01-02"}),
        ("decimal(10,2)", {0: "0.50", 1: "1.50"}),
        ("boolean", {0: False, 1: True}),
    ],
)
def test_literal_pack_key_types_match_int_keys(spark, monkeypatch, sql_type, keys):
    """Every key dtype with an exact literal renders into the one literal
    pack: ivf_pq_topk, semdedup, ivf_multiprobe_topk and kmeans_refine
    over typed cell keys equal the int-keyed results, and no plan gains
    a broadcast, cartesian or nested-loop node for the packed
    centroid/codebook frame (the semdedup assignment is read off the
    plan its barrier checkpoints)."""
    import financedatabase_spark.session as session
    from financedatabase_spark.operators.similarity import (
        cell_centroids,
        ivf_multiprobe_topk,
        ivf_pq_topk,
        kmeans_refine,
        semdedup,
    )

    barrier_plans = []
    real_barrier = session.barrier

    def spy(df, *a, **kw):
        barrier_plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real_barrier(df, *a, **kw)

    monkeypatch.setattr(session, "barrier", spy)

    df = _packed_frame_fixture(spark)
    key = F.create_map(*[x for k, v in keys.items() for x in (F.lit(k), F.lit(v))])
    df_t = df.withColumn("label", key[F.col("label")].cast(sql_type))
    back = {str(v): k for k, v in keys.items()}  # str of the collected key

    def run(frame):
        cen = cell_centroids(frame)
        q = frame.filter(F.col("vec_id") % 10 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        c = frame.select(F.col("vec_id").alias("corpus_id"), "label", "embedding")
        topk = ivf_pq_topk(q, c, cen, m=4, dim=8, k=3, n_probe=1)
        pq = {tuple(r) for r in topk.collect()}
        pq_plan = topk._jdf.queryExecution().executedPlan().toString()
        sd = semdedup(frame, cen, tau=0.99)
        dd = {
            (r["vec_id"], str(r["cluster"]), r["cosine_to_centroid"], r["group_rep"], r["keep"])
            for r in sd.collect()
        }
        sd_plan = barrier_plans[-1] + sd._jdf.queryExecution().executedPlan().toString()
        mp = ivf_multiprobe_topk(q, c, cen, k=3, n_probe=1)
        mp_rows = {tuple(r) for r in mp.collect()}
        km = kmeans_refine(frame, iters=2)
        km_rows = {(r["vec_id"], str(r["assigned_label"]), r["sim"]) for r in km.collect()}
        plans = [
            pq_plan,
            sd_plan,
            mp._jdf.queryExecution().executedPlan().toString(),
            km._jdf.queryExecution().executedPlan().toString(),
        ]
        return pq, dd, mp_rows, km_rows, plans

    pq_i, sd_i, mp_i, km_i, plans_i = run(df)
    pq_t, sd_t, mp_t, km_t, plans_t = run(df_t)
    assert pq_t == pq_i and len(pq_i) == 15
    assert {(i, str(back[c]), s, g, k) for i, c, s, g, k in sd_t} == sd_i
    assert not all(k for *_, k in sd_i)  # some near-copy was pruned
    assert mp_t == mp_i and len(mp_i) == 15
    assert {(i, str(back[c]), s) for i, c, s in km_t} == km_i and len(km_i) == 46
    for typed, plain in zip(plans_t, plans_i):
        assert _broadcast_nodes(typed) == _broadcast_nodes(plain)
        assert _broadcast_nodes(typed)[1:] == (0, 0)


def test_literal_pack_rejects_key_type_without_literal(spark):
    """A key dtype with no exact SQL literal fails at build time with a
    TypeError that names it, never silently."""
    from financedatabase_spark.operators.similarity import ivf_pq_topk, semdedup

    df = _packed_frame_fixture(spark)
    cen = spark.createDataFrame(
        [(b"\x00", [0.0] * 8)], "cell binary, cvec array<double>"
    )
    q = df.select(F.col("vec_id").alias("query_id"), "embedding")
    c = df.select(F.col("vec_id").alias("corpus_id"), "label", "embedding")
    with pytest.raises(TypeError, match="'binary'"):
        ivf_pq_topk(q, c, cen, m=4, dim=8)
    with pytest.raises(TypeError, match="'binary'"):
        semdedup(df, cen.limit(0))


def test_literal_pack_empty_frames(spark):
    """Empty centroid / codebook frames render as typed empty literals:
    no probe cell (an empty top-k), no cluster (every vector keeps
    itself), NULL codes, and residuals fail loudly for every row."""
    from financedatabase_spark.operators.similarity import (
        ivf_pq_topk,
        pq_encode,
        residual_vectors,
        semdedup,
    )

    df = _packed_frame_fixture(spark)
    cen = spark.createDataFrame([], "cell int, cvec array<double>")
    cbs = spark.createDataFrame([], "sub int, cid bigint, cvec_sub array<double>")
    q = df.select(F.col("vec_id").alias("query_id"), "embedding")
    c = df.select(F.col("vec_id").alias("corpus_id"), "label", "embedding")
    assert ivf_pq_topk(q, c, cen, m=4, dim=8).collect() == []
    assert ivf_pq_topk(q, c, cen, m=4, dim=8, codebooks=cbs).collect() == []
    out = semdedup(df, cen).collect()
    assert len(out) == df.count()
    assert all(
        r["cluster"] is None and r["cosine_to_centroid"] is None
        and r["group_rep"] == r["vec_id"] and r["keep"]
        for r in out
    )
    codes = pq_encode(df, cbs, 4, 8).collect()
    assert len(codes) == df.count()
    assert all(list(r["codes"]) == [None] * 4 for r in codes)
    with pytest.raises(Exception, match="no centroid for cell"):
        residual_vectors(df, cen).collect()


def test_null_element_centroid_ranks_last(spark):
    """A centroid with a NULL element scores a NULL similarity against
    every vector; every nearest-centroid assignment ranks it LAST, as the
    oracle's ORDER BY sim DESC does, so no probe or assignment picks it
    while a non-NULL centroid exists. (Array sorts order a struct's NULL
    field first: without the NULL-last key, ivf_pq_topk probed and
    semdedup assigned every row to the NULL cell.)"""
    from financedatabase_spark.operators.similarity import (
        cell_centroids,
        ivf_multiprobe_topk,
        ivf_pq_topk,
        kmeans_refine,
        semdedup,
    )

    base = _packed_frame_fixture(spark)
    odd = spark.createDataFrame(
        [(999, 2, [None] + [1.0] * 7)], "vec_id long, label int, embedding array<double>"
    )
    df = base.unionByName(odd)  # label 2's centroid is [NULL, 1.0, ...]
    cen = cell_centroids(df)
    assert [r["cvec"][0] for r in cen.filter("cell = 2").collect()] == [None]
    label = {r["vec_id"]: r["label"] for r in df.collect()}
    q = base.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = df.select(F.col("vec_id").alias("corpus_id"), "label", "embedding")

    for found in (
        ivf_pq_topk(q, c, cen, m=4, dim=8, k=3, n_probe=1).collect(),
        ivf_multiprobe_topk(q, c, cen, k=3, n_probe=1).collect(),
    ):
        assert len(found) == 15  # 5 queries x k=3 from a populated cell
        assert all(label[r["corpus_id"]] != 2 for r in found)
    sd = semdedup(df, cen, tau=0.99).collect()
    assert len(sd) == 47 and all(r["cluster"] != 2 for r in sd)
    assert all(r["cosine_to_centroid"] is not None for r in sd if r["vec_id"] != 999)
    km = kmeans_refine(df, iters=2).collect()
    assert len(km) == 47 and all(r["assigned_label"] != 2 for r in km)


@pytest.mark.parametrize(
    "name, budget", [("ivf_pq_topk", 1), ("ivf_pq_residual_rerank_topk", 1)]
)
def test_ivf_pq_build_job_budget(spark, sf_dir, name, budget):
    """A warm build of the IVF-PQ queries collects each tiny centroid /
    codebook frame once and runs no other job. Both share the
    session-memoized centroid frame, which keeps its collected rows, and
    `pq_codebooks` slices those rows into a VALUES frame, so an
    ivf_pq_topk rebuild runs no job. The residual rerank query collects
    only its anchor-residual codebook frame (one job)."""
    from financedatabase_spark.plans.registry import QUERIES

    sc = spark.sparkContext
    QUERIES[name](spark, sf_dir)
    group = f"build-budget-{name}"
    sc.setJobGroup(group, "build")
    try:
        QUERIES[name](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= budget


def test_scd2_build_hand_computed(spark):
    """SCD2 semantics on a crafted change log: runs collapse, intervals
    chain (valid_to = next valid_from), versions count runs, exactly one
    current row per key, and a revisit of an earlier state opens a NEW
    version instead of merging."""
    import datetime as dt

    from financedatabase_spark.operators.alias import scd2_build

    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    rows = [
        # user 1: A A B A  -> three runs (A, B, A again)
        (1, t("2024-01-01 10:00"), 1, "A"),
        (1, t("2024-01-01 11:00"), 2, "A"),
        (1, t("2024-01-02 09:00"), 3, "B"),
        (1, t("2024-01-03 09:00"), 4, "A"),
        # user 2: single state
        (2, t("2024-01-01 00:00"), 5, "X"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_id int, state string")
    out = scd2_build(df, ["user_id"], "ts", ["state"], order_cols=["event_id"]).collect()
    u1 = sorted([r for r in out if r.user_id == 1], key=lambda r: r.version)
    assert [(r.state, r.version, r.is_current) for r in u1] == [
        ("A", 1, False), ("B", 2, False), ("A", 3, True)
    ]
    assert u1[0].valid_from == t("2024-01-01 10:00")       # run start, not last row
    assert u1[0].valid_to == u1[1].valid_from == t("2024-01-02 09:00")
    assert u1[1].valid_to == u1[2].valid_from
    assert u1[2].valid_to is None
    (u2,) = [r for r in out if r.user_id == 2]
    assert (u2.version, u2.is_current, u2.valid_to) == (1, True, None)

    # same-timestamp flip: event order (order_cols) decides run order and
    # the version tie-break keeps the interval chain deterministic
    rows2 = [
        (3, t("2024-01-01 10:00"), 1, "A"),
        (3, t("2024-01-01 10:00"), 2, "B"),
    ]
    df2 = spark.createDataFrame(rows2, "user_id int, ts timestamp, event_id int, state string")
    o2 = sorted(
        scd2_build(df2, ["user_id"], "ts", ["state"], order_cols=["event_id"]).collect(),
        key=lambda r: r.version,
    )
    assert [(r.state, r.is_current) for r in o2] == [("A", False), ("B", True)]


def test_cms_sketch_properties(spark):
    """Count-min invariants on a crafted stream: estimates are NEVER
    below exact counts (one-sided error), unseen tokens estimate 0 only
    when all their buckets are empty, and a forced collision inflates
    but never deflates."""
    from financedatabase_spark.operators.sketch import cms_build, cms_estimate, token_counts
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "a a a a b b c"), (2, "a b d d d"), (3, "e")],
        "doc_id int, text string",
    )
    counts = token_counts(docs)
    exact = {r.token: r.c for r in counts.collect()}
    assert exact == {"a": 5, "b": 3, "c": 1, "d": 3, "e": 1}

    # tiny width forces collisions; estimates stay one-sided
    sketch = cms_build(counts, depth=4, width=4)
    est = {
        r.token: r.cms_est
        for r in cms_estimate(sketch, counts.select("token"), depth=4, width=4).collect()
    }
    assert all(est[t] >= c for t, c in exact.items()), (est, exact)
    # total mass per row is conserved: sum of counters in each row = N
    n = sum(exact.values())
    rows = sketch.groupBy("row").agg(F.sum("counter").alias("s")).collect()
    assert all(r.s == n for r in rows)

    # ample width: no collisions among 5 tokens -> estimates exact
    sketch_w = cms_build(counts, depth=4, width=4096)
    est_w = {
        r.token: r.cms_est
        for r in cms_estimate(sketch_w, counts.select("token"), depth=4, width=4096).collect()
    }
    assert est_w == exact

    # a token never inserted estimates 0 against the wide sketch
    ghost = spark.createDataFrame([("zzz-never-seen",)], "token string")
    (g,) = cms_estimate(sketch_w, ghost, depth=4, width=4096).collect()
    assert g.cms_est == 0


def test_hll_registers_merge_and_accuracy(spark):
    """HLL invariants: registers merge by MAX (sketch(A∪B) ==
    max-merge(sketch(A), sketch(B))), duplicates don't move the
    estimate, and the raw estimate lands within the theoretical
    ~1.04/sqrt(64) (13%) band on a 500-distinct stream."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators.sketch import hll_estimate, hll_registers

    a = spark.range(0, 300).select(F.lit("k").alias("g"), F.concat(F.lit("tok"), "id").alias("t"))
    b = spark.range(200, 500).select(F.lit("k").alias("g"), F.concat(F.lit("tok"), "id").alias("t"))
    union = a.unionByName(b)

    ru = hll_registers(union, ["g"], "t")
    ra, rb = hll_registers(a, ["g"], "t"), hll_registers(b, ["g"], "t")
    merged = (
        ra.unionByName(rb).groupBy("g", "bucket").agg(F.max("r").alias("r"))
    )
    assert sorted(map(tuple, ru.collect())) == sorted(map(tuple, merged.collect()))

    (est,) = hll_estimate(ru, ["g"]).collect()
    assert abs(est.hll_est - 500) / 500 < 0.30  # raw estimate, 64 buckets

    # duplicates are invisible to the sketch
    dup = union.unionByName(union)
    (est_dup,) = hll_estimate(hll_registers(dup, ["g"], "t"), ["g"]).collect()
    assert est_dup.hll_est == est.hll_est


def test_bloom_filter_no_false_negatives_and_merge(spark):
    """Bloom invariants: every inserted key probes 'maybe' (no false
    negatives — the property that makes it a safe pre-filter), bitmaps
    from disjoint shards merge by bit_or into exactly the union's
    bitmap, and a tiny m forces auditable false positives."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators.sketch import bloom_build, bloom_might_contain

    keys = spark.range(0, 200).select(F.concat(F.lit("key"), "id").alias("h"))
    bloom = bloom_build(keys, "h")
    probed = {r.h: r.might_contain for r in bloom_might_contain(keys, bloom, "h").collect()}
    assert all(probed.values())  # no false negatives, ever

    # shard merge: bit_or of two half-bitmaps == bitmap of the union
    a = bloom_build(keys.filter(F.expr("substring(h, 4) < '100'")), "h")
    b = bloom_build(keys.filter(F.expr("substring(h, 4) >= '100'")), "h")
    merged = (
        a.unionByName(b).groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, bloom.collect()))

    # tiny bitmap: false positives appear but stay one-sided
    small = bloom_build(keys, "h", m=64)
    ghosts = spark.range(1000, 1100).select(F.concat(F.lit("ghost"), "id").alias("h"))
    gp = bloom_might_contain(ghosts, small, "h", m=64).collect()
    assert any(r.might_contain for r in gp)  # 200 keys saturate 64 bits
    ins = bloom_might_contain(keys, small, "h", m=64).collect()
    assert all(r.might_contain for r in ins)  # still no false negatives


def test_scd2_null_attribute_transitions(spark):
    """A transition to or from NULL is a run boundary (IS DISTINCT FROM
    semantics, matching the oracle) — the naive null-equality form
    silently continued the run and collapsed A, NULL, A into one
    interval with duplicate version numbers."""
    import datetime as dt

    from financedatabase_spark.operators.alias import scd2_build

    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    rows = [
        (1, t("2024-01-01 10:00"), 1, "A"),
        (1, t("2024-01-02 10:00"), 2, None),
        (1, t("2024-01-03 10:00"), 3, "A"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_id int, state string")
    out = sorted(
        scd2_build(df, ["user_id"], "ts", ["state"], order_cols=["event_id"]).collect(),
        key=lambda r: r.version,
    )
    assert [(r.state, r.version) for r in out] == [("A", 1), (None, 2), ("A", 3)]
    assert out[0].valid_to == out[1].valid_from
    assert out[1].valid_to == out[2].valid_from
    assert out[2].is_current and out[2].valid_to is None


def test_bloom_probe_preserves_row_multiplicity(spark):
    """bloom_might_contain APPENDS a column: duplicate probe rows stay
    duplicated (the old explode+regroup silently deduped the frame)."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators.sketch import bloom_build, bloom_might_contain

    keys = spark.createDataFrame([("a",), ("b",)], "h string")
    bloom = bloom_build(keys, "h")
    probes = spark.createDataFrame(
        [("a", 1), ("a", 1), ("zz", 2)], "h string, payload int"
    )
    out = bloom_might_contain(probes, bloom, "h").collect()
    assert len(out) == 3  # both identical rows survive
    assert sorted((r.h, r.payload, r.might_contain) for r in out)[:2] == [
        ("a", 1, True), ("a", 1, True),
    ]
    assert [r.might_contain for r in out if r.h == "zz"] in ([True], [False])  # sketch says maybe/no
    # appended, not re-derived: original columns intact in order
    assert out[0].__fields__ == ["h", "payload", "might_contain"]


def test_pmi_collocations_hand_computed(spark):
    """PMI arithmetic on a crafted corpus: a fused pair ('new york'
    always adjacent) scores far above an incidental pair, and the
    min_count floor drops rare pairs entirely."""
    import math

    from financedatabase_spark.operators.lm import pmi_collocations

    docs = [(i, "new york " * 5 + "the cat sat on the mat") for i in range(3)]
    docs.append((99, "rare pair"))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = {(r.w1, r.w2): r for r in pmi_collocations(df, min_count=3, k=10).collect()}
    assert ("rare", "pair") not in out  # below min_count
    ny = out[("new", "york")]
    # exact expectation: counts over the whole corpus
    toks = [t for _, x in docs for t in x.split()]
    bis = [p for _, x in docs for p in zip(x.split(), x.split()[1:])]
    c12 = bis.count(("new", "york"))
    want = round(
        math.log10(
            (c12 / len(bis))
            / ((toks.count("new") / len(toks)) * (toks.count("york") / len(toks)))
        ),
        6,
    )
    assert ny.c12 == c12 and ny.pmi == pytest.approx(want, abs=1e-9)
    # output is the deterministic top-k order: (pmi DESC, w1, w2)
    rows = pmi_collocations(df, min_count=3, k=10).collect()
    assert [(r.w1, r.w2) for r in rows] == [
        (r.w1, r.w2)
        for r in sorted(rows, key=lambda r: (-r.pmi, r.w1, r.w2))
    ]
    # 'york new' (the wrap-around within the repeated phrase) co-occurs
    # less often per unigram mass than 'new york' -> strictly lower PMI
    assert ("york", "new") in out and out[("york", "new")].pmi < ny.pmi


def test_semdedup_mega_cluster_guard(spark):
    """An adversarial/degenerate assignment that routes everything into
    one cluster must fail LOUDLY before the per-cluster self-join goes
    quadratic — ValueError naming the cluster and the remedy — while the
    same corpus passes when the cap accommodates it."""
    import pytest as _pytest

    from financedatabase_spark.operators.similarity import cell_centroids, semdedup

    rows = [
        (i, 0, [1.0 - i * 1e-4] + [float(i % 7) * 0.1] + [0.0] * 6)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    cen = cell_centroids(df)  # single centroid -> every vector lands in it
    with _pytest.raises(ValueError, match="max_cluster_size"):
        semdedup(df, cen, tau=0.99, max_cluster_size=10)
    out = semdedup(df, cen, tau=0.99, max_cluster_size=40).collect()
    assert len(out) == 40  # same data passes under an adequate cap


def test_residual_vectors_missing_centroid_raises(spark):
    """A row whose cell is absent from the centroid frame is a
    centroid/assignment mismatch: residual_vectors must fail loudly
    (raise_error on the literal map lookup), never silently drop the
    row the way an inner join would shrink the residual-mode corpus."""
    from py4j.protocol import Py4JJavaError

    from financedatabase_spark.operators.similarity import residual_vectors

    df = spark.createDataFrame(
        [(0, 0, [1.0, 2.0]), (1, 9, [3.0, 4.0])],
        "vec_id long, label int, embedding array<double>",
    )
    cen = spark.createDataFrame([(0, [0.5, 0.5])], "cell int, cvec array<double>")
    with pytest.raises(Exception, match="no centroid for cell 9"):
        residual_vectors(df, cen).collect()
    # full coverage: exact residual, no rows lost
    ok = residual_vectors(df.filter(F.col("label") == 0), cen).collect()
    assert len(ok) == 1 and ok[0].embedding == [0.5, 1.5]


def test_ivf_pq_residuals_require_codebooks(spark):
    """residuals=True with the default raw-centroid-slice codebooks is a
    quantization-space mismatch — guard rejects it up front."""
    from financedatabase_spark.operators.similarity import ivf_pq_topk

    df = spark.createDataFrame(
        [(0, 0, [1.0, 2.0])], "vec_id long, label int, embedding array<double>"
    )
    cen = spark.createDataFrame([(0, [0.5, 0.5])], "cell int, cvec array<double>")
    with pytest.raises(ValueError, match="residual"):
        ivf_pq_topk(
            df.selectExpr("vec_id as query_id", "label", "embedding"),
            df.selectExpr("vec_id as corpus_id", "label", "embedding"),
            cen, m=1, dim=2, residuals=True,
        )


def test_literal_fold_matches_broadcast_join(spark, monkeypatch):
    """The literal-fold fast path (tiny VALUES dims compiled to
    CASE/filter expressions — no BroadcastExchange job) must produce
    row-identical results to the broadcast-join path it replaces,
    including the anti-join's null semantics: a NULL symbol/date never
    matches a quarantine entry, so the row is KEPT by both paths."""
    import financedatabase_spark.operators.alias as alias_mod
    from financedatabase_spark.operators.alias import alias_dim, canonicalize_symbols
    from financedatabase_spark.operators.corrections import (
        apply_corrections,
        quarantine_dim,
    )

    df = spark.createDataFrame(
        [
            ("view", "2024-01-10", 1.0),
            ("view", "2024-01-20", 2.0),   # after change date: stays view
            ("click", "2024-01-22", 3.0),  # quarantined
            ("click", "2024-01-23", 4.0),
            (None, "2024-01-22", 5.0),     # NULL symbol: kept, label kept
            ("view", None, 6.0),           # NULL ts
        ],
        "symbol string, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    aliases = alias_dim(spark, [("click", "view", "2024-01-15")])
    quarantine = quarantine_dim(spark, [("q", "click", "2024-01-22")])

    def run():
        canon = canonicalize_symbols(df, aliases, "symbol", "ts")
        fixed = apply_corrections(canon, quarantine, "q", symbol_col="symbol")
        return sorted(
            fixed.select("symbol", "value").collect(),
            key=lambda r: r.value,
        )

    folded = run()
    plan = canonicalize_symbols(df, aliases)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan  # the fold actually engaged

    monkeypatch.setattr(alias_mod, "LITERAL_FOLD_MAX", -1)
    joined = run()
    assert [tuple(r) for r in folded] == [tuple(r) for r in joined]
    # spot-check the semantics themselves, not just path agreement
    assert [(r.symbol, r.value) for r in folded] == [
        ("click", 1.0),  # relabeled (before change date)
        ("view", 2.0),   # not relabeled (after)
        # value 3.0 quarantined away
        ("click", 4.0),
        (None, 5.0),     # NULL symbol kept by anti-join semantics
        ("view", 6.0),   # NULL ts kept
    ]


def test_fill_bucket_gaps_single_pass_matches_grid_join(spark):
    """r15: the lag-window gap fill must reproduce the old grid-scaffold +
    left-join formulation exactly — multiple keys, a NULL key group, an
    ffill column, and interior gaps — while planning no join at all."""
    import datetime as dt

    from pyspark.sql import Window
    from financedatabase_spark.operators.resample import resample

    B = dt.datetime(2024, 3, 4, 10, 0)
    rows = [
        # key "a": buckets 10:00, 10:15 with a 5-minute grid -> 2 interior gaps
        (1, "a", B, 10.0, 7.5),
        (2, "a", B + dt.timedelta(minutes=15), 11.0, 8.5),
        # key "b": single bucket (first-bar path, no gap)
        (3, "b", B + dt.timedelta(minutes=5), 20.0, 9.5),
        # NULL key: its own group, one gap
        (4, None, B, 30.0, 1.5),
        (5, None, B + dt.timedelta(minutes=10), 31.0, 2.5),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, sym string, ts timestamp, close double, mark double"
    )
    out = resample(
        df, "5m", ts_col="ts", key_cols=["sym"], order_cols=["event_id"],
        fill_gaps=True, origin_minutes=None,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # the scaffold join is gone

    # old formulation, inlined: sequence(min, max) grid left-joined back
    bars = resample(
        df, "5m", ts_col="ts", key_cols=["sym"], order_cols=["event_id"],
        fill_gaps=False, origin_minutes=None,
    )
    grid = (
        bars.groupBy("sym")
        .agg(F.min("ts").alias("_lo"), F.max("ts").alias("_hi"))
        .select(
            "sym",
            F.explode(
                F.sequence(F.col("_lo"), F.col("_hi"), F.expr("INTERVAL 300 SECONDS"))
            ).alias("ts"),
        )
    )
    joined = grid.join(bars, ["sym", "ts"], "left")
    w = (
        Window.partitionBy("sym").orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ref = joined.select(
        "sym", "ts",
        F.col("close"),
        F.last("mark", ignorenulls=True).over(w).alias("mark"),
    ).na.fill(0.0, subset=["close", "mark"])

    key = lambda r: (r.sym or "", r.ts)
    got = sorted(out.select("sym", "ts", "close", "mark").collect(), key=key)
    want = sorted(ref.collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # and the shape is right: contiguous 5m grid per key, gaps zero-closed
    a = [r for r in got if r.sym == "a"]
    assert len(a) == 4 and a[1].close == 0.0 and a[2].close == 0.0
    assert a[1].mark == 7.5  # ffill carried through the gap


def test_pq_sql_text_builders_exact(spark):
    """The SQL-TEXT vector builders (similarity._dot_sql, _l2_sql,
    _cosine_sql, _sq_l2_units_sql — parsed once; the Column-DSL nested
    lambdas they replaced cost ~4200 Py4J round-trips of plan build per
    ivf_pq query) must be BIT-identical to the oracle's sequential
    left-fold. Both pins replay the exact op order in pure Python —
    Python floats are the same IEEE doubles, so any drift in literal
    typing (decimal vs double) or fold order fails exact equality:

    1. each builder, unrolled (n=8) and fold (n=None), on real data,
       plus the NULL contract: a short array or a NULL element gives
       NULL (the single-operand fold norm has no length to fall short
       of, so it is the short array's own norm);
    2. `pq_encode` codes ((aa + bb - 2.0*ab)*1e6 + 0.5, floor);
    3. the same over a codebook with short, long and NULL entries."""
    import math
    import random

    from financedatabase_spark.operators import similarity as sim

    rnd = random.Random(11)
    rows = [(i, i % 4, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")

    # 1. vector builders vs the pure-Python replay, exact doubles
    def rdot(a, b, n):
        if n is None:
            if len(a) != len(b):
                return None  # zip_with pads the shorter side with NULL
        elif len(a) < n or len(b) < n:
            return None  # get() is NULL out of bounds
        acc = 0.0
        for x, y in zip(a[:n], b[:n]):
            if x is None or y is None:
                return None
            acc = acc + x * y
        return acc

    def rl2(a, n):
        aa = rdot(a, a, n)
        return None if aa is None else math.sqrt(aa)

    def rcos(a, b, n):
        parts = (rdot(a, b, n), rl2(a, n), rl2(b, n))
        return None if None in parts else parts[0] / (parts[1] * parts[2])

    def runits(a, b, n):
        aa, bb, ab = rdot(a, a, n), rdot(b, b, n), rdot(a, b, n)
        if None in (aa, bb, ab):
            return None
        return math.floor((aa + bb - 2.0 * ab) * 1e6 + 0.5)

    v0 = rows[0][2]
    odd = [
        (v0, v0[:7]),  # short b
        (v0[:7], v0),  # short a
        (v0[:3] + [None] + v0[4:], v0),  # NULL element in a
        (v0, v0[:5] + [None] + v0[6:]),  # NULL element in b
    ]
    pairs = [(r[2], r[2][::-1]) for r in rows] + odd
    two = spark.createDataFrame(pairs, "a array<double>, b array<double>")
    exprs, replays = [], []
    for n in (8, None):
        exprs += [
            sim._dot_sql("a", "b", n),
            sim._l2_sql("a", n),
            sim._cosine_sql("a", "b", n),
            sim._sq_l2_units_sql("a", "b", n),
        ]
        replays += [
            lambda a, b, n=n: rdot(a, b, n),
            lambda a, b, n=n: rl2(a, n),
            lambda a, b, n=n: rcos(a, b, n),
            lambda a, b, n=n: runits(a, b, n),
        ]
    got = [tuple(r) for r in two.selectExpr("a", "b", *exprs).collect()]
    want = [(a, b, *(f(a, b) for f in replays)) for a, b in pairs]
    assert sorted(got, key=repr) == sorted(want, key=repr)
    assert all(None not in w for w in want[: len(rows)])
    short_b, short_a, null_a, null_b = (w[2:] for w in want[len(rows):])
    assert short_a == (None,) * 4 + (None, rl2(v0[:7], None), None, None)
    assert short_b[0::4] == short_b[2::4] == short_b[3::4] == (None, None)
    assert null_a == (None,) * 8
    assert null_b[0::4] == null_b[2::4] == null_b[3::4] == (None, None)

    # 2. pq_encode codes vs the pure-Python replay: per subspace the
    # argmin of (d2, cid), where a NULL d2 sorts last, so a malformed
    # entry never wins over a real one
    m, d = 4, 2
    cen = sim.cell_centroids(df)
    anchors = sim.residual_vectors(df.filter(F.col("vec_id") < 4), cen)
    cbs = sim.pq_codebooks(
        anchors.select(F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec")),
        m=m, dim=8,
    )
    enc = sim.residual_vectors(
        df.select(F.col("vec_id").alias("corpus_id"), "label", "embedding"), cen
    )
    enc_rows = enc.collect()

    def replay(codebooks):
        by_sub = {}
        for e in codebooks.collect():
            by_sub.setdefault(e["sub"], []).append(e)
        want = {}
        for r in enc_rows:
            v = list(r["embedding"])
            codes = []
            for s in range(m):
                sl = v[s * d:(s + 1) * d]
                best = None
                for e in by_sub[s]:
                    d2 = None if e["cvec_sub"] is None else runits(sl, e["cvec_sub"], d)
                    key = (d2 is None, d2 or 0, e["cid"])
                    if best is None or key < best:
                        best = key
                codes.append(best[2])
            want[r["corpus_id"]] = codes
        return want

    def encode(codebooks):
        return {
            r["corpus_id"]: list(r["codes"])
            for r in sim.pq_encode(enc, codebooks, m, 8, id_col="corpus_id").collect()
        }

    got, want = encode(cbs), replay(cbs)
    assert got == want

    # 3. a mixed-width codebook: the entry self-dot keeps _dot_sql(v, v, d)
    # semantics — the first d elements; NULL for a short or NULL entry
    # or a NULL element, whose NULL d2 then ranks after every real entry
    e10 = next(list(r["embedding"]) for r in enc_rows if r["corpus_id"] == 10)
    mixed = spark.createDataFrame(
        [tuple(r) for r in cbs.collect()] + [
            (0, 100, None),
            (1, 101, e10[2:3]),
            (2, 102, e10[4:6] + [5.0]),
            (3, 103, [e10[6], None]),
        ],
        "sub int, cid bigint, cvec_sub array<double>",
    )
    got, want = encode(mixed), replay(mixed)
    assert got == want
    assert want[10][2] == 102  # the long entry's first d elements match row 10
    assert 100 not in {w[0] for w in want.values()}  # NULL d2 sorts last
