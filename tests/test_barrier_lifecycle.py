"""Checkpoint (barrier) lifecycle and partitioning gates — r16.

Under PySpark's ClientServer gateway, py4j never auto-detaches JVM
bindings, so a plain `localCheckpoint()` pins its blocks for the LIFETIME
of the session (three garbage collectors would each have to fire, and the
first never does). `session.barrier` makes release explicit: rebuilding a
registered query unpersists the previous build's blocks up front, and
iterative operators release superseded loop states immediately. These
tests pin that contract — a regression silently reintroduces the r15
cross-query interference that bench.py's gc.collect() papered over.
"""

import pytest
from pyspark.sql import functions as F


def _live_block_ids(spark):
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_rebuilding_a_query_releases_previous_checkpoints(spark, sf_dir):
    from financedatabase_spark.plans.registry import QUERIES

    name = "minhash_lsh_dups"  # band-table barrier inside
    df1 = QUERIES[name](spark, sf_dir)
    df1.write.format("noop").mode("overwrite").save()
    after_first = _live_block_ids(spark)
    df2 = QUERIES[name](spark, sf_dir)
    df2.write.format("noop").mode("overwrite").save()
    after_second = _live_block_ids(spark)
    h1 = getattr(df1, "_fdspark_ckpt_rdd", None)  # not propagated; use registry
    # the first build's barrier blocks must be GONE after the rebuild
    # (new blocks appear, old ones are unpersisted — net zero growth)
    assert len(after_second) <= len(after_first), (
        f"checkpoint blocks accumulated across rebuilds: "
        f"{sorted(after_first)} -> {sorted(after_second)}"
    )
    assert h1 is None  # sanity: handles live on the session registry


def test_barrier_registers_and_releases_handle(spark):
    from financedatabase_spark.session import barrier, release_barrier

    df = barrier(spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("k")))
    assert df._fdspark_ckpt_rdd is not None
    rid = df._fdspark_ckpt_rdd.id()
    assert rid in _live_block_ids(spark)
    release_barrier(df)
    assert rid not in _live_block_ids(spark)


def test_loop_supersede_releases_previous_rounds(spark):
    """connected_components checkpoints per round; every superseded round's
    blocks must be released as soon as the next round materializes."""
    from financedatabase_spark.operators.dedup_docs import connected_components

    before = _live_block_ids(spark)
    # a 6-node path graph needs several label-propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "doc1 long, doc2 long"
    )
    out = connected_components(pairs)
    assert out.count() == 7
    after = _live_block_ids(spark)
    # live growth is bounded by the loop's working set (edges + current
    # labels), NOT by the number of rounds
    assert len(after - before) <= 2, (
        f"CC loop leaked one checkpoint per round: {sorted(after - before)}"
    )


def test_band_table_checkpoint_keeps_partitioning(spark, sf_dir):
    """The materialized LSH band table must come back with its (band, key)
    hash partitioning recorded — an UnknownPartitioning(0) checkpoint scan
    forces every consumer to re-shuffle an already-partitioned table
    (r15 verdict: minhash ran 2x faster on 8 cores than 32 because of
    exactly this)."""
    import contextlib
    import io

    from financedatabase_spark.plans.registry import QUERIES

    df = QUERIES["minhash_lsh_dups"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    scan_lines = [l for l in plan.splitlines() if "ExistingRDD," in l]
    assert scan_lines, "expected a checkpointed band-table scan in the plan"
    assert all("UnknownPartitioning" not in l for l in scan_lines), scan_lines
    # the pair self-join reads both sides co-partitioned: no shuffle may
    # sit between the checkpoint scans and the join
    assert "Exchange hashpartitioning" not in plan.split("dropDuplicates")[0]


def test_capped_band_pairs_unified_join_matches_r15_union_form(spark):
    """The single-join formulation (a<b AND (small-bucket OR a is the
    representative)) must emit exactly the pair set of the r15 union of
    two joins (all-pairs for small buckets + star for big ones), on a
    corpus with both bucket kinds."""
    from pyspark.sql import Window

    from financedatabase_spark.operators.dedup_docs import _capped_band_pairs

    rows = []
    # big bucket: 40 docs sharing band key "hot" (cap=16 -> starred)
    rows += [(i, 0, "hot", float(i)) for i in range(40)]
    # small buckets: 5 docs on "a", 3 on "b"
    rows += [(100 + i, 0, "a", 100.0 + i) for i in range(5)]
    rows += [(200 + i, 1, "b", 200.0 + i) for i in range(3)]
    banded = spark.createDataFrame(
        rows, "doc_id long, band int, key string, payload double"
    )
    cap = 16
    got = {
        (r.doc1, r.doc2, r.p1, r.p2)
        for r in _capped_band_pairs(banded, {"payload": "p"}, cap)
        .dropDuplicates(["doc1", "doc2"])
        .collect()
    }

    # reference: the r15 union-of-two-joins formulation, inlined
    w = Window.partitionBy("band", "key")
    sized = banded.withColumn("_n", F.count("*").over(w)).withColumn(
        "_rep", F.min("doc_id").over(w)
    )
    small = sized.filter(F.col("_n") <= cap)
    a, b = small.alias("a"), small.alias("b")
    small_pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc1"),
        F.col("b.doc_id").alias("doc2"),
        F.col("a.payload").alias("p1"),
        F.col("b.payload").alias("p2"),
    )
    big = sized.filter(F.col("_n") > cap)
    reps = big.filter(F.col("doc_id") == F.col("_rep")).select(
        "band", "key", F.col("doc_id").alias("doc1"), F.col("payload").alias("p1")
    )
    others = big.filter(F.col("doc_id") != F.col("_rep")).select(
        "band", "key", F.col("doc_id").alias("doc2"), F.col("payload").alias("p2")
    )
    big_pairs = others.join(reps, ["band", "key"]).select("doc1", "doc2", "p1", "p2")
    want = {
        (r.doc1, r.doc2, r.p1, r.p2)
        for r in small_pairs.unionByName(big_pairs)
        .dropDuplicates(["doc1", "doc2"])
        .collect()
    }
    assert got == want and len(want) == 39 + 10 + 3


def test_scaled_partitions_bounded_by_real_input_bytes(spark, sf_dir):
    """Catalyst estimates above a join over a checkpoint run away toward
    2^63; scaled_partitions must refuse them (bounding by the real input
    file bytes, or falling back to defaultParallelism) instead of asking
    for tens of thousands of empty partitions."""
    from financedatabase_spark.session import barrier, scaled_partitions
    from financedatabase_spark.sources.readers import load_table

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ck = barrier(docs.select("doc_id"))
    joined = docs.join(ck.withColumnRenamed("doc_id", "d2"), F.col("doc_id") == F.col("d2"))
    n = scaled_partitions(joined)
    # tiny fixture inputs: the count must stay at local-parallelism scale
    assert 1 <= n <= 4 * par, n


class _Handle:
    def __init__(self, fail):
        self.fail, self.released = fail, False

    def unpersist(self, blocking):
        if self.fail:
            raise RuntimeError("block manager gone")
        self.released = True


def test_failed_release_is_logged_and_not_counted(caplog):
    """A handle whose unpersist raises is named in a warning and is not
    counted; the other handles of the query are still released."""
    from types import SimpleNamespace

    from financedatabase_spark.session import (
        _barrier_registry,
        release_barrier,
        release_build_checkpoints,
    )

    session = SimpleNamespace()
    good, bad = _Handle(False), _Handle(True)
    _barrier_registry(session)["q_release"] = [bad, good]
    with caplog.at_level("WARNING", logger="financedatabase_spark.session"):
        assert release_build_checkpoints(session, "q_release") == 1
    assert good.released
    assert [r.levelname for r in caplog.records] == ["WARNING"]
    assert "q_release" in caplog.records[0].getMessage()
    assert caplog.records[0].exc_info is not None

    caplog.clear()
    frame = SimpleNamespace(_fdspark_ckpt_rdd=_Handle(True))
    with caplog.at_level("WARNING", logger="financedatabase_spark.session"):
        release_barrier(frame)
    assert len(caplog.records) == 1 and "_Handle" in caplog.records[0].getMessage()
