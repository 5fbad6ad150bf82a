"""Plan-quality regression gates: the physical plans the engine relies on
at scale must not silently regress. Each assertion mirrors a design rule
from README (pushdown, broadcast dims, two-phase hash agg, top-k without a
global sort)."""

import contextlib
import io

import pytest

from financedatabase_spark.plans.registry import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filters_reach_parquet_scan(spark, sf_dir):
    p = plan_of(spark, sf_dir, "date_range_isin_filter")
    assert "PushedFilters" in p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l][0]
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "In(l_returnflag" in pushed


def test_column_pruning(spark, sf_dir):
    p = plan_of(spark, sf_dir, "pricing_summary")
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    # only the referenced columns are read, not all 11 lineitem columns
    assert "l_partkey" not in read and "l_suppkey" not in read
    assert "l_quantity" in read


def test_dimension_joins_broadcast(spark, sf_dir):
    p = plan_of(spark, sf_dir, "segment_revenue")
    assert p.count("BroadcastHashJoin") >= 2  # customer + nation
    p = plan_of(spark, sf_dir, "session_filter")
    assert "BroadcastHashJoin LeftAnti" in p  # holiday dim anti-join


def test_resample_uses_hash_aggregate(spark, sf_dir):
    p = plan_of(spark, sf_dir, "bars_5m")
    assert "HashAggregate" in p
    assert "SortAggregate" not in p  # struct orderings would force this


def test_topk_avoids_global_sort(spark, sf_dir):
    p = plan_of(spark, sf_dir, "topk_orders")
    assert "TakeOrderedAndProject" in p


def test_minhash_no_cross_join(spark, sf_dir):
    p = plan_of(spark, sf_dir, "minhash_lsh_dups")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


@pytest.mark.parametrize(
    "name,budget", [("asof_enrichment", 3), ("dedup_keep_first_last", 4)]
)
def test_single_digit_exchanges(spark, sf_dir, name, budget):
    # one logical step ≈ one shuffle: these plans must stay exchange-light
    # (the merged first+last dedup legitimately carries one window shuffle
    # per union branch, each mentioned twice in formatted explain)
    p = plan_of(spark, sf_dir, name)
    assert sum("Exchange" in l and "(" in l for l in p.splitlines()) <= budget


def test_activity_bars_single_shuffle(spark, sf_dir):
    # the prefix-sum window and the final agg share ONE hash partitioning
    # on the key: exactly one Exchange node in the whole plan
    import re

    for name in ("volume_bars_activity", "dollar_bars_activity"):
        p = plan_of(spark, sf_dir, name)
        node_ids = set(re.findall(r"Exchange \((\d+)\)", p))
        assert len(node_ids) == 1, (name, node_ids)
        assert "SortAggregate" not in p, name


def test_market_rollups_single_shuffle(spark, sf_dir):
    # max_drawdown: the running-max window and the final agg group on the
    # same key (event_type) — one hashpartitioning end to end.
    # realized_volatility: the agg key (event_type, trade_date) refines
    # the lag-window key, so the window's shuffle satisfies the agg's
    # clustering requirement — again exactly one Exchange.
    import re

    for name in ("max_drawdown", "realized_volatility"):
        p = plan_of(spark, sf_dir, name)
        node_ids = set(re.findall(r"Exchange \((\d+)\)", p))
        assert len(node_ids) == 1, (name, node_ids)


def test_stratified_sample_stays_map_side(spark, sf_dir):
    # the fraction spec joins in as a broadcast; the corpus side must not
    # shuffle — the whole sample is a scan-side filter
    p = plan_of(spark, sf_dir, "stratified_sample_docs")
    assert "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning" not in p


def test_multiprobe_corpus_join_is_hash_join(spark, sf_dir):
    # probe selection ranks the collected centroid literal in-row, and
    # the corpus-side join must stay a cell equi-join (hash join), never
    # a cartesian against the corpus; neither the probe nor the k-means
    # / index-build assignments join the centroid frame at all
    p = plan_of(spark, sf_dir, "ivf_multiprobe_topk")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("BroadcastHashJoin") + p.count("SortMergeJoin") >= 1
    for name in ("ivf_build_assign", "kmeans_lloyd_refine"):
        p = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_spread_skips_shuffle_for_multifile_scans(spark, sf_dir, tmp_path):
    """similarity._spread must not repartition a scan-backed corpus that
    already yields enough splits — at 100 TB that repartition is a full
    corpus shuffle. Single-split sources still get spread."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators import similarity as sim
    from financedatabase_spark.sources.readers import load_table

    par = spark.sparkContext.defaultParallelism
    emb = load_table(spark, sf_dir, "embeddings")

    many = str(tmp_path / "many")
    emb.repartition(par).write.parquet(many)
    multi = spark.read.parquet(many)
    assert len(multi.inputFiles()) >= par
    assert sim._spread(multi) is multi  # no shuffle node added at all

    one = str(tmp_path / "one")
    emb.coalesce(1).write.parquet(one)
    single = spark.read.parquet(one)
    spread = sim._spread(single)
    assert spread is not single
    assert spread.rdd.getNumPartitions() == par

    # end-to-end: scoring over the multi-file corpus must not contain a
    # round-robin exchange (the corpus-side spread shuffle)
    q = multi.limit(3).select("vec_id", "embedding")
    topk = sim.cosine_topk(
        q.withColumnRenamed("vec_id", "query_id"),
        multi.withColumnRenamed("vec_id", "corpus_id"),
        k=3,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        topk.explain("formatted")
    assert "roundrobin" not in buf.getvalue().lower()


def test_input_files_guard_over_frame_kinds(spark, sf_dir):
    """`_spread` and `session._local_input_bytes` read `inputFiles()`
    without catching: it lists the files of a scan, lists none for a
    Python-RDD, range, VALUES or checkpointed frame, and raises only on a
    streaming frame, which both check for first."""
    import os

    from financedatabase_spark.operators.dedup_docs import _spread
    from financedatabase_spark.session import _local_input_bytes

    path = os.path.join(sf_dir, "region.parquet")
    scan = spark.read.parquet(path)
    files = scan.inputFiles()
    assert files
    assert _local_input_bytes(scan) == sum(os.path.getsize(f.removeprefix("file:")) for f in files)
    kinds = {
        "python_rdd": spark.createDataFrame(spark.sparkContext.parallelize([(1,)]), "x int"),
        "range": spark.range(4),
        "values": spark.sql("SELECT * FROM VALUES (1), (2) AS t(x)"),
        "checkpoint": spark.range(4).localCheckpoint(),
        "stream": spark.readStream.format("rate").load(),
    }
    for name, df in kinds.items():
        if not df.isStreaming:
            assert df.inputFiles() == [], name
        assert _local_input_bytes(df) == 0, name
        assert _spread(df) is not df, name  # no files: spread explicitly
    assert _spread(scan).rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_hard_negative_anchors_broadcast(spark, sf_dir):
    # the anchor set must broadcast into the label-mismatch join so the
    # corpus is scored map-side in one pass (BroadcastNestedLoopJoin IS
    # the intended shape here — the predicate is an inequality — but it
    # must never degrade to a CartesianProduct or a corpus sort)
    p = plan_of(spark, sf_dir, "hard_negative_mining")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_contamination_bench_side_broadcasts(spark, sf_dir):
    # the benchmark shingle table must broadcast: the corpus side joins
    # map-side (no corpus shuffle, no sort-merge, never cartesian)
    p = plan_of(spark, sf_dir, "benchmark_contamination")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_token_packing_hierarchical_shape(spark, sf_dir):
    # two-level scan: ONE corpus shuffle (the range partition on
    # (key, order), reused by the totals branch), local prefix sums
    # map-side (MapInPandas below it), offsets joined back as a
    # broadcast — and never a single-partition exchange of the corpus
    p = plan_of(spark, sf_dir, "token_shard_packing")
    assert "rangepartitioning" in p
    assert "MapInPandas" in p
    assert "BroadcastHashJoin" in p  # offsets come back as a broadcast
    # the keyed corpus path must never collapse to one task
    assert "Exchange SinglePartition" not in p
    # exchange reuse is an AQE runtime decision: execute, then assert the
    # totals branch reused the corpus range shuffle instead of re-scanning
    df = QUERIES["token_shard_packing"](spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_deterministic_shuffle_reuses_range_exchange(spark, sf_dir):
    # the shuffle carries PAYLOAD columns (lang) the totals branch never
    # references — the case that once diverged the two subtrees under
    # column pruning, broke exchange reuse, and let two independently
    # SAMPLED range executions drop rows at the _p join (caught at 50x).
    # The totals branch now aggregates the MapInPandas output (a pruning
    # barrier), so the corpus range exchange must be provably reused.
    p = plan_of(spark, sf_dir, "deterministic_shuffle")
    assert "rangepartitioning" in p
    assert "MapInPandas" in p
    assert "BroadcastHashJoin" in p
    df = QUERIES["deterministic_shuffle"](spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_pii_redaction_is_pure_map(spark, sf_dir):
    # the scrub is a regexp_replace chain: one scan, zero Exchange —
    # a 100 TB corpus pays exactly one pass
    p = plan_of(spark, sf_dir, "pii_redaction")
    assert "Exchange" not in p
    assert "codegen id" in p  # whole-stage codegen spans the projection


@pytest.mark.parametrize(
    "name",
    [
        "multimodal_audio_features",
        "multimodal_video_features",
        "multimodal_image_features",
        "multimodal_jpeg_features",
        "multimodal_jpeg_lossless_features",
        "multimodal_jpeg12_features",
        "multimodal_jpeg_exotic_features",
        "multimodal_jpeg_lossless_rgb_features",
        "multimodal_adpcm_features",
        "multimodal_msadpcm_features",
        "multimodal_gsm_features",
        "multimodal_jpeg_arith_features",
        "multimodal_jpeg_lossless_arith_features",
        "multimodal_adpcm_stereo_features",
        "multimodal_msadpcm_stereo_features",
        "multimodal_video_dib_features",
        "multimodal_jpeg_hier_features",
        "multimodal_gif_features",
        "multimodal_tiff_features",
        "multimodal_webp_features",
        "multimodal_bmp_features",
        "multimodal_ico_features",
    ],
)
def test_media_pipelines_stay_map_side(spark, sf_dir, name):
    # scan -> spread ids -> mapInPandas synth -> mapInPandas decode ->
    # posexplode. Exactly ONE Exchange, and it moves only the 8-byte
    # doc_id BEFORE payloads exist (a single-file staging table must not
    # serialize the Python codec onto one core — observed at 50x);
    # payloads themselves never shuffle.
    import re

    p = plan_of(spark, sf_dir, name)
    ex = re.findall(r"\(\d+\) Exchange\n(?:.*\n)*?Input(?: \[\d+\])?: \[([^\]]*)\]", p)
    assert len(ex) == 1, p
    assert ex[0].strip().startswith("doc_id"), ex  # ids only, no payload bytes
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 2


def test_shipping_priority_topk_and_broadcast(spark, sf_dir):
    # Q3 shape: segment-filtered customers broadcast; the top-10 compiles
    # to TakeOrderedAndProject, never a global Sort
    p = plan_of(spark, sf_dir, "shipping_priority")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p


def test_fixed_size_sample_two_phase(spark, sf_dir):
    # phase 1 (map-side per-partition top-n) must run BEFORE any shuffle:
    # the corpus itself never exchanges — the only hash partitioning in
    # the plan is the exact window over the <= n x partitions survivors
    import re

    p = plan_of(spark, sf_dir, "fixed_size_sample_docs")
    assert "MapInPandas" in p
    node_ids = set(re.findall(r"Exchange \((\d+)\)", p))
    assert len(node_ids) == 1, node_ids


def test_interval_join_avoids_nested_loop(spark, sf_dir):
    # the BETWEEN predicate must ride a bucket equi-join, never a
    # cartesian/nested-loop over points x intervals
    p = plan_of(spark, sf_dir, "interval_window_counts")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bm25_topk_avoids_global_sort(spark, sf_dir):
    p = plan_of(spark, sf_dir, "bm25_search")
    assert "TakeOrderedAndProject" in p


def test_hybrid_rrf_avoids_global_sort(spark, sf_dir):
    """RRF fusion ranks two k-row lists: every corpus-sized top-k must
    compile to TakeOrderedAndProject (bm25, cosine, and the fused list),
    and nothing in the plan may materialize a cartesian."""
    p = plan_of(spark, sf_dir, "hybrid_search_rrf")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_staged_grams_materialize_once(spark):
    """The staged gram builders (text.with_word_ngrams and friends) must
    keep words/grams/hashes as materialized columns: CollapseProject
    would otherwise inline the split(normalized_text()) subtree into the
    HOF lambdas, where Catalyst re-evaluates it PER ELEMENT — measured
    ~1700x slower on 200-word docs. Gate: the optimized plan contains
    exactly one split() per staged source (the one-expression Column API
    embeds k+2 copies)."""
    from pyspark.sql import functions as F

    from financedatabase_spark.operators import text as tx

    df = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id int, text string")

    staged = tx.with_winnow_fingerprints(df, "text", "fp", hash_mode="xxhash64")
    plan = staged._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan

    rep = tx.with_ngram_repetition(df, "text", (2, 3))
    plan = rep._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 2, plan  # one per staged n-gram source

    # value parity with the Column-API forms (same math, staged trees)
    want = df.select(
        "doc_id", tx.winnow_fingerprint_set("text", hash_mode="xxhash64").alias("fp")
    ).collect()
    assert staged.select("doc_id", "fp").collect() == want
    want_rep = df.select(
        "doc_id",
        *tx.ngram_repetition_columns("text", 2),
        *tx.ngram_repetition_columns("text", 3),
    ).collect()
    assert rep.drop("text").collect() == want_rep

    fpc = tx.with_fingerprint(df, "text")
    want_fpc = df.select("doc_id", "text", *tx.fingerprint_columns("text")).collect()
    assert fpc.collect() == want_fpc

    # a non-outer explode over a staged array would let Catalyst infer a
    # size(...) > 0 filter and push the whole gram tree into one per-row
    # Filter; shingle_table guards with explode_outer + null filter
    from financedatabase_spark.operators.dedup_docs import shingle_table

    st = shingle_table(df)
    plan = st._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    assert st.count() == 6  # 8 words -> 6 distinct 3-shingles

    # bm25 stages the word array once too (was ~2 splits per query term)
    from financedatabase_spark.operators.retrieval import bm25_topk

    bm = bm25_topk(df, ["c", "f"], k=2)
    plan = bm._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    assert [r.doc_id for r in bm.collect()] == [1]


def test_plans_md_digests_current(spark):
    """PLANS.md is a committed snapshot that can silently drift from the
    code. Regenerate the per-query digests (scans/pushed/exch/py counts)
    at the same SF the report uses and assert they match — full plan
    text varies by exprIds, the digest is the stable audit surface."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    import plan_report

    sf = "/root/testdata/sf0.1"
    if not os.path.isdir(sf):
        pytest.skip("sf0.1 dataset not present")
    want = plan_report.committed_digests(os.path.join(repo, "PLANS.md"))
    got = plan_report.compute_digests(spark, sf)
    assert set(got) == set(want), "headline list changed: regenerate PLANS.md"
    drift = {n: (want[n], got[n]) for n in got if got[n] != want[n]}
    assert not drift, f"PLANS.md stale (committed vs live): {drift}"


def test_domain_blocklist_broadcast_anti_join(spark, sf_dir):
    # both sides of the decision stay broadcast: blocklist -> semi probe,
    # blocked-host set -> map-side anti; the corpus never shuffles
    p = plan_of(spark, sf_dir, "domain_blocklist_filter")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_gopher_quality_is_shuffle_free_projection(spark, sf_dir):
    # every rule is an array expression over the split word array: the
    # whole filter must compile to one scan + one codegen projection —
    # no Exchange, no generator explode, no Python stage
    p = plan_of(spark, sf_dir, "gopher_quality_filter")
    assert "Exchange" not in p
    assert "Generate" not in p
    assert "Python" not in p and "Arrow" not in p
    assert p.count("Location: InMemoryFileIndex") == 1


def test_dsir_score_joins_literal_histogram(spark, sf_dir):
    # the bucket histogram folds to a ≤64-row LocalRelation joined
    # broadcast: the score side must not re-plan the corpus subtree for
    # the global counts (one corpus scan total; per_doc is checkpointed)
    p = plan_of(spark, sf_dir, "dsir_importance_weights")
    assert "BroadcastHashJoin" in p
    assert "LocalTableScan" in p
    assert p.count("Scan parquet") == 0  # per_doc checkpoint feeds everything


def test_curation_v2_composite_shuffle_bound(spark, sf_dir):
    # the six-stage composite materializes the admitted corpus (s3) at
    # the stage boundary, so the final DAG is bounded: the substring
    # dedup + SemDeDup + packing stages own every remaining shuffle.
    # A regression that re-plans the blocklist/Gopher/CCNet subtree per
    # consumer (the bug the checkpoint prevents) triples the count.
    p = plan_of(spark, sf_dir, "corpus_curation_pipeline_v2")
    shuffles = p.count("Exchange hashpartitioning") + p.count(
        "Exchange rangepartitioning"
    )
    assert shuffles <= 24, f"composite shuffle count regressed: {shuffles}"
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p  # no row-wise Python anywhere
