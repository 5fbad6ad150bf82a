"""Document deduplication for training-data pipelines.

Four tiers, each the standard large-corpus technique:

- **exact**: hash-groupBy on the normalized content hash — one shuffle on
  a 32-char key, keep the smallest doc_id.
- **n-gram Jaccard (exact)**: shingle-set similarity via explode +
  equi-join + group count. Quadratic in the worst case — the CORRECTNESS
  baseline the sketch methods are verified against, not the scale path.
- **MinHash + LSH**: each shingle is hashed ONCE (the first 28 bits of
  its md5 — md5 so the SQL oracle reproduces the value exactly); the k
  min-wise hashes per doc are the minima of the integer permutations
  ``(a_i·v + b_i) mod P`` over those values, banded into b groups; docs
  sharing a band key become candidates (equi-join on the band key —
  linear-ish), then candidates are verified with exact Jaccard.
  This is the 100 TB path: no all-pairs comparison ever materializes.
- **SimHash**: 32-bit majority-of-token-hash-bits signature; near-dups =
  pairs within Hamming distance d, found by banding the 32 bits into 4
  byte-keys (any exact-match band → candidate), then bit_count(xor)
  verification. Bit extraction uses div/mod so DuckDB and Spark agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from financedatabase_spark.operators.text import doc_hash, normalized_text

#: Band buckets larger than this pair docs against the bucket's min-doc_id
#: representative (star) instead of all-pairs. A hot band key — typically
#: a run of identical documents — otherwise makes the self-join quadratic
#: WITHIN that bucket (1M identical docs → 5e11 candidate pairs); the star
#: emits m-1 pairs, keeps every duplicate connected to its cluster through
#: the representative, and identical docs still verify at jaccard 1.0 /
#: hamming 0. Trade-off: two near-dups that collide ONLY inside an
#: oversized mixed bucket are no longer paired directly — they get their
#: usual independent chances in the other bands.
DEFAULT_BUCKET_CAP = 64


def _capped_band_pairs(
    banded: DataFrame, payload: dict[str, str], bucket_cap: int
) -> DataFrame:
    """Candidate pairs from a (doc_id, band, key, *payload) table with the
    hot-bucket star bound. ``payload`` maps source column -> (suffixless)
    output name; each side's payload rides along so verification needs no
    further join.

    The band table is materialized ONCE (r15: the signature pipeline —
    normalize + shingle + hash per gram — otherwise re-planned and re-ran
    per consumer: 4 parquet scans, 9 Exchanges). r16 refinements:

    - The table is repartitioned on (band, key) to a SIZE-DERIVED count
      before the checkpoint and the checkpoint records that partitioning
      (`session.barrier(preserve_partitioning=True)`); the r15 form came
      back as ``UnknownPartitioning(0)`` over shuffle.partitions near-empty
      blocks, so AQE could not coalesce and every consumer re-shuffled an
      already-partitioned table (the 8-core bench beating 32 cores on
      minhash was this oversharding made visible). The window reuses the
      repartition's exchange, and the pair self-join below reads both
      sides co-partitioned AND co-sorted — zero additional exchanges.
    - Both star cases collapse into ONE self-join: for an oversized
      bucket the star pairs (rep, other) are exactly the a<b pairs whose
      LEFT side is the representative (rep = min doc_id of the bucket),
      so `a.doc_id < b.doc_id AND (a._n <= cap OR a.doc_id = a._rep)`
      yields all-pairs for small buckets and the star for big ones — the
      r15 union of two joins probed the checkpoint four times, this
      probes it twice.

    Output may contain the same (doc1, doc2) from several bands; callers
    dedup AFTER scoring, so the dedup exchange moves (id, id, score)
    rows instead of payload arrays (guide §2.3/§8: shuffle decisions,
    not payloads — scores are pure per-pair functions of the per-doc
    payloads, so score-then-dedup equals dedup-then-score row for row).
    """
    from financedatabase_spark.session import barrier, scaled_partitions

    w = Window.partitionBy("band", "key")
    n_parts = scaled_partitions(banded)
    sized = barrier(
        banded.repartition(n_parts, "band", "key")
        .withColumn("_n", F.count("*").over(w))
        .withColumn("_rep", F.min("doc_id").over(w)),
        preserve_partitioning=True,
    )
    a, b = sized.alias("a"), sized.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & ((F.col("a._n") <= bucket_cap) | (F.col("a.doc_id") == F.col("a._rep"))),
    ).select(
        F.col("a.doc_id").alias("doc1"),
        F.col("b.doc_id").alias("doc2"),
        *[F.col(f"a.{src}").alias(f"{dst}1") for src, dst in payload.items()],
        *[F.col(f"b.{src}").alias(f"{dst}2") for src, dst in payload.items()],
    )


def _spread(df: DataFrame) -> DataFrame:
    """Repartition ahead of row-expanding work (shingle/token explode
    multiplies rows ~50×; the corpus side of `similarity`'s O(Q·N)
    scorers) — but ONLY when the source can't parallelize on
    its own. A small single-file source arrives as one or two splits,
    serializing the whole pipeline; spreading costs one small shuffle and
    buys full parallelism. A real partitioned table already yields many
    splits, and an unconditional repartition there would be a full shuffle
    of the corpus at 100 TB — so scan-backed frames with enough input
    files skip the shuffle entirely (file count is metadata-only; a 100 TB
    table has thousands of files, comfortably past any core count).
    Frames with no file scan (Python RDD, range, VALUES, checkpoint)
    list no input files; `inputFiles()` raises only on a streaming
    frame, which always spreads."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if not df.isStreaming and len(df.inputFiles()) >= target:
        return df
    return df.repartition(target)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest id per normalized content hash."""
    return (
        df.select(F.col(id_col), doc_hash(text_col).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").cast("long").alias("n_copies"))
    )


def _shingle_frame(
    df: DataFrame, text_col: str, id_col: str, k: int, out_col: str
) -> DataFrame:
    """(doc_id, <out_col>: distinct shingle array), staged via
    `text.with_word_ngrams` so the normalize+split runs once per row —
    the Column-API `word_shingles` re-evaluates the split per gram
    inside its HOF lambda (see the staging note in operators/text.py)."""
    from financedatabase_spark.operators.text import with_word_ngrams

    base = _spread(df).select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_sf_text")
    )
    return with_word_ngrams(base, "_sf_text", k, out_col, distinct=True).drop("_sf_text")


def shingle_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded table — distinct shingles per doc.

    explode_OUTER + null filter, not plain explode: a non-outer Generate
    makes Catalyst infer a size(...) > 0 filter and push it below the
    staged shingle projections, re-inlining the whole gram tree into one
    per-row Filter (the per-element re-split pathology). The null filter
    on the GENERATOR OUTPUT cannot be pushed below the Generate."""
    return (
        _shingle_frame(df, text_col, id_col, k, "_sh")
        .select("doc_id", F.explode_outer("_sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def jaccard_pairs(
    shingles: DataFrame,
    threshold: float,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over shingle sets: |A∩B| / (|A|+|B|-|A∩B|).

    With ``candidates`` (doc1, doc2) the intersection join is restricted to
    those pairs (the LSH verify stage); without, it's the full
    shingle-equality self-join (baseline only).
    """
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count("*").alias("inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates.select("doc1", "doc2").distinct(), ["doc1", "doc2"])
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc1").withColumnRenamed("sz", "sz1"), "doc1")
        .join(sizes.withColumnRenamed("doc_id", "doc2").withColumnRenamed("sz", "sz2"), "doc2")
        .select(
            "doc1",
            "doc2",
            (F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter"))).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline, three shuffles total:

    1. one spread-repartition of the doc table,
    2. the band-key self-join (each side carries its shingle ARRAY, so
       verification needs no further join and the shingle regex runs
       exactly once per doc), with band buckets larger than ``bucket_cap``
       starred against their min-doc_id representative so a hot key (mass
       duplication) stays linear instead of quadratic,
    3. a pair-dedup (two bands can produce the same candidate pair).

    Exact Jaccard on candidates is per-pair `array_intersect` math.
    """
    rows_per_band = num_hashes // bands
    base = _shingle_frame(df, text_col, id_col, k_shingle, "sh")
    # hash each shingle ONCE (md5 → 28-bit int), then derive the k min-hash
    # values with integer permutations h_i(v) = (a_i·v + b_i) mod P — the
    # standard one-hash MinHash family. k× fewer digest calls; the linear
    # maps are exact int64 math the SQL oracle reproduces verbatim.
    # The per-permutation exprs are SQL STRINGS in one selectExpr: a
    # Python HOF lambda costs several Py4J roundtrips apiece, and the 16
    # of them dominated the bench's measured plan-build time (~0.4 s of
    # the r7 1.0 s build); one parse call builds the same analyzed tree.
    base = base.selectExpr(
        "doc_id",
        "sh",
        "transform(sh, s -> cast(conv(substring(md5(s), 1, 7), 16, 10) as bigint))"
        " AS _vs",
    )
    sig_exprs = []
    for i in range(num_hashes):
        a, b = _minhash_coeffs(i)
        sig_exprs.append(
            f"array_min(transform(_vs, v -> ({a}L * v + {b}L) % {MINHASH_P}L))"
            f" AS h{i}"
        )
    sigs = base.selectExpr("doc_id", "sh", *sig_exprs)
    band_structs = ", ".join(
        "named_struct('band', {b}, 'key', md5(concat_ws('|', {hs})))".format(
            b=b,
            hs=", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(bands)
    )
    banded = sigs.selectExpr("doc_id", "sh", f"inline(array({band_structs}))")
    pairs = _capped_band_pairs(banded, {"sh": "sh"}, bucket_cap)
    inter = F.size(F.array_intersect("sh1", "sh2"))
    # score BEFORE the pair-dedup: jaccard is a pure function of the two
    # per-doc shingle sets, so every multi-band copy of a pair scores
    # identically and the dedup exchange moves (id, id, double) rows
    # instead of two shingle arrays per row
    return (
        pairs.select(
            "doc1",
            "doc2",
            (inter / (F.size("sh1") + F.size("sh2") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .dropDuplicates(["doc1", "doc2"])
    )


#: Mersenne prime 2^31-1 — universe for the one-hash MinHash permutations.
MINHASH_P = 2147483647


def _minhash_coeffs(i: int) -> tuple[int, int]:
    """Deterministic odd multiplier / offset for permutation i (Knuth
    multiplicative constants; any fixed pairwise-independent-ish family
    works — the oracle recomputes the same values)."""
    return (2654435761 * (i + 1)) % MINHASH_P | 1, (40503 * (i + 7)) % MINHASH_P


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """SimHash: per bit, majority vote of token-hash bits (Charikar 2002).
    Bit j extracted as (v div 2^j) mod 2 — portable across engines.

    ``bits`` defaults to 32 (4 byte-bands → 256-way candidate buckets):
    right for corpora up to ~10^5 docs. At larger scale widen to 48
    (4×12-bit bands → 4096-way buckets) so candidate sets stay linear —
    band-key cardinality is the knob that keeps LSH sub-quadratic."""
    assert bits % 4 == 0 and bits <= 48, "bits must be a multiple of 4, ≤48 (long-safe)"
    # map-side: token-hash array computed ONCE per doc, then `bits` cheap
    # array folds for the majority votes — no explode, no shuffle (the
    # previous explode+groupBy formulation shuffled every token row).
    # All `bits` folds are SQL strings in one selectExpr: per-bit Python
    # HOF lambdas cost several Py4J roundtrips each and made plan BUILD
    # (~1.5 s) outweigh execution in the bench; one parse call yields the
    # identical analyzed tree. shiftright(v,j)&1 ≡ cast(v/2^j as long)%2
    # for the non-negative conv() outputs.
    base = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.split(normalized_text(text_col), " ").alias("_toks"),
    ).selectExpr(
        "doc_id",
        f"transform(_toks, t -> cast(conv(substring(md5(t), 1, {bits // 4}),"
        " 16, 10) as bigint)) AS _vs",
    )
    bit_exprs = [
        f"aggregate(_vs, 0, (acc, v) -> acc +"
        f" (CASE WHEN (shiftright(v, {j}) & 1) = 1 THEN 1 ELSE -1 END)) AS b{j}"
        for j in range(bits)
    ]
    bit_sums = base.selectExpr("doc_id", *bit_exprs)
    sig = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {2**j}L ELSE 0L END)" for j in range(bits)
    )
    return bit_sums.selectExpr("doc_id", f"cast({sig} as bigint) AS simhash")


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs within Hamming distance: band the signature into 4
    equal bit-bands; any shared band → candidate; verify with
    bit_count(xor). Band width = bits/4 sets bucket cardinality — the
    sub-quadratic knob (see simhash_signatures). Buckets beyond
    ``bucket_cap`` are starred against the bucket representative so mass
    duplication stays linear."""
    band_bits = bits // 4
    sigs = simhash_signatures(df, text_col, id_col, bits)
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'key',"
        f" shiftright(simhash, {band_bits * b}) & {2**band_bits - 1}L)"
        for b in range(4)
    )
    bands = sigs.selectExpr("doc_id", "simhash", f"inline(array({band_structs}))")
    cands = _capped_band_pairs(bands, {"simhash": "sh"}, bucket_cap)
    # hamming is a pure per-pair function of the two signatures: score,
    # filter, THEN dedup the multi-band copies (same rows as the r15
    # dedup-first form, smaller dedup exchange)
    return (
        cands.select(
            "doc1",
            "doc2",
            F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2"))).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc1", "doc2"])
    )


#: Shared CC iteration bound: the operator's convergence loop and the
#: DuckDB oracles' chained-CTE round count both derive from this, so the
#: two sides can never drift apart (oracle rounds < engine rounds would
#: let a long-diameter chain converge in the engine but not the oracle).
CC_MAX_ITERATIONS = 20


def connected_components(
    pairs: DataFrame,
    left_col: str = "doc1",
    right_col: str = "doc2",
    max_iterations: int = CC_MAX_ITERATIONS,
) -> DataFrame:
    """Cluster near-dup pairs into duplicate groups: (doc_id, cluster_rep)
    where cluster_rep is the minimum doc_id of the connected component —
    the doc a dedup keep-list retains.

    Iterative min-label propagation (the standard distributed CC loop,
    cf. GraphX/Pregel): each round every node adopts the smallest label
    among itself and its neighbors; converged when the label sum stops
    changing (labels only decrease, so the sum is a monotone witness —
    one scalar agg per round, no data ever collected to the driver).
    `localCheckpoint` truncates the growing lineage each round. Rounds
    needed = graph diameter; the star-capped LSH pairs keep duplicate
    clusters star-shaped, so this converges in 2-3 rounds.
    """
    from financedatabase_spark.session import barrier, release_barrier

    e = pairs.select(F.col(left_col).alias("src"), F.col(right_col).alias("dst"))
    edges = barrier(
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    labels = barrier(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    prev = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iterations):
        nbr = (
            edges.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
            .withColumnRenamed("src", "node")
        )
        stale = labels
        labels = barrier(
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias("label"),
            )
        )
        # the new round's eager checkpoint has materialized; the previous
        # round's blocks are garbage by construction — release them NOW
        # instead of accumulating one copy per round for the session
        release_barrier(stale)
        cur = labels.agg(F.sum("label")).collect()[0][0]
        if cur == prev:
            break
        prev = cur
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_rep"))


def grouped_components(
    pairs: DataFrame,
    group_col: str,
    left_col: str = "doc1",
    right_col: str = "doc2",
) -> DataFrame:
    """Connected components for edge sets PRE-PARTITIONED by a group key
    components cannot cross (e.g. SemDeDup's within-cluster edges: both
    endpoints of every edge share a cluster by construction, so no
    component spans clusters). Returns the same (doc_id, cluster_rep =
    min id in component) contract as `connected_components`, computed
    EXACTLY — no round limit.

    PRECONDITION (unchecked — checking requires a full extra shuffle):
    every node appears in edges of exactly ONE group. SemDeDup satisfies
    it by construction (a vector is assigned to one centroid before the
    within-cluster pair join). A violating edge set would emit the same
    doc_id once PER group it appears in, with per-group cluster_rep
    values — use `connected_components` for edge sets without the
    partition guarantee. ``left_col`` and ``right_col`` must share a
    dtype (validated; the output id columns take that type).

    Scale shape vs the iterative loop: ONE shuffle of the edges on the
    group key and one Arrow-batched union-find pass per group, fully
    LAZY — no per-round localCheckpoint, no per-round convergence
    collect, no repeated reshuffling of the edge set (the global loop
    pays rounds x (join + agg) jobs and a driver sync per round). The
    trade is per-task memory O(edges in one group), which the caller
    must bound — SemDeDup's max_cluster_size guard is exactly that
    bound. For a global (unpartitionable) edge set, use
    `connected_components`.
    """
    import pandas as pd

    dtypes = dict(pairs.dtypes)
    id_type = dtypes[left_col]
    if dtypes[right_col] != id_type:
        raise ValueError(
            f"grouped_components: {left_col} is {id_type} but {right_col} "
            f"is {dtypes[right_col]} — endpoint columns must share a dtype "
            f"(the output doc_id/cluster_rep columns take it)"
        )

    def uf(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf[left_col], pdf[right_col]):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id keeps the representative invariant
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        nodes = list(parent)
        return pd.DataFrame(
            {"doc_id": nodes, "cluster_rep": [find(n) for n in nodes]}
        )

    return (
        pairs.select(group_col, left_col, right_col)
        .groupBy(group_col)
        .applyInPandas(uf, f"doc_id {id_type}, cluster_rep {id_type}")
    )


def contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    k: int = 8,
    min_ratio: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark decontamination: for every (train doc, benchmark doc)
    pair sharing k-word shingles, the fraction of the benchmark's
    shingles present in the train doc — the standard n-gram-overlap
    contamination test run before training on a scraped corpus.

    Shape at 100 TB: the benchmark side is tiny (eval suites are
    thousands of docs), so its shingle table broadcasts and the train
    corpus pays ONE scan + a map-side hash join, no shuffle of the
    corpus; the (train,bench) aggregation shuffles only matched pairs.
    Shingles are distinct per doc (word_shingles), so count(*) per pair
    IS the intersection size.
    """
    tsh = shingle_table(train, text_col, id_col, k).withColumnRenamed("doc_id", "train_doc")
    bsh = shingle_table(bench, text_col, id_col, k).withColumnRenamed("doc_id", "bench_doc")
    bsize = bsh.groupBy("bench_doc").agg(F.count("*").alias("bench_shingles"))
    if broadcast_bench:
        bsh, bsize = F.broadcast(bsh), F.broadcast(bsize)
    shared = (
        tsh.join(bsh, "shingle")
        .filter(F.col("train_doc") != F.col("bench_doc"))
        .groupBy("train_doc", "bench_doc")
        .agg(F.count("*").cast("long").alias("shared_shingles"))
    )
    return (
        shared.join(bsize, "bench_doc")
        .withColumn(
            "contamination",
            F.col("shared_shingles").cast("double") / F.col("bench_shingles").cast("double"),
        )
        .filter(F.col("contamination") >= min_ratio)
        .select(
            "train_doc", "bench_doc", "shared_shingles",
            F.col("bench_shingles").cast("long").alias("bench_shingles"),
            "contamination",
        )
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    hash_mode: str = "md5",
) -> DataFrame:
    """Exact substring deduplication with cleaned-text output (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better" — the ExactSubstr pass), k-gram formulation: every k-token
    gram occurring ≥ ``min_count`` times corpus-wide (across OR within
    documents, like the paper's suffix-array match) marks its token
    span ``[pos, pos+k)`` as duplicated; a document's cleaned text is
    its remaining tokens rejoined. Any shared run of ≥ k tokens is
    covered exactly by its constituent duplicated k-grams, so removed
    spans coincide with the paper's ≥-k-token duplicated substrings
    over the whitespace-token alphabet.

    Returns (id_col, cleaned_text, n_removed_tokens, n_removed_chars).
    ``cleaned_text`` is in normalized form (lowercase, collapsed
    whitespace) — the form hashing/dedup pipelines feed downstream.

    Scale shape: grams are built in-row with the staged builder (one
    split per doc, O(m·k) char work), then ONE shuffle on the gram hash
    where a count window marks duplicated occurrences — no self-join, so
    the gram table is scanned once. Removed positions fold back per doc
    as a sorted int array; reassembly is an in-row indexed filter (the
    per-token membership probe is O(|removed|) — bounded by doc length,
    never corpus size). ``hash_mode="md5"`` keeps oracle bit-parity;
    pass ``"xxhash64"`` at corpus scale for 8-byte shuffle keys (same
    spans unless a 64-bit collision, ~n²/2⁶⁵).
    """
    if hash_mode == "md5":
        hfn = F.md5
    elif hash_mode == "xxhash64":
        hfn = lambda g: F.xxhash64(g)  # noqa: E731
    else:
        raise ValueError(f"hash_mode must be 'md5' or 'xxhash64', got {hash_mode!r}")

    # _spread: the gram build multiplies rows ~doc-length× with a hash
    # per gram — a single-split source (small staging file, checkpointed
    # stage boundary) would serialize it on one core (the 50x "18-min
    # tokenize" artifact); many-file real tables skip the shuffle.
    # Explode POSITIONS, not a pre-built gram array: Generate re-evaluates
    # an inlined array expression per output element, turning an O(m·k)
    # gram build into O(m²·k) (measured 23.7s -> 0.4s at sf0.1). The
    # per-row slice+join after the explode runs exactly once per gram.
    w = _spread(df.select(id_col, text_col)).withColumn(
        "_w", F.split(normalized_text(text_col), " ")
    )
    occ = w.select(
        id_col,
        "_w",
        # size < k guard: Spark's sequence(1, 0) is DESCENDING [1, 0],
        # which would emit pos=0 and crash slice — short docs get no grams
        F.posexplode(
            F.expr(
                f"CASE WHEN size(_w) >= {k} THEN sequence(1, size(_w) - {k - 1}) "
                f"ELSE CAST(array() AS array<int>) END"
            )
        ).alias("_i", "pos"),
    ).select(
        id_col,
        "pos",
        hfn(F.expr(f"array_join(slice(_w, pos, {k}), ' ')")).alias("_h"),
    )
    # one shuffle: window count over the gram hash replaces the usual
    # groupBy + self-join (which would re-scan the gram table)
    dup_starts = occ.withColumn(
        "_c", F.count("*").over(Window.partitionBy("_h"))
    ).filter(F.col("_c") >= min_count)
    removed = dup_starts.groupBy(id_col).agg(
        F.array_sort(
            F.array_distinct(
                F.flatten(F.collect_list(F.expr(f"sequence(pos, pos + {k - 1})")))
            )
        ).alias("_rm")
    )

    base = df.select(id_col, normalized_text(text_col).alias("_nt"))
    joined = base.join(removed, id_col, "left")
    words = F.split(F.col("_nt"), " ")
    kept = F.filter(
        words,
        lambda w, i: ~F.coalesce(F.array_contains(F.col("_rm"), i + 1), F.lit(False)),
    )
    cleaned = F.array_join(kept, " ")
    return joined.select(
        id_col,
        cleaned.alias("cleaned_text"),
        (F.size(words) - F.size(kept)).cast("long").alias("n_removed_tokens"),
        (F.length("_nt") - F.length(cleaned)).cast("long").alias("n_removed_chars"),
    )
