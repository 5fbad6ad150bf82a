"""Embedding similarity search over an `array<float>` column.

- **Brute-force cosine top-k** — the correctness baseline: query set ×
  corpus join, dot product as a sequential left-fold (`aggregate` over
  `zip_with`) so the summation order — and therefore the IEEE result —
  is identical to the oracle's list_reduce.
- **IVF top-k** — the scale path: a coarse quantizer (here the `label`
  cluster id; in production k-means centroids) restricts each probe to
  its cell, turning the O(N·Q) cross join into a partition-pruned
  equi-join. Same shape as FAISS IVF-Flat, expressed relationally.
- **Embedding near-dup pairs** — cosine ≥ τ within cells: the
  embedding-space analog of MinHash dedup.

At 100 TB the corpus side is hash-partitioned by cell id; probes broadcast.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from financedatabase_spark.operators.dedup_docs import _spread


def _vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


# --- vector arithmetic as SQL text -------------------------------------------
#
# One builder per quantity, each over SQL-expression operands and rendered
# as TEXT for `F.expr`/`selectExpr`: every Column-API operator is a Py4J
# round-trip, and these expressions sit inside nested lambdas (the Column
# form of ivf_pq_topk's plan BUILD alone was ~4200 gateway calls, r15).
# Parsed once, the text is the same Add/Multiply/Get or ArrayAggregate
# tree. ``n=None`` renders the dynamic-length left-fold
# (aggregate(zip_with…)); ``n=k`` — a STATICALLY KNOWN length (PQ subspace
# width, declared embedding dim) — unrolls the identical summation into
# 0.0D + get(a,0)*get(b,0) + … The fold's lambda is evaluated interpreted
# per element (higher-order function bodies don't codegen); the unrolled
# chain is plain arithmetic inside WholeStageCodegen — measured 2-4x on
# the PQ hot paths (r15). `get` (0-based, NULL out of bounds) keeps the
# fold's NULL result for a short array, so callers must pass the true
# fixed length. Both forms sum from 0.0D in index order — the oracle's
# list_reduce order, so every double is bit-identical to DuckDB. Pinned
# against a pure-Python IEEE replay by
# tests/test_operators_misc.py::test_pq_sql_text_builders_exact.


def _dot_sql(a: str, b: str, n: int | None = None) -> str:
    """<a, b> as a sequential left-fold from 0.0D."""
    if n is None:
        return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    terms = " + ".join(f"get({a}, {i}) * get({b}, {i})" for i in range(n))
    return f"(0.0D + {terms})" if n else "0.0D"


def _l2_sql(a: str, n: int | None = None) -> str:
    """||a||: sqrt of the self-dot summed in `_dot_sql`'s order."""
    if n is None:
        return f"sqrt(aggregate(transform({a}, x -> x * x), 0.0D, (acc, x) -> acc + x))"
    return f"sqrt({_dot_sql(a, a, n)})"


def _cosine_sql(a: str, b: str, n: int | None = None) -> str:
    """dot / (l2(a) * l2(b)), in that operand order."""
    return f"({_dot_sql(a, b, n)} / ({_l2_sql(a, n)} * {_l2_sql(b, n)}))"


def _sq_l2_units_sql(
    a: str, b: str, n: int | None = None, aa: str | None = None, bb: str | None = None
) -> str:
    """Squared L2 distance in exact 1e-6 integer units, via the
    dot-product identity ||a-b||² = <a,a> + <b,b> - 2<a,b> — three
    left-fold dots in a fixed combination order, so DuckDB reproduces
    the double bit-for-bit before the single quantization
    floor(d2 * 1e6 + 0.5). ``aa``/``bb``: SQL for an already-computed
    <a,a>/<b,b> (hoisted per row or per codebook entry) in place of the
    rendered self-dot."""
    aa = aa if aa is not None else _dot_sql(a, a, n)
    bb = bb if bb is not None else _dot_sql(b, b, n)
    return f"CAST(floor(({aa} + {bb} - 2.0D * {_dot_sql(a, b, n)}) * 1E6 + 0.5D) AS BIGINT)"


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
    vectorized: bool = False,
    block_rows: int = 200_000,
) -> DataFrame:
    """Brute-force top-k: every query scores the whole corpus.

    Scores are rounded (default 1e-6) before ranking so float ties break
    identically across engines; rank ties break on corpus_id. The
    default path is the bit-exact sequential-fold baseline (this IS the
    ground-truth operator, so exactness outranks speed); pass
    ``vectorized=True`` for scalable exact brute force — the whole
    corpus becomes one logical cell of the blocked-matmul scorer, split
    into ``block_rows`` tasks whose per-block top-k lists merge in the
    final window."""
    if vectorized:
        q = queries.select(F.col(query_id), F.lit(0).alias("_cell"), _vec(vec_col).alias("_qv"))
        c = _spread(corpus).select(
            F.col(corpus_id), F.lit(0).alias("_cell"), _vec(vec_col).alias("_cv")
        )
        cand = _blocked_candidates(q, c, int(k), query_id, corpus_id, round_digits, block_rows)
    else:
        q = queries.select(F.col(query_id), _vec(vec_col).alias("_qv"))
        cand = _fold_candidates(q, corpus, query_id, corpus_id, vec_col)
    return _rank_topk(cand, int(k), query_id, corpus_id, round_digits)


def hard_negative_mining(
    anchors: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    anchor_id: str = "anchor_id",
    corpus_id: str = "corpus_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    round_digits: int = 6,
    min_score: float | None = None,
    max_score: float | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/SBERT
    corpus prep step): for each anchor, the ``k`` most-similar corpus
    vectors whose ``label_col`` DIFFERS from the anchor's — the
    negatives that actually move a contrastive loss, as opposed to
    random in-batch ones. ``min_score``/``max_score`` carve the
    optional SEMI-HARD band: a floor drops easy negatives (already far
    away), a ceiling drops likely false negatives (so close they are
    probably unlabeled positives). Scores are cosine rounded to
    ``round_digits`` before banding and ranking, so float ties break
    identically across engines; rank ties break on corpus_id.

    Degenerate rows are excluded up front: ZERO-NORM embeddings (which
    would score NaN — and Spark sorts NaN above every number, so they'd
    otherwise rank as the "hardest" negatives and pass the min_score
    band, since NaN >= x is true here) are filtered on BOTH sides, and
    NULL labels drop their rows too (the ``!=`` join predicate is
    NULL-rejecting — an unlabeled anchor has no defined negatives, an
    unlabeled corpus row can't be proven a negative).

    Output: (anchor_id, corpus_id, neg_label, score, rank).

    Scale shape: the anchor set is the small side (a mining run uses
    thousands of anchors against the full corpus), so it broadcasts —
    the corpus is scored map-side in one pass (BroadcastNestedLoopJoin
    with the label-mismatch predicate inside the join condition, norms
    hoisted per row), then per-anchor top-k via window. No corpus
    shuffle besides the rank exchange on anchor_id.
    """
    a = (
        anchors.select(
            F.col(anchor_id), F.col(label_col).alias("_al"), _vec(vec_col).alias("_qv")
        )
        .withColumn("_qn", F.expr(_l2_sql("_qv")))
        .filter(F.col("_qn") > 0)
    )
    c = (
        _spread(corpus)
        .select(
            F.col(corpus_id), F.col(label_col).alias("neg_label"), _vec(vec_col).alias("_cv")
        )
        .withColumn("_cn", F.expr(_l2_sql("_cv")))
        .filter(F.col("_cn") > 0)
    )
    scored = (
        c.join(F.broadcast(a), F.col("_al") != F.col("neg_label"))
        .select(
            anchor_id,
            corpus_id,
            "neg_label",
            F.expr(
                f"round({_dot_sql('_qv', '_cv')} / (_qn * _cn), {round_digits})"
            ).alias("score"),
        )
    )
    if min_score is not None:
        scored = scored.filter(F.col("score") >= F.lit(float(min_score)))
    if max_score is not None:
        scored = scored.filter(F.col("score") <= F.lit(float(max_score)))
    w = Window.partitionBy(anchor_id).orderBy(F.col("score").desc(), F.col(corpus_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(anchor_id, corpus_id, "neg_label", "score", F.col("rank").cast("long").alias("rank"))
    )


#: Plan-stats corpus size above which `vectorized="auto"` picks the
#: blocked-matmul path. The Arrow cogroup + per-block top-k merge carry
#: fixed stage overhead that only pays once BLAS throughput dominates —
#: measured crossover ≈ tens of MB of vectors (~50x the test corpus,
#: SCALE.md: 1.1x at 50x, wins 0.44x at 100x). Below it the
#: pure-Catalyst fold is faster AND bit-identical to the oracle.
AUTO_VECTORIZE_BYTES = 24 * 1024 * 1024


def _resolve_vectorized(vectorized, corpus: DataFrame) -> bool:
    """Size-based fold/blocked switch for ``vectorized="auto"``: reads
    Catalyst's plan-stats size estimate (file sizes for scan-backed
    frames) — no job is triggered."""
    if vectorized is True or vectorized is False:
        return vectorized
    if vectorized != "auto":
        # A typo like "fold"/"false" must not silently pick a path.
        raise ValueError(
            f"vectorized must be True, False, or 'auto'; got {vectorized!r}"
        )
    try:
        raw = corpus._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        size = int(raw if isinstance(raw, int) else raw.toString())
    except Exception:
        return True  # unknown size: assume big (the scale-safe default)
    return size > AUTO_VECTORIZE_BYTES


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    round_digits: int | None = 6,
    vectorized: bool | str = "auto",
    block_rows: int = 200_000,
) -> DataFrame:
    """IVF-style ANN: probe only the query's cell (coarse-quantizer
    bucket) — the FAISS IVF-Flat shape.

    Default path (``vectorized=True``): cells are cogrouped
    (queries-of-cell × corpus-of-cell land in the same Arrow batch) and
    scored as ONE numpy matmul per cell block — the per-pair work never
    leaves the BLAS kernel, and the shuffle moves each corpus vector
    once (to its cell) instead of one row per (query, candidate) pair.
    Corpus cells larger than ``block_rows`` are hash-split into bounded
    sub-blocks with the queries replicated per block, and the per-block
    top-k lists merge in a final window over Q·k·blocks rows — so task
    memory is bounded regardless of cell skew. At 100 TB: corpus
    hash-partitions on (cell, block), codebook-sized metadata
    broadcasts, per-task state is one block.

    ``vectorized=False`` keeps the pure-Catalyst equi-join + sequential
    fold scoring (`_dot_sql`) whose summation order is bit-identical to the
    DuckDB oracle — the correctness baseline. The vectorized path's raw
    scores can differ by ~1 ULP (pairwise vs sequential summation); the
    returned score is rounded (``round_digits``) on the Spark side so
    both paths agree on every realistic input.

    ``vectorized="auto"`` (default) picks fold below
    `AUTO_VECTORIZE_BYTES` of corpus and blocked above — both paths are
    oracle-identical after rounding, so the switch is purely a cost
    decision.
    """
    vectorized = _resolve_vectorized(vectorized, corpus)
    q = queries.select(F.col(query_id), F.col(cell_col).alias("_cell"), _vec(vec_col).alias("_qv"))
    if vectorized:
        c = _spread(corpus).select(
            F.col(corpus_id), F.col(cell_col).alias("_cell"), _vec(vec_col).alias("_cv")
        )
        cand = _blocked_candidates(q, c, int(k), query_id, corpus_id, round_digits, block_rows)
    else:
        cand = _fold_candidates(q, corpus, query_id, corpus_id, vec_col, cell_col)
    return _rank_topk(cand, int(k), query_id, corpus_id, round_digits)


def _blocked_candidates(
    q: DataFrame,
    c: DataFrame,
    k: int,
    query_id: str,
    corpus_id: str,
    round_digits: int | None,
    block_rows: int,
) -> DataFrame:
    """Cogrouped numpy scoring: q(query_id, _cell, _qv) probes
    c(corpus_id, _cell, _cv) cell-by-cell, one matmul per bounded block
    (corpus cells above ``block_rows`` hash-split, queries replicated
    per block). Emits the per-(query, block) top-k candidate rows with
    RAW scores; callers rank/merge with `_rank_topk`."""
    import numpy as np
    import pandas as pd

    sizes = c.groupBy("_cell").agg(
        F.ceil(F.count("*") / F.lit(block_rows)).cast("int").alias("_nblk")
    )
    cb = (
        c.join(F.broadcast(sizes), "_cell")
        .withColumn("_blk", F.pmod(F.hash(F.col(corpus_id)), F.col("_nblk")))
        .drop("_nblk")
    )
    sizes_q = sizes.select("_cell", F.col("_nblk").alias("_nblk_q"))
    qb = (
        q.join(F.broadcast(sizes_q), "_cell")
        .withColumn("_blk", F.explode(F.sequence(F.lit(0), F.col("_nblk_q") - 1)))
        .drop("_nblk_q")
    )
    kk, qid, cid = int(k), query_id, corpus_id
    qid_t = dict(q.dtypes)[query_id]
    cid_t = dict(c.dtypes)[corpus_id]

    def score_block(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(qpdf) or not len(cpdf):
            return pd.DataFrame({qid: [], cid: [], "_raw": []})
        Q = np.stack(qpdf["_qv"].to_numpy()).astype(np.float64)
        C = np.stack(cpdf["_cv"].to_numpy()).astype(np.float64)
        S = (Q @ C.T) / np.outer(
            np.sqrt((Q * Q).sum(axis=1)), np.sqrt((C * C).sum(axis=1))
        )
        # selection uses the same HALF_UP rounding (at round_digits) Spark
        # applies to the emitted score, so block top-k == global-rank top-k
        if round_digits:
            scale = 10.0 ** int(round_digits)
            R = np.copysign(np.floor(np.abs(S) * scale + 0.5), S) / scale
        else:
            R = S
        cids = cpdf[cid].to_numpy()
        n = min(kk, len(cids))
        out_q, out_c, out_s = [], [], []
        for i in range(len(qpdf)):
            order = np.lexsort((cids, -R[i]))[:n]
            out_q.extend([qpdf[qid].iat[i]] * n)
            out_c.extend(cids[order])
            out_s.extend(S[i][order])
        return pd.DataFrame({qid: out_q, cid: out_c, "_raw": out_s})

    return (
        qb.groupBy("_cell", "_blk")
        .cogroup(cb.groupBy("_cell", "_blk"))
        .applyInPandas(score_block, f"{qid} {qid_t}, {cid} {cid_t}, _raw double")
    )


def _rank_topk(
    candidates: DataFrame,
    k: int,
    query_id: str,
    corpus_id: str,
    round_digits: int | None,
) -> DataFrame:
    """Round raw candidate scores engine-side and take the global
    per-query top-k (score desc, corpus_id asc tie-break)."""
    score = F.round(F.col("_raw"), round_digits) if round_digits else F.col("_raw")
    scored = candidates.select(query_id, corpus_id, score.alias("score"))
    w = Window.partitionBy(query_id).orderBy(F.col("score").desc(), F.col(corpus_id).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "score", F.col("rank").cast("long").alias("rank"))
    )


def _fold_candidates(
    q: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    cell_col: str | None = None,
) -> DataFrame:
    """Pure-Catalyst scoring with the sequential-fold cosine (the
    oracle's list_reduce summation order, bit-identical):
    q(query_id, [_cell,] _qv) scores the corpus vectors of its own cell
    (``_cell`` equi-join on ``cell_col``) or, with ``cell_col=None``,
    the whole corpus. Emits (query_id, corpus_id, _raw) like
    `_blocked_candidates`; callers rank with `_rank_topk`. Norms are
    per-ROW quantities, computed once on each side ahead of the join
    instead of per PAIR — identical IEEE result (the division still sees
    l2(q)*l2(c) in the same operand order) at a third of the per-pair
    array work."""
    q = q.withColumn("_qn", F.expr(_l2_sql("_qv")))
    cell = [] if cell_col is None else [F.col(cell_col).alias("_ccell")]
    c = _spread(corpus).select(
        F.col(corpus_id), *cell, _vec(vec_col).alias("_cv")
    ).withColumn("_cn", F.expr(_l2_sql("_cv")))
    pairs = (
        q.crossJoin(c) if cell_col is None else q.join(c, F.col("_cell") == F.col("_ccell"))
    )
    return pairs.select(
        query_id,
        corpus_id,
        F.expr(f"{_dot_sql('_qv', '_cv')} / (_qn * _cn)").alias("_raw"),
    )


def cell_centroids(
    df: DataFrame, cell_col: str = "label", vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Element-wise per-cell centroid — the coarse quantizer's codebook,
    built in-engine with exact integer-unit means (cross-engine
    deterministic). Output: (cell, cvec).

    ``dim=None`` (width not statically known): posexplode to
    (cell, pos, x), mean per (cell, pos), re-assemble position-sorted
    vectors — one shuffle on (cell, pos) carrying a row PER ELEMENT (a
    dim× row amplification of the corpus), one on cell.

    ``dim=k`` (r15, the corpus's uniform vector width): per-position
    long-sum/count aggregates in ONE wide groupBy — partial (map-side)
    aggregation compresses each scan task to n_cells rows of 2·dim
    longs, so the single shuffle moves O(cells × dim) bytes per task
    REGARDLESS of corpus size (guide §2.3 "aggregate before you
    shuffle"), vs the explode path shuffling every element of every
    vector. Bit-identical to the explode path for width-``dim``
    corpora: the per-element unit expression is the same, long sums are
    associative/commutative, and the final double division keeps the
    same operand order ((sum/1e6)/count)."""
    if dim is not None:
        # SQL-string expressions, not per-position Column DSL: 2·dim
        # nested Column builds cost a Py4J roundtrip apiece (measured
        # 1.27 s plan-BUILD at dim=64 vs 0.15 s for the parsed form —
        # same analyzed tree; the same lesson as the minhash/simhash
        # signature exprs). `cast(get(v,i) as double)` ≡ element i of
        # `_vec` (element-wise double cast).
        q = f"`{vec_col}`"
        sums = [
            f"sum(cast(floor(cast(get({q}, {i}) as double) * 1e6 + 0.5D)"
            f" as bigint)) AS _s{i}"
            for i in range(dim)
        ]
        # count of vectors holding position i (size > i), matching the
        # explode path's count(*) per (cell, pos) — null ELEMENTS still
        # count (posexplode emits their row), only short vectors don't
        cnts = [
            f"count(CASE WHEN size({q}) > {i} THEN 1 END) AS _n{i}"
            for i in range(dim)
        ]
        agg = df.groupBy(F.col(cell_col).alias("cell")).agg(
            *[F.expr(e) for e in sums + cnts]
        )
        cvec = "array(" + ", ".join(
            f"cast(_s{i} as double) / 1e6 / _n{i}" for i in range(dim)
        ) + ")"
        return agg.selectExpr("cell", f"{cvec} AS cvec")
    flat = _spread(df).select(
        F.col(cell_col).alias("cell"), F.posexplode(_vec(vec_col)).alias("pos", "x")
    )
    cmeans = flat.groupBy("cell", "pos").agg(
        (F.sum(F.floor(F.col("x") * F.lit(1e6) + F.lit(0.5)).cast("long")).cast("double") / F.lit(1e6) / F.count("*")).alias("m")
    )
    return (
        cmeans.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm"))
        .select("cell", F.transform(F.col("_pm"), lambda s: s.getField("m")).alias("cvec"))
    )


def ivf_multiprobe_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    round_digits: int | None = 6,
    vectorized: bool | str = "auto",
    block_rows: int = 200_000,
) -> DataFrame:
    """Multi-probe IVF ANN: each query visits its ``n_probe`` nearest
    coarse-quantizer cells instead of one — the FAISS nprobe recall knob.
    The codebook (``centroids``: cell, cvec — tiny, n_cells x dim) is
    collected once and inlined as one literal, probe selection is an
    in-row top-n over it (`_nearest_cells`), and the corpus join stays a
    cell equi-join, so scanned volume grows linearly in n_probe while the
    plan shape — partition-prunable on a cell-partitioned corpus — is
    unchanged from single-probe `ivf_topk`. Scoring itself runs on the
    same blocked-matmul cogroup path as `ivf_topk` (``vectorized=False``
    keeps the sequential-fold Catalyst baseline; ``"auto"`` switches on
    corpus plan-stats size like `ivf_topk`)."""
    vectorized = _resolve_vectorized(vectorized, corpus)
    q = queries.select(F.col(query_id), _vec(vec_col).alias("_qv"))
    probes = _nearest_cells(q, "_qv", centroids, n_probe, round_digits=round_digits).select(
        query_id, "_qv", "_cell"
    )
    # cells partition the corpus, so no (query, doc) pair repeats across probes
    if vectorized:
        c = _spread(corpus).select(
            F.col(corpus_id), F.col(cell_col).alias("_cell"), _vec(vec_col).alias("_cv")
        )
        cand = _blocked_candidates(
            probes, c, int(k), query_id, corpus_id, round_digits, block_rows
        )
    else:
        cand = _fold_candidates(probes, corpus, query_id, corpus_id, vec_col, cell_col)
    return _rank_topk(cand, int(k), query_id, corpus_id, round_digits)


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    threshold: float = 0.95,
    round_digits: int | None = 6,
    vectorized: bool = True,
    block_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by cell id so the
    pair join is within-cell only (the LSH/IVF blocking trick applied to
    dedup).

    Default path (``vectorized=True``): each cell hash-splits into
    blocks of ≤ ``block_rows`` rows and every block PAIR (i ≤ j)
    cogroups into one Arrow batch scored as a single numpy matmul —
    triangle for i == j, full bipartite for i < j — so the pair space
    partitions exactly once with no interpreted per-pair fold, and task
    memory is bounded by two blocks regardless of cell skew. Replication
    cost is B copies per row for a B-block cell (B = 1 — no replication
    — until a cell exceeds ``block_rows``). ``vectorized=False`` keeps
    the Catalyst pair join + sequential-fold dot as the bit-exact
    baseline; both paths round engine-side and agree on every realistic
    input (pytest-gated equality)."""
    if vectorized:
        return _near_dups_blocked(
            df, id_col, vec_col, cell_col, threshold, round_digits, block_rows
        )
    v = _spread(df).select(
        F.col(id_col), F.col(cell_col).alias("_cell"), _vec(vec_col).alias("_v")
    ).withColumn("_n", F.expr(_l2_sql("_v")))
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(
        b,
        (F.col("a._cell") == F.col("b._cell")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id1"),
        F.col(f"b.{id_col}").alias("id2"),
        F.expr(f"{_dot_sql('a._v', 'b._v')} / (a._n * b._n)").alias("_raw"),
    )
    score = F.round(F.col("_raw"), round_digits) if round_digits else F.col("_raw")
    return pairs.select("id1", "id2", score.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def _near_dups_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cell_col: str,
    threshold: float,
    round_digits: int | None,
    block_rows: int,
) -> DataFrame:
    """Block-pair cogrouped near-dup scoring (see `embedding_near_dups`).
    A row in block b of a B-block cell appears as the LEFT side of block
    pairs (b, j≥b) and the RIGHT side of (i≤b, b); the (i, j) groups
    partition the within-cell pair space exactly once."""
    import numpy as np
    import pandas as pd

    v = _spread(df).select(
        F.col(id_col), F.col(cell_col).alias("_cell"), _vec(vec_col).alias("_v")
    )
    sizes = v.groupBy("_cell").agg(
        F.ceil(F.count("*") / F.lit(block_rows)).cast("int").alias("_nblk")
    )
    vb = (
        v.join(F.broadcast(sizes), "_cell")
        .withColumn("_b", F.pmod(F.hash(F.col(id_col)), F.col("_nblk")))
    )
    # fully alias each cogroup side so no attribute id is shared between
    # them (Spark's ambiguous-self-join check rejects shared lineage)
    left = vb.withColumn("_j", F.explode(F.sequence(F.col("_b"), F.col("_nblk") - 1))).select(
        F.col(id_col).alias("_lid"),
        F.col("_cell").alias("_lcell"),
        F.col("_v").alias("_lv"),
        F.col("_b").alias("_i"),
        F.col("_j"),
    )
    right = vb.withColumn("_i", F.explode(F.sequence(F.lit(0), F.col("_b")))).select(
        F.col(id_col).alias("_rid"),
        F.col("_cell").alias("_rcell"),
        F.col("_v").alias("_rv"),
        F.col("_i"),
        F.col("_b").alias("_j"),
    )
    id_t = dict(df.dtypes)[id_col]
    tau, rd = float(threshold), round_digits

    def score_pair_block(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id1": [], "id2": [], "_raw": []})
        if not len(lpdf) or not len(rpdf):
            return empty
        A = np.stack(lpdf["_lv"].to_numpy()).astype(np.float64)
        B = np.stack(rpdf["_rv"].to_numpy()).astype(np.float64)
        S = (A @ B.T) / np.outer(
            np.sqrt((A * A).sum(axis=1)), np.sqrt((B * B).sum(axis=1))
        )
        R = np.copysign(np.floor(np.abs(S) * (10**rd) + 0.5), S) / (10**rd) if rd else S
        ida = lpdf["_lid"].to_numpy()
        idb = rpdf["_rid"].to_numpy()
        # same-id pairs only collide on the diagonal block; id1 < id2
        mask = (R >= tau) & (ida[:, None] != idb[None, :])
        ii, jj = np.nonzero(mask)
        if not len(ii):
            return empty
        a, b = ida[ii], idb[jj]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        out = pd.DataFrame({"id1": lo, "id2": hi, "_raw": S[ii, jj]})
        # diagonal blocks see each unordered pair twice (both triangles)
        return out.drop_duplicates(subset=["id1", "id2"])

    pairs = (
        left.groupBy("_lcell", "_i", "_j")
        .cogroup(right.groupBy("_rcell", "_i", "_j"))
        .applyInPandas(score_pair_block, f"id1 {id_t}, id2 {id_t}, _raw double")
    )
    score = F.round(F.col("_raw"), round_digits) if round_digits else F.col("_raw")
    return pairs.select("id1", "id2", score.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def scalar_quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Int8 scalar quantization — the embedding storage-scale op: per-
    dimension [min, max] codebooks (an exact, tiny aggregate broadcast
    back) map each float to a uint8 code, cutting embedding bytes 4x.
    At 100 TB embeddings dominate table size, so this is what a corpus
    actually stores; dequantized recall loss is bounded by (hi-lo)/255
    per dimension (pytest-gated). Output (id, pos, code) is all-integer
    — deterministic on any engine since the code formula is one
    element-wise float expression with a fixed operand order."""
    flat = _spread(df).select(
        F.col(id_col), F.posexplode(_vec(vec_col)).alias("pos", "x")
    )
    rng = flat.groupBy("pos").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    return flat.join(F.broadcast(rng), "pos").select(
        id_col,
        "pos",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.floor((F.col("x") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 255)
        )
        .cast("int")
        .alias("code"),
    )


def dequantize_int8(codes: DataFrame, rng: DataFrame) -> DataFrame:
    """Inverse map: code -> lo + code/255*(hi-lo) (bucket lower edge)."""
    return codes.join(F.broadcast(rng), "pos").withColumn(
        "x_hat",
        F.col("lo") + F.col("code") / F.lit(255.0) * (F.col("hi") - F.col("lo")),
    )


def kmeans_refine(
    df: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Lloyd refinement of the IVF coarse quantizer — the iterative
    k-means loop FAISS runs at index-train time, expressed as ``iters``
    chained DataFrame stages (spherical variant: cosine assignment,
    mean-vector update).

    Every iteration collects the tiny codebook once and inlines it as one
    literal (see "literal packing" below), assigns each vector to its
    nearest centroid in-row (`_nearest_cells`: no join, no exchange of
    the corpus), and recomputes the codebook with `cell_centroids` over
    the assignment — one (cell, pos) shuffle of exploded dims. The
    corpus is never shuffled k-fold, so the loop scales to 100 TB with
    per-iteration cost linear in corpus bytes.
    Fully deterministic across engines: decimal-exact centroid means,
    1e-6-rounded similarities, cell-asc tie-break. Empty cells drop out
    of the codebook (standard Lloyd behavior). Returns the final
    assignment (id, assigned_label, sim)."""
    v = _spread(df).select(F.col(id_col), _vec(vec_col).alias("_v"))
    assign = _nearest_cells(v, "_v", cell_centroids(df, cell_col, vec_col), 1)
    for _ in range(iters - 1):
        assign = _nearest_cells(v, "_v", cell_centroids(assign, "_cell", "_v"), 1)
    return assign.select(
        id_col, F.col("_cell").alias("assigned_label"), F.col("_csim").alias("sim")
    )


# --- literal packing for tiny centroid and codebook frames ------------------
#
# A centroid frame (n_cells rows) or PQ codebook frame (m × k_sub rows)
# reaches every row as ONE literal SQL expression: the frame is collected
# once (`_rows`, kept on the frame object) and rendered as an array/map
# literal that Catalyst constant-folds to a single Literal. The plan has
# no crossJoin, no BroadcastExchange job and no single-partition agg
# exchange for it, and the corpus side stays a pure projection (REPOSE's
# point: the tiny index side reaches every partition without a
# re-shuffle). Every key dtype with an exact literal form renders
# (`_klit`); any other raises TypeError, and an empty frame gives a typed
# empty array/map. Exactness: values round-trip driver-side as Python
# floats (IEEE doubles) rendered with repr() — the shortest string that
# reparses to the same double. PQ entry self-dots are rendered as
# constant-foldable arithmetic EXPRESSIONS in the original fold order;
# centroid norms are folded driver-side in the same order (`_norm`),
# because their unfolded expressions (dim terms per centroid) held
# enough plan memory at 500 cells x 64 dims to fail a later broadcast
# on a default 1 GB driver. Ranking over a packed frame
# (`_nearest_cells`, `pq_encode`'s argmin) leads every ordering struct
# with a `_nul` flag — the score IS NULL — because array_min/array_sort
# order a struct's NULL field FIRST: a NULL score (a NULL, NULL-element
# or short centroid or entry) ranks LAST, after every real one, as the
# oracle's ORDER BY … DESC / ASC NULLS LAST does.


def _rows(df: DataFrame, *cols: str) -> list:
    """``df.select(*cols).collect()``, once per frame object: the rows
    stay on the frame (as `session.values_dim` keeps `_literal_rows`), so
    every literal builder over the same tiny frame shares one job."""
    memo = df.__dict__.setdefault("_collected_rows", {})
    if cols not in memo:
        memo[cols] = df.select(*cols).collect()
    return memo[cols]


def _dlit(x) -> str:
    """Exact SQL double literal for a collected float."""
    if x is None:
        return "CAST(NULL AS DOUBLE)"
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _darr(xs) -> str:
    if xs is None:
        return "CAST(NULL AS ARRAY<DOUBLE>)"
    return "array(" + ", ".join(_dlit(x) for x in xs) + ")"


def _klit(v, sql_type: str) -> str:
    """Exact typed SQL literal for a collected key (cell / sub / cid)
    value. TypeError for a dtype without one — checked before the NULL
    case, so an empty or all-NULL frame fails the same way."""
    if sql_type not in (
        "tinyint", "smallint", "int", "bigint", "string", "double", "float", "boolean", "date"
    ) and not sql_type.startswith("decimal("):
        raise TypeError(
            f"key dtype {sql_type!r} has no exact SQL literal (supported: integer "
            "types, string, double, float, boolean, date, decimal)"
        )
    if v is None:
        return f"CAST(NULL AS {sql_type})"
    if sql_type == "string":
        s = str(v)
        if "'" in s or "\\" in s:
            return f"CAST(X'{s.encode('utf-8').hex()}' AS STRING)"
        return f"'{s}'"
    if sql_type in ("double", "float"):
        return f"CAST({_dlit(v)} AS {sql_type})"
    if sql_type == "boolean":
        return "true" if v else "false"
    if sql_type == "date":
        return f"DATE '{v.isoformat()}'"
    if sql_type.startswith("decimal("):
        return f"CAST('{v:f}' AS {sql_type})"
    return f"CAST({v} AS {sql_type})"


def _key_type(df: DataFrame, col: str) -> str:
    """dtype of key column ``col``, TypeError unless `_klit` renders it."""
    t = dict(df.dtypes)[col]
    _klit(None, t)
    return t


def _by_key(rows, key: str) -> list:
    """Rows sorted by ``key``, NULL keys last."""
    return sorted(rows, key=lambda r: (r[key] is None, r[key]))


def _selfdot_sql(xs) -> str:
    """<v,v> as a constant-foldable sum in `_dot_sql`'s exact fold order
    (a NULL array folds to NULL, as `_dot_sql` does)."""
    if xs is None:
        return "CAST(NULL AS DOUBLE)"
    acc = "0.0D"
    for x in xs:
        lit = _dlit(x)
        acc += f" + {lit} * {lit}"
    return f"({acc})"


def _norm(xs) -> float | None:
    """‖xs‖ driver-side in `_l2_sql`'s fold order: sqrt(0.0 + x0*x0 +
    x1*x1 + …), None for a NULL array or element. Python floats are IEEE
    doubles and both sides round sqrt correctly, so this is the double
    the JVM fold gives."""
    if xs is None or any(x is None for x in xs):
        return None
    acc = 0.0
    for x in xs:
        acc = acc + x * x
    return math.sqrt(acc)


def _cens_lit(centroids: DataFrame) -> str:
    """The centroid frame (cell, cvec) as one literal SQL expression:
    array(named_struct('cell', …, 'cvec', array(…), '_cn', …)) sorted by
    cell (every consumer is order-insensitive — array_min / array_sort
    downstream). ``_cn`` is the centroid's L2 norm (`_norm`)."""
    ctype = _key_type(centroids, "cell")
    parts = [
        f"named_struct('cell', {_klit(r['cell'], ctype)}, 'cvec', {_darr(r['cvec'])}, "
        f"'_cn', {_dlit(_norm(r['cvec']))})"
        for r in _by_key(_rows(centroids, "cell", "cvec"), "cell")
    ]
    if not parts:
        return f"CAST(array() AS array<struct<cell: {ctype}, cvec: array<double>, _cn: double>>)"
    return "array(" + ", ".join(parts) + ")"


def _nearest_cells(
    df: DataFrame,
    vec_sql: str,
    centroids: DataFrame,
    n: int,
    dim: int | None = None,
    round_digits: int | None = 6,
) -> DataFrame:
    """Each row's ``n`` nearest centroids by cosine, ranked IN-ROW over
    the literal centroid array — the one nearest-centroid assignment
    behind IVF probing, k-means and SemDeDup. Per centroid the
    similarity s = round(<v, c> / (‖v‖ · ‖c‖), round_digits) (unrounded
    for ``round_digits=None``) keys the struct (s IS NULL, -s, cell,
    cvec), so the order is NULL similarity last, then similarity desc,
    then cell asc — the oracle's ORDER BY sim DESC, cell ASC, whose
    DESC puts NULLs last. ``n == 1`` takes the array_min (one row per
    input row; NULL cell and similarity when there is no centroid);
    ``n > 1`` explodes the first n of the sorted keys. No |V| × |C|
    intermediate exists and the input is never shuffled.

    Both norms are hoisted: ‖c‖ is folded into the literal, ‖v‖ is
    computed once per row as ``_vn``, and the quotient has
    `_cosine_sql`'s operands in its order, so every double matches the
    un-hoisted cosine. ``dim`` (the vectors' known width) selects the
    unrolled dot (see `_dot_sql`). Adds ``_vn``, ``_cell``, ``_cvec``
    and ``_csim`` to ``df``'s columns."""
    sim = f"{_dot_sql(vec_sql, 'c.cvec', dim)} / (_vn * c._cn)"
    if round_digits is not None:
        sim = f"round({sim}, {round_digits})"
    # s is computed once per centroid in the inner transform: lambda
    # bodies get no common-subexpression elimination
    keys = (
        f"transform(transform({_cens_lit(centroids)}, c -> named_struct("
        f"'s', {sim}, 'cell', c.cell, 'cvec', c.cvec)), e -> named_struct("
        f"'_nul', e.s IS NULL, '_negsim', -e.s, 'cell', e.cell, 'cvec', e.cvec))"
    )
    pick = f"array_min({keys})" if n == 1 else f"explode(slice(array_sort({keys}), 1, {n}))"
    return (
        df.withColumn("_vn", F.expr(_l2_sql(vec_sql, dim)))
        .select("*", F.expr(pick).alias("_nc"))
        .select(
            *df.columns,
            "_vn",
            F.col("_nc.cell").alias("_cell"),
            F.col("_nc.cvec").alias("_cvec"),
            F.expr("-_nc._negsim").alias("_csim"),
        )
    )


def _cb_map_lit(codebooks: DataFrame, bb_width: int | None = None) -> str:
    """The codebook frame (sub, cid, cvec_sub) as one literal SQL map:
    sub → array(named_struct('cid', …, 'cvec_sub', array(…))) sorted by
    cid — the order array_sort(collect_list(struct(cid, …))) gives, as
    cid leads the struct and is unique per sub. ``bb_width=d`` adds each
    entry's self-dot ``bb`` with `_dot_sql(v, v, d)` semantics: the first
    d elements, NULL for a shorter or NULL entry. NULL subs are left out:
    a map cannot hold a NULL key, and no lookup could reach one."""
    stype, ctype = _key_type(codebooks, "sub"), _key_type(codebooks, "cid")
    by_sub: dict = {}
    for r in _rows(codebooks, "sub", "cid", "cvec_sub"):
        if r["sub"] is not None:
            by_sub.setdefault(r["sub"], []).append(r)
    parts = []
    for sub in sorted(by_sub):
        ents = []
        for r in _by_key(by_sub[sub], "cid"):
            v = r["cvec_sub"]
            ent = f"named_struct('cid', {_klit(r['cid'], ctype)}, 'cvec_sub', {_darr(v)}"
            if bb_width is not None:
                short = v is None or len(v) < bb_width
                ent += ", 'bb', " + (
                    "CAST(NULL AS DOUBLE)" if short else _selfdot_sql(v[:bb_width])
                )
            ents.append(ent + ")")
        parts.append(f"{_klit(sub, stype)}, array({', '.join(ents)})")
    if not parts:
        bb = ", bb: double" if bb_width is not None else ""
        return (
            f"CAST(map() AS map<{stype}, array<struct<cid: {ctype}, "
            f"cvec_sub: array<double>{bb}>>>)"
        )
    return "map(" + ", ".join(parts) + ")"


# --- IVF-PQ: product quantization with asymmetric-distance scoring ----------


def pq_codebooks(centroids: DataFrame, m: int, dim: int) -> DataFrame:
    """Per-subspace PQ codebooks sliced out of the coarse k-means
    centroids (the standard cheap PQ train when cells already cluster
    the corpus — each cell centroid's m-th slice is one reproduction
    value for subspace m). Output (sub, cid, cvec_sub); tiny
    (m × n_cells rows), inlined as one literal by its consumers.

    The slices are cut from the centroid frame's collected rows (`_rows`:
    a memoized centroid frame is collected once for its own literal and
    for its codebook) into a VALUES relation of exact literals, so the
    codebook's own collect runs no Spark job."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    ctype = _key_type(centroids, "cell")
    spark = centroids.sparkSession
    vals = ", ".join(
        f"({s}, {_klit(r['cell'], ctype)}, "
        f"{_darr(None if r['cvec'] is None else r['cvec'][s * d:(s + 1) * d])})"
        for r in _rows(centroids, "cell", "cvec")
        for s in range(m)
    )
    if not vals:
        return spark.sql(
            f"SELECT CAST(NULL AS INT) AS sub, CAST(NULL AS {ctype}) AS cid, "
            "CAST(NULL AS ARRAY<DOUBLE>) AS cvec_sub WHERE FALSE"
        )
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t(sub, cid, cvec_sub)")


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """PQ-encode every vector: per subspace, the id of the nearest
    codebook entry by squared L2 (integer-unit, ties cid asc). Output
    one row per vector: (id, *keep_cols, codes array<int> by subspace) —
    the 4-byte-per-subspace compressed corpus an IVF-PQ index stores.

    Scale shape: the codebook (m × k rows) inlines as ONE literal map
    <sub → sorted entries> (see "literal packing" above), and every
    vector computes its m codes IN-ROW — an argmin by (d², cid) over the
    subspace's entries, a NULL d² (short, NULL or NULL-element entry)
    last — so the corpus is touched strictly map-side with
    ZERO shuffles, the same reason FAISS encodes map-side. (The pre-r11
    shape exploded the corpus m-fold and shuffled it twice; at 100 TB
    those are two corpus shuffles — measured 15.6 s → 10.3 s on the
    50x encode, SCALE.md "r11: map-side PQ encode".)"""
    d = dim // m
    # entries carry their self-dot (bb), folded constant at optimize
    # time in _dot_sql's exact order: inside the per-row argmin only the
    # cross term 2<a,b> remains per entry — <a,a> is hoisted to one
    # evaluation per (row, subspace) below, and both feed
    # _sq_l2_units_sql's exact float op order ((aa + bb) - 2.0*ab), so
    # the integer-unit distances (and the oracle) stay bit-identical.
    staged = _spread(df).withColumn("_cb", F.expr(_cb_map_lit(codebooks, bb_width=d)))
    # The whole per-row encode is rendered as SQL TEXT and parsed once —
    # the nested-lambda Column form cost hundreds of Py4J round-trips of
    # plan-BUILD per query (r15 profile; see the vector-arithmetic
    # builders above). 0.0D/2.0D/1E6/0.5D are double literals, so codes
    # are bit-identical to a pure-Python IEEE replay — pinned by
    # test_pq_sql_text_builders_exact.
    enc = (
        staged
        .withColumn("_pv", _vec(vec_col))
        .withColumn(
            "_slices",
            F.expr(f"transform(sequence(0, {m - 1}), s -> slice(_pv, s * {d} + 1, {d}))"),
        )
        .withColumn("_aas", F.expr(f"transform(_slices, sl -> {_dot_sql('sl', 'sl', d)})"))
    )
    d2 = _sq_l2_units_sql(
        "element_at(_slices, s + 1)", "e.cvec_sub", d, aa="element_at(_aas, s + 1)", bb="e.bb"
    )
    # inner transform: d2 once per entry; outer: NULL d2 last (`_nul`)
    codes = F.expr(
        f"transform(sequence(0, {m - 1}), s -> array_min(transform(transform("
        f"element_at(_cb, s), e -> named_struct('_d', {d2}, 'cid', e.cid)), "
        f"e -> named_struct('_nul', e._d IS NULL, '_d', e._d, 'cid', e.cid))).cid)"
    )
    return enc.select(F.col(id_col), *keep_cols, codes.alias("codes"))


def residual_vectors(
    df: DataFrame,
    centroids: DataFrame,
    cell_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Replace ``vec_col`` with the residual against the row's cell
    centroid (x - centroid(cell)) — the vectors FAISS IVF-PQ actually
    quantizes. Train subspace codebooks on THIS frame's output when
    using ``ivf_pq_topk(residuals=True)``. The row's centroid comes from
    an in-row lookup in one literal map (see "literal packing" above):
    no join in the plan, the corpus stays a pure projection.

    A row whose cell has no centroid is a centroid/assignment mismatch
    (stale codebook, truncated centroid frame): ``raise_error`` fails
    the job loudly on a NULL cell or `NOT map_contains_key` instead of
    silently shrinking the residual-mode corpus. A NULL-cell centroid
    matches no row, so the map leaves it out."""
    ctype = _key_type(centroids, "cell")
    ents = ", ".join(
        f"{_klit(r['cell'], ctype)}, {_darr(r['cvec'])}"
        for r in _by_key(_rows(centroids, "cell", "cvec"), "cell")
        if r["cell"] is not None
    )
    cmap = F.expr(f"map({ents})" if ents else f"CAST(map() AS map<{ctype}, array<double>>)")
    return df.withColumn(
        vec_col,
        F.when(
            F.col(cell_col).isNull() | ~F.map_contains_key(cmap, F.col(cell_col)),
            F.raise_error(
                F.concat(
                    F.lit("residual_vectors: no centroid for cell "),
                    F.col(cell_col).cast("string"),
                    F.lit(" — centroid frame does not cover the assignment"),
                )
            ),
        ).otherwise(
            F.zip_with(_vec(vec_col), F.element_at(cmap, F.col(cell_col)), lambda a, b: a - b)
        ),
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    m: int = 8,
    dim: int = 64,
    k: int = 5,
    n_probe: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    codebooks: DataFrame | None = None,
    residuals: bool = False,
    rerank: int | None = None,
) -> DataFrame:
    """IVF-PQ approximate nearest neighbors — the standard 100 TB ANN
    layout (Jégou et al. 2011): the corpus is stored as m-subspace PQ
    codes inside coarse IVF cells; a query probes its ``n_probe``
    nearest cells and scores candidates by ASYMMETRIC distance — the
    exact query subvector against each candidate's reproduction values,
    via a per-query lookup table — never touching raw corpus vectors.

    Scale shape: centroids and codebooks inline as literals (each frame
    collected once), the per-query distance tables are tiny and
    broadcast; the encoded corpus (4 bytes × m per vector instead of
    4 × dim floats — 8× smaller at the defaults) joins the probe set on
    its cell key, so a cell-partitioned store gives partition-pruned
    scans; scoring is an in-row m-term fold over the broadcast table.
    All distances are exact 1e-6 integer units: sums are
    order-independent, so the SQL oracle reproduces ranks bit-for-bit.

    Returns (query_id, corpus_id, approx_dist, rank) — rank by approx
    L2² ascending, ties corpus_id asc. ``residuals=True`` quantizes
    x - centroid(cell) (FAISS IVFPQ proper — raw-vector codes collapse
    inside well-separated cells); train the codebooks on
    `residual_vectors(...)` output. ``rerank=R`` adds the FAISS refine
    stage: ADC nominates top-R per query, exact cosine on the fetched
    raw vectors re-ranks to the final k — output columns become
    (query_id, corpus_id, score, rank).
    """
    d = dim // m
    if residuals and codebooks is None:
        # sliced-RAW-centroid codebooks quantizing RESIDUAL vectors is a
        # space mismatch — recall silently collapses. Fail loudly.
        raise ValueError(
            "ivf_pq_topk(residuals=True) requires codebooks trained on "
            "residual vectors: pass pq_codebooks/pq_train_subspace output "
            "over residual_vectors(corpus, centroids, ...) — the default "
            "raw-centroid slices live in the wrong space"
        )
    # default: the cheap sliced-centroid codebooks (fully SQL-expressible,
    # oracle-parity); pass pq_train_subspace(...) output for FAISS-grade
    # recall (resolves structure WITHIN coarse cells)
    cbs = codebooks if codebooks is not None else pq_codebooks(centroids, m, dim)
    if residuals:
        # FAISS IVFPQ proper: quantize x - centroid(cell). Raw-vector PQ
        # collapses inside well-separated cells (every member shares the
        # cell's code); residual codes resolve the within-cell geometry
        # that top-k actually ranks on. Codebooks must be trained on
        # residual_vectors(...) output.
        enc_corpus = residual_vectors(corpus, centroids, cell_col, vec_col)
    else:
        enc_corpus = corpus
    codes = pq_encode(
        enc_corpus, cbs, m, dim, id_col=corpus_id, vec_col=vec_col, keep_cols=(cell_col,)
    )

    q = queries.select(F.col(query_id), _vec(vec_col).alias("_qv"))
    # probe selection: the n_probe nearest coarse cells by cosine (same
    # knob as ivf_multiprobe_topk), ranked in-row over the literal
    # centroid array — no crossJoin, no shuffle of the query set
    probes = _nearest_cells(q, "_qv", centroids, n_probe).select(
        query_id, "_qv", "_cell", "_cvec"
    )

    # ADC lookup table: exact query subvector vs every codebook entry,
    # folded to map<sub -> map<cid -> d2_units>>. Residual mode builds
    # one table per (query, probed cell) — the query residual differs
    # per cell — still tiny (queries × n_probe × m × k_sub). Built
    # IN-ROW against the literal codebook map (no explode, no groupBy —
    # the r10 shape shuffled the exploded query set twice).
    if residuals:
        qbase = probes.select(
            query_id,
            "_cell",
            F.zip_with(F.col("_qv"), F.col("_cvec"), lambda a, b: a - b).alias("_rv"),
        )
        tab_keys = [query_id, "_cell"]
    else:
        qbase = q.select(query_id, F.col("_qv").alias("_rv"))
        tab_keys = [query_id]
    # array ordered by sub (outer), map keyed by cid (inner): the hot
    # per-candidate fold does one O(1) array index + one map lookup per
    # subspace instead of two map lookups
    _sl = f"slice(_rv, s * {d} + 1, {d})"
    tbl_expr = F.expr(
        f"transform(sequence(0, {m - 1}), s -> map_from_entries("
        f"transform(element_at(_cbm, s), e -> named_struct('cid', e.cid, "
        f"'_d', {_sq_l2_units_sql(_sl, 'e.cvec_sub', d)}))))"
    )
    qtab = qbase.withColumn("_cbm", F.expr(_cb_map_lit(cbs))).select(
        *tab_keys, tbl_expr.alias("tbl")
    )

    if residuals:
        ptbl = qtab  # already keyed (query, cell)
    else:
        ptbl = probes.select(query_id, "_cell").join(qtab, query_id)  # tiny × tiny
    cand = codes.join(
        F.broadcast(ptbl), F.col(cell_col) == F.col("_cell")
    )
    # unrolled over the statically known m (see _dot_sql): integer adds in
    # the same left-fold order, but codegen'd instead of an interpreted
    # per-subspace lambda — this fold runs once per (candidate, probe);
    # SQL text, parsed once (CAST(0 AS BIGINT) = lit(0).cast("long"))
    units_sql = "CAST(0 AS BIGINT)" + "".join(
        f" + element_at(element_at(tbl, {s + 1}), element_at(codes, {s + 1}))"
        for s in range(m)
    )
    scored = cand.select(
        query_id,
        corpus_id,
        F.expr(f"CAST(({units_sql}) AS DOUBLE) / 1E6").alias("approx_dist"),
    )
    wr = Window.partitionBy(query_id).orderBy(
        F.col("approx_dist").asc(), F.col(corpus_id).asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(wr))
    if rerank is None:
        return ranked.filter(F.col("rank") <= k).select(
            query_id, corpus_id, "approx_dist", F.col("rank").cast("long").alias("rank")
        )
    # FAISS refine stage: codes nominate top-``rerank`` candidates per
    # query, EXACT cosine on the raw vectors re-ranks them to the final
    # top-k. The candidate set (queries × rerank) is tiny relative to
    # the corpus, so it broadcasts into the raw-vector fetch — the big
    # table is touched with a map-side semi-probe, never re-scanned per
    # query. This is the standard two-stage 100 TB retrieval: quantized
    # codes bound the work, one small exact pass restores recall.
    cands = ranked.filter(F.col("rank") <= rerank).select(query_id, corpus_id)
    raw = corpus.select(F.col(corpus_id), _vec(vec_col).alias("_cv"))
    fetched = raw.join(F.broadcast(cands), corpus_id)
    qv = queries.select(F.col(query_id), _vec(vec_col).alias("_qv2"))
    exact = fetched.join(F.broadcast(qv), query_id).select(
        query_id, corpus_id, F.expr(_cosine_sql("_qv2", "_cv")).alias("_raw")
    )
    return _rank_topk(exact, k, query_id, corpus_id, 6)


def pq_train_subspace(
    df: DataFrame,
    m: int,
    dim: int,
    k_sub: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """FAISS-faithful PQ training: independent k-means per subspace over
    the corpus's subvectors — unlike `pq_codebooks` (centroid slices,
    the cheap oracle-parity variant), this resolves structure WITHIN
    coarse cells, which is what gives PQ its recall.

    Init is deterministic farthest-point (k-means++ without the
    randomness): seed with the min-id subvector, then repeatedly add
    the subvector farthest from its nearest chosen seed (integer-unit
    distances, ties id asc) — all m subspaces advance together, so init
    costs ``k_sub`` passes, each one broadcast join + two partial-agg
    shuffles, then ``iters`` Lloyd rounds of the same shape. At corpus
    scale FAISS trains on a sample; pass a pre-sampled ``df`` for the
    same effect. Returns (sub, cid, cvec_sub) with cid densely numbered
    in seed order (empty clusters drop, as in `kmeans_refine`)."""
    d = dim // m
    subs = (
        _spread(df)
        .select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda s: F.struct(
                        s.alias("sub"), F.slice(_vec(vec_col), s * d + 1, d).alias("v")
                    ),
                )
            ).alias("_sv"),
        )
        .select("_id", F.col("_sv.sub").alias("sub"), F.col("_sv.v").alias("v"))
    )
    from financedatabase_spark.session import barrier, release_barrier

    subs = barrier(subs)  # scanned k_sub + 2*iters times
    spark = df.sparkSession

    def _seed_dim(seeds: list[tuple[int, int, list[float]]]) -> DataFrame:
        return values_dim_vectors(spark, seeds)

    # seed 0: the min-id subvector of every subspace
    first = (
        subs.groupBy("sub")
        .agg(F.min_by(F.struct("_id", "v"), "_id").alias("_b"))
        .select("sub", F.col("_b.v").alias("cv"))
        .collect()
    )
    seeds: list[tuple[int, int, list[float]]] = [
        (int(r["sub"]), 0, list(r["cv"])) for r in first
    ]
    for j in range(1, k_sub):
        cb = _seed_dim(seeds)
        far = (
            subs.join(F.broadcast(cb), "sub")
            .select("sub", "_id", "v", F.expr(_sq_l2_units_sql("v", "cvec_sub")).alias("_d"))
            .groupBy("sub", "_id", "v")
            .agg(F.min("_d").alias("_mind"))
            .groupBy("sub")
            .agg(
                F.max_by(
                    F.struct("v"), F.struct(F.col("_mind"), (-F.col("_id")).alias("_ni"))
                ).alias("_b")
            )
            .select("sub", F.col("_b.v").alias("cv"))
            .collect()
        )
        seeds.extend((int(r["sub"]), j, list(r["cv"])) for r in far)

    cb = _seed_dim(seeds)
    _prev_cb = None
    for _ in range(iters):
        assign = (
            subs.join(F.broadcast(cb), "sub")
            .select(
                "sub", "_id", "v", "cid", F.expr(_sq_l2_units_sql("v", "cvec_sub")).alias("_d")
            )
            .groupBy("sub", "_id")
            .agg(
                F.min_by(F.struct("v", "cid"), F.struct("_d", "cid")).alias("_b")
            )
            .select("sub", F.col("_b.v").alias("v"), F.col("_b.cid").alias("cid"))
        )
        flat = assign.select("sub", "cid", F.posexplode("v").alias("pos", "x"))
        cmeans = flat.groupBy("sub", "cid", "pos").agg(
            (
                F.sum(F.floor(F.col("x") * F.lit(1e6) + F.lit(0.5)).cast("long")).cast("double")
                / F.lit(1e6)
                / F.count("*")
            ).alias("mv")
        )
        cb = (
            cmeans.groupBy("sub", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mv"))).alias("_pm"))
            .select(
                "sub",
                "cid",
                F.transform(F.col("_pm"), lambda s: s.getField("mv")).alias("cvec_sub"),
            )
        )
        cb = barrier(cb)
        release_barrier(_prev_cb)  # superseded by the new eager ckpt
        _prev_cb = cb
    return cb


def values_dim_vectors(spark, rows: list[tuple[int, int, list[float]]]) -> DataFrame:
    """(sub, cid, cvec_sub) literal codebook as a LocalRelation (same
    rationale as session.values_dim; vectors rendered as typed arrays)."""
    from financedatabase_spark.session import values_dim

    return values_dim(
        spark,
        [(s, c, [float(x) for x in v]) for s, c, v in rows],
        "sub int, cid int, cvec_sub array<double>",
    )


def semdedup(
    emb: DataFrame,
    centroids: DataFrame,
    tau: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    max_cluster_size: int = 50_000,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): semantic-duplicate
    PRUNING decisions over an embedded corpus. Near-dup pair lists
    (embedding_near_dups) say what collides; this operator says what to
    KEEP: assign every vector to its nearest centroid, find duplicate
    groups within each cluster (cosine >= tau edges -> connected
    components), and per group keep exactly one representative — the
    paper's choice, the member with the LOWEST cosine to its centroid
    (keeping the outlier preserves diversity), ties broken by id.

    Output: (id_col, cluster, cosine_to_centroid, group_rep, keep) for
    EVERY input vector — singletons keep themselves.

    Scale shape — the clustering exists precisely to bound the
    quadratic: pairwise cosine runs per-cluster (shuffle on cluster,
    sort-merge self-join), never corpus x corpus; centroids inline as
    one literal array;
    components resolve exactly in one per-cluster union-find pass
    (operators/dedup_docs.grouped_components — edges cannot cross
    clusters, so no global iterative loop is needed).
    At 100 TB the cluster count scales with the corpus so per-cluster
    membership stays bounded (the paper uses ~100k clusters).
    ``max_cluster_size`` enforces that assumption LOUDLY: an adversarial
    or degenerate assignment that routes a mega-cluster into the
    per-cluster self-join would silently go quadratic, so the operator
    checks the largest cluster (one scalar agg over the already-
    materialized assignment) and raises ValueError naming the cluster —
    the remedy is re-clustering with more centroids, not a bigger cap.
    ``dim`` (optional, the corpus's known embedding width) switches the
    cosine folds to the unrolled codegen form — same doubles, see
    `_dot_sql`; leave None when the width is not statically known."""
    from financedatabase_spark.operators.dedup_docs import grouped_components

    # nearest-centroid assignment in-row over the literal centroid array
    # (`_nearest_cells`): no |V| x |C| exploded intermediate and no
    # shuffle of it (at 50x that intermediate is 3.2B rows)
    v = _spread(emb).select(F.col(id_col), _vec(vec_col).alias("_e"))
    assign = _nearest_cells(v, "_e", centroids, 1, dim, round_digits).select(
        id_col,
        F.col("_cell").alias("cluster"),
        F.col("_csim").alias("csim"),
        "_e",
        # the row's norm rides through the checkpoint so the pair
        # filter below divides by two HOISTED norms instead of
        # re-folding the norm per PAIR — same doubles (dot / (na*nb)
        # in _cosine_sql's operand order), a third of the per-pair
        # higher-order-function work
        F.col("_vn").alias("_en"),
    )
    from financedatabase_spark.session import barrier, scaled_partitions

    # materialized ONCE (feeds the pair join twice + the final output),
    # partitioned on cluster to a size-derived count and with the
    # partitioning RECORDED in the checkpoint (r16): the pair self-join
    # reads both sides co-partitioned and the per-cluster union-find's
    # groupBy reuses the same distribution — the r15 form came back
    # UnknownPartitioning(0) and re-shuffled per consumer
    assign = barrier(
        assign.repartition(scaled_partitions(assign), "cluster"),
        preserve_partitioning=True,
    )
    if max_cluster_size is not None:
        top = (
            assign.groupBy("cluster")
            .count()
            .orderBy(F.col("count").desc(), F.col("cluster").asc())
            .first()
        )
        if top is not None and top["count"] > max_cluster_size:
            raise ValueError(
                f"semdedup: cluster {top['cluster']} has {top['count']} members "
                f"(> max_cluster_size={max_cluster_size}); the per-cluster "
                f"self-join would go quadratic — re-cluster with more centroids "
                f"(SemDeDup assumes cluster count scales with the corpus)"
            )
    a = assign.select(
        F.col(id_col).alias("_i"),
        F.col("cluster").alias("_ca"),
        F.col("_e").alias("_ea"),
        F.col("_en").alias("_na"),
    )
    b = assign.select(
        F.col(id_col).alias("_j"),
        F.col("cluster").alias("_cb"),
        F.col("_e").alias("_eb"),
        F.col("_en").alias("_nb"),
    )
    edges = (
        a.join(b, (F.col("_ca") == F.col("_cb")) & (F.col("_i") < F.col("_j")))
        .filter(
            F.expr(f"round({_dot_sql('_ea', '_eb', dim)} / (_na * _nb), {round_digits})")
            >= F.lit(tau)
        )
        .select("_ca", "_i", "_j")
    )
    # edges never cross clusters (both endpoints share _ca by
    # construction), so components resolve EXACTLY in one lazy
    # per-cluster union-find pass — no iterative global loop, no
    # per-round driver sync; per-task memory is bounded by the
    # max_cluster_size guard above
    comp = grouped_components(
        edges, group_col="_ca", left_col="_i", right_col="_j"
    ).select(F.col("doc_id").alias(id_col), F.col("cluster_rep").alias("group_rep"))
    labeled = assign.join(comp, id_col, "left").select(
        id_col,
        "cluster",
        "csim",
        F.coalesce("group_rep", F.col(id_col)).alias("group_rep"),
    )
    kw = Window.partitionBy("group_rep").orderBy(F.col("csim").asc(), F.col(id_col).asc())
    return labeled.withColumn("keep", F.row_number().over(kw) == 1).select(
        id_col,
        "cluster",
        F.col("csim").alias("cosine_to_centroid"),
        "group_rep",
        "keep",
    )
