"""Exponential smoothing — the sequential-recursion primitive.

EWMA (``y_1 = x_1``, ``y_t = a*x_t + (1-a)*y_{t-1}``, pandas
``ewm(adjust=False)``) is the textbook example of an operator a window
function cannot express: the closed-form weight ``(1-a)^(t-i)``
underflows/overflows for long series, so the robust formulation is the
recursion itself. Spark-first shape: per-key ``collect_list`` sorted by
the order column, then a Catalyst higher-order ``aggregate`` fold —
entirely JVM-side, no UDF, one shuffle on the key.

Scale contract: one key's series folds inside one task (same constraint
as any sequential recursion); keys themselves distribute freely. At
100 TB with bounded per-key history (the finance norm: one symbol's
ticks) this holds; for unbounded per-key series use the chunked
carry-forward variants (`ewma_last_chunked` / `ewma_series_chunked`):
fold fixed-span chunks in bounded tasks, thread the boundary
accumulator across chunks in order — bit-identical to the whole-series
fold because the arithmetic operand sequence is unchanged.

The fold's float operand order is deterministic (same sequence, same
constants), which makes it bit-reproducible across engines — DuckDB's
``list_reduce`` implements the identical left fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from financedatabase_spark.session import barrier, release_barrier


def _sorted_vals(order_col: str, value_col: str):
    arr = F.array_sort(F.collect_list(F.struct(F.col(order_col), F.col(value_col))))
    return F.transform(arr, lambda s: s.getField(value_col).cast("double"))


#: ``_vals`` after its head: the series a first chunk (or a whole series)
#: folds once its first value has seeded the level.
_TAIL = "slice(_vals, 2, size(_vals) - 1)"


def _fold_expr(a: float, vals: str, init: str) -> str:
    """The EWMA left fold over ``vals`` starting from level ``init`` —
    the exact operand sequence of the whole-series recursion."""
    return f"aggregate({vals}, {init}, (acc, x) -> {a} * x + {1.0 - a} * acc)"


def _scan_expr(a: float, vals: str, level: str, outs: str) -> str:
    """The scanl form of `_fold_expr`: fold to struct(level, outs),
    appending every new level to ``outs``, and return the outputs."""
    return (
        f"aggregate({vals}, "
        f"struct({level} as level, {outs} as outs), "
        f"(acc, x) -> struct({a} * x + {1.0 - a} * acc.level as level, "
        f"array_append(acc.outs, {a} * x + {1.0 - a} * acc.level) as outs), "
        f"acc -> acc.outs)"
    )


def ewma_last(
    df: DataFrame,
    alpha: float,
    key_cols: list[str],
    order_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Per-key EWMA level after the last observation: (key..., ewma_value,
    n). One shuffle; the fold is a Catalyst ``aggregate`` over the
    order-sorted series."""
    a = float(alpha)
    vals = _sorted_vals(order_col, value_col)
    return df.groupBy(*key_cols).agg(
        vals.alias("_vals"), F.count("*").cast("long").alias("n")
    ).select(
        *key_cols,
        F.expr(_fold_expr(a, _TAIL, "_vals[0]")).alias("ewma_value"),
        "n",
    )


def ewma_series(
    df: DataFrame,
    alpha: float,
    key_cols: list[str],
    order_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Per-row EWMA series: every input row with its smoothed value —
    the scanl form of the fold (array accumulator carrying (level,
    outputs)), re-exploded against the sorted order keys. Same
    single-shuffle plan; output size equals input size."""
    a = float(alpha)
    arr = F.array_sort(F.collect_list(F.struct(F.col(order_col), F.col(value_col))))
    grouped = df.groupBy(*key_cols).agg(arr.alias("_pairs"))
    # scanl: fold to struct(level, outs); emit outs zipped back to order keys
    scan = _scan_expr(a, _TAIL, "_vals[0]", "array(_vals[0])")
    exploded = (
        grouped.withColumn(
            "_vals", F.transform(F.col("_pairs"), lambda s: s.getField(value_col).cast("double"))
        )
        .withColumn("_ords", F.transform(F.col("_pairs"), lambda s: s.getField(order_col)))
        .withColumn("_ewma", F.expr(scan))
        .select(
            *key_cols,
            F.posexplode(F.arrays_zip(F.col("_ords"), F.col("_ewma"))).alias("_i", "_z"),
        )
    )
    return exploded.select(
        *key_cols,
        F.col("_z._ords").alias(order_col),
        F.col("_z._ewma").alias("ewma_value"),
    )


def _chunk_col(chunk_expr) -> F.Column:
    """The chunk-id Column of the chunked variants (a column name is
    accepted); a missing ``chunk_expr`` is an error, not a default."""
    if chunk_expr is None:
        raise ValueError(
            "chunk_expr is required: pass a Column (or column name) that buckets "
            "rows into spans monotone in the order column, e.g. "
            "F.date_trunc('month', ts) or F.floor(F.col('seq') / 100000)"
        )
    return F.col(chunk_expr) if isinstance(chunk_expr, str) else chunk_expr


def _chunk_frames(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    chunk_expr,
    keep_order: bool = False,
):
    """Per-(key, chunk) sorted value arrays, materialized once (the
    epoch loop filters it repeatedly), plus the ordered list of chunk
    epochs (one scalar per chunk span — tiny driver list).

    A null ``chunk_expr`` value forms its own epoch, matched null-safely
    in the walk (never silently dropped) and ordered FIRST (Spark's ASC
    NULLS FIRST) — but chunk ids should be non-null and monotone in the
    order column; a null chunk has no defined position in the
    recursion."""
    agg = [
        _sorted_vals(order_col, value_col).alias("_vals"),
        F.count("*").cast("long").alias("_n"),
    ]
    if keep_order:
        arr = F.array_sort(F.collect_list(F.struct(F.col(order_col), F.col(value_col))))
        agg.append(F.transform(arr, lambda s: s.getField(order_col)).alias("_ords"))
    chunks = (
        df.withColumn("_chunk", _chunk_col(chunk_expr))
        .groupBy(*key_cols, "_chunk")
        .agg(*agg)
    )
    chunks = barrier(chunks)
    epochs = [r[0] for r in chunks.select("_chunk").distinct().orderBy("_chunk").collect()]
    return chunks, epochs


def ewma_last_chunked(
    df: DataFrame,
    alpha: float,
    key_cols: list[str],
    order_col: str,
    value_col: str = "value",
    chunk_expr=None,
    checkpoint_every: int = 16,
) -> DataFrame:
    """`ewma_last` for unbounded per-key histories: fold fixed-span
    chunks in bounded tasks and thread the boundary accumulator across
    chunks in epoch order.

    ``chunk_expr`` is a Column (or column name) that buckets rows into
    coarse spans monotone in ``order_col`` (e.g.
    ``F.date_trunc('month', ts)`` or ``F.floor(F.col('seq') / 100_000)``).
    Phase 1 aggregates each (key, chunk) into its sorted value array —
    task memory is bounded by the chunk span, never the key's full
    history, and the whole frame materializes exactly once
    (localCheckpoint). Phase 2 walks the epochs in order, folding each
    chunk's array on top of the carried level via a full-outer join on
    the key (keys absent from an epoch carry their level through;
    lineage is truncated every ``checkpoint_every`` epochs).

    Bit-equality contract: a chunk folds with the carried level as the
    initial accumulator, so the multiply/add sequence is IDENTICAL to
    the whole-series fold — results match `ewma_last` exactly, not just
    approximately (pytest-gated). The parallel-scan alternative
    (per-chunk affine maps ``(1-a)^n·L + P`` composed associatively)
    would be O(1) passes but reassociates float ops; we take one lazy
    join per epoch instead — epochs are coarse (months/shards), so the
    chain stays short while tasks stay bounded.
    """
    a = float(alpha)
    chunks, epochs = _chunk_frames(df, key_cols, order_col, value_col, chunk_expr)
    first = _fold_expr(a, _TAIL, "_vals[0]")
    cont = _fold_expr(a, "_vals", "double(ewma_value)")
    levels: DataFrame | None = None
    _prev_lv = None
    for i, ep in enumerate(epochs):
        cur = chunks.filter(F.col("_chunk").eqNullSafe(F.lit(ep))).drop("_chunk")
        if levels is None:
            levels = cur.select(
                *key_cols, F.expr(first).alias("ewma_value"), F.col("_n").alias("n")
            )
        else:
            levels = (
                cur.join(levels, list(key_cols), "full_outer")
                .select(
                    *key_cols,
                    F.when(F.col("_vals").isNull(), F.col("ewma_value"))
                    .when(F.col("ewma_value").isNull(), F.expr(first))
                    .otherwise(F.expr(cont))
                    .alias("ewma_value"),
                    (
                        F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("_n"), F.lit(0))
                    ).cast("long").alias("n"),
                )
            )
        if (i + 1) % checkpoint_every == 0 and i + 1 < len(epochs):
            levels = barrier(levels)
            # the previous checkpoint fed this one (eager); its blocks
            # are garbage now — release instead of pinning one copy per
            # checkpoint interval for the session lifetime
            release_barrier(_prev_lv)
            _prev_lv = levels
    return levels


def ewma_series_chunked(
    df: DataFrame,
    alpha: float,
    key_cols: list[str],
    order_col: str,
    value_col: str = "value",
    chunk_expr=None,
    checkpoint_every: int = 16,
) -> DataFrame:
    """`ewma_series` for unbounded per-key histories — two phases:

    1. Thread boundary levels chunk-to-chunk (same epoch walk as
       `ewma_last_chunked`), keeping each chunk's INCOMING level.
    2. One fully parallel pass: every (key, chunk) re-folds its own
       array seeded with its incoming level (the scanl form) and emits
       its rows — bounded tasks, all chunks at once.

    The emitted series is bit-identical to `ewma_series` (same operand
    sequence per row)."""
    a = float(alpha)
    chunks, epochs = _chunk_frames(
        df, key_cols, order_col, value_col, chunk_expr, keep_order=True
    )
    first = _fold_expr(a, _TAIL, "_vals[0]")
    cont = _fold_expr(a, "_vals", "double(ewma_value)")
    chunk_t = chunks.schema["_chunk"].dataType
    levels: DataFrame | None = None
    incoming: list[DataFrame] = []
    for i, ep in enumerate(epochs):
        cur = chunks.filter(F.col("_chunk").eqNullSafe(F.lit(ep))).select(*key_cols, "_vals", "_n")
        if levels is None:
            incoming.append(
                cur.select(
                    *key_cols,
                    F.lit(ep).cast(chunk_t).alias("_chunk"),
                    F.lit(None).cast("double").alias("_level_in"),
                )
            )
            levels = cur.select(*key_cols, F.expr(first).alias("ewma_value"))
        else:
            j = cur.join(levels, list(key_cols), "full_outer")
            incoming.append(
                j.filter(F.col("_vals").isNotNull()).select(
                    *key_cols,
                    F.lit(ep).cast(chunk_t).alias("_chunk"),
                    F.col("ewma_value").alias("_level_in"),
                )
            )
            levels = j.select(
                *key_cols,
                F.when(F.col("_vals").isNull(), F.col("ewma_value"))
                .when(F.col("ewma_value").isNull(), F.expr(first))
                .otherwise(F.expr(cont))
                .alias("ewma_value"),
            )
        if (i + 1) % checkpoint_every == 0:
            # NO supersede: the incoming frames of the rounds between
            # checkpoints stay lazy until the post-loop union, and their
            # lineage can read the previous level checkpoint — an eager
            # release would break them. Build-scope release only.
            levels = barrier(levels)
            incoming[-1] = barrier(incoming[-1])
    level_in = incoming[0]
    for frame in incoming[1:]:
        level_in = level_in.unionByName(frame)
    # Join back null-safely: a null chunk id is a real (earliest) epoch
    # and plain equality would silently drop its rows (null != null).
    li = level_in.select(
        *[F.col(k).alias(f"_li_{k}") for k in key_cols],
        F.col("_chunk").alias("_li_chunk"),
        "_level_in",
    )
    cond = F.col("_chunk").eqNullSafe(F.col("_li_chunk"))
    for k in key_cols:
        cond = cond & F.col(k).eqNullSafe(F.col(f"_li_{k}"))
    seeded_scan = _scan_expr(
        a, "_vals", "double(_level_in)", "cast(array() as array<double>)"
    )
    head_scan = _scan_expr(a, _TAIL, "_vals[0]", "array(_vals[0])")
    exploded = (
        chunks.join(li, cond, "inner")
        .withColumn(
            "_ewma",
            F.when(F.col("_level_in").isNull(), F.expr(head_scan)).otherwise(
                F.expr(seeded_scan)
            ),
        )
        .select(
            *key_cols,
            F.posexplode(F.arrays_zip(F.col("_ords"), F.col("_ewma"))).alias("_i", "_z"),
        )
    )
    return exploded.select(
        *key_cols,
        F.col("_z._ords").alias(order_col),
        F.col("_z._ewma").alias("ewma_value"),
    )


def _tick_sign(key_cols: list[str], order_col: str, price_col: str):
    """The tick rule over the per-key order: the sign of the price
    change as a long, a zero change carrying the previous nonzero sign
    (0 until the first one). Returns the key window, its running frame
    and the sign Column, so the prefix sums share one partitioning."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(order_col)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    sgn_raw = F.signum(F.col(price_col) - F.lag(price_col).over(w))
    carried = F.last(F.when(sgn_raw != 0, sgn_raw), ignorenulls=True).over(wcum)
    return w, wcum, F.coalesce(carried, F.lit(0.0)).cast("long")


def _imbalance_rows(
    df: DataFrame, key_cols: list[str], order_col: str, price_col: str, size_col: str
) -> DataFrame:
    """(key..., _row) for the imbalance-bar folds: _row is struct(_i tick
    number, _ord, _cum running signed size)."""
    w, wcum, sgn = _tick_sign(key_cols, order_col, price_col)
    return (
        df.withColumn("_sv", sgn * F.col(size_col))
        .withColumn("_i", F.row_number().over(w))
        .withColumn("_cum", F.sum("_sv").over(wcum))
        .select(*key_cols, F.struct("_i", F.col(order_col).alias("_ord"), "_cum").alias("_row"))
    )


def _run_rows(
    df: DataFrame, key_cols: list[str], order_col: str, price_col: str, size_col: str
) -> DataFrame:
    """(key..., _row) for the run-bar folds: _row is struct(_i tick
    number, _ord, _cb running buy size, _cs running sell size)."""
    w, wcum, sgn = _tick_sign(key_cols, order_col, price_col)
    return (
        df.withColumn("_b", F.when(sgn > 0, F.col(size_col)).otherwise(F.lit(0)).cast("long"))
        .withColumn("_s", F.when(sgn < 0, F.col(size_col)).otherwise(F.lit(0)).cast("long"))
        .withColumn("_i", F.row_number().over(w))
        .withColumn("_cb", F.sum("_b").over(wcum))
        .withColumn("_cs", F.sum("_s").over(wcum))
        .select(
            *key_cols,
            F.struct("_i", F.col(order_col).alias("_ord"), "_cb", "_cs").alias("_row"),
        )
    )


def _fold_bars(pref: DataFrame, key_cols: list[str], fold: str):
    """Run the boundary ``fold`` over each key's sorted ``_arr`` of
    ``_row`` structs: one (key..., _b bar number, _e closing row) per
    bar, plus ``prev(c)`` — the previous bar's ``c``, 0 for the first."""
    from pyspark.sql import Window

    ends = (
        pref.groupBy(*key_cols)
        .agg(F.array_sort(F.collect_list("_row")).alias("_arr"))
        .select(*key_cols, F.posexplode(F.expr(fold)).alias("_b", "_e"))
    )
    wb = Window.partitionBy(*key_cols).orderBy("_b")
    return ends, lambda c: F.coalesce(F.lag(c).over(wb), F.lit(0))


def tick_imbalance_bars(
    df: DataFrame,
    threshold: int,
    key_cols: list[str],
    order_col: str,
    price_col: str = "price",
    size_col: str = "volume",
) -> DataFrame:
    """Tick-imbalance bars (López de Prado 2018 §2.3.2.1, fixed
    threshold): classify each tick by the tick rule (sign of the price
    change, zero-change carries the previous sign), accumulate signed
    size, and close a bar whenever |imbalance since the last close|
    reaches ``threshold``.

    The bar boundary depends on the previous boundary — a true
    sequential recursion (unlike volume/dollar bars, no monotone prefix
    trick exists). Plan: the tick-rule sign, its carry-forward, and the
    signed-size prefix sum are all windows sharing one key partitioning;
    the boundary scan is a Catalyst higher-order ``aggregate`` fold over
    the per-key series (same distribution contract as `ewma_last`).
    ``size_col`` must be integral so the prefix sum is exact — the
    threshold comparison then has no float ambiguity on any engine.

    Production imbalance bars make the threshold adaptive (EWMA of
    expected imbalance); `ewma_last` is the extension point — fold the
    two recursions together.

    Output: (key..., bar_idx, end_<order_col>, n_ticks, imbalance).
    """
    pref = _imbalance_rows(df, key_cols, order_col, price_col, size_col)
    t = int(threshold)
    fold = (
        "aggregate(_arr, "
        "named_struct('bcum', bigint(0), 'ends', array_repeat(_arr[0], 0)), "
        f"(acc, x) -> if(abs(x._cum - acc.bcum) >= {t}, "
        "named_struct('bcum', x._cum, 'ends', array_append(acc.ends, x)), acc), "
        "acc -> acc.ends)"
    )
    ends, prev = _fold_bars(pref, key_cols, fold)
    return ends.select(
        *key_cols,
        F.col("_b").cast("long").alias("bar_idx"),
        F.col("_e._ord").alias(f"end_{order_col}"),
        (F.col("_e._i") - prev("_e._i")).cast("long").alias("n_ticks"),
        (F.col("_e._cum") - prev("_e._cum")).cast("long").alias("imbalance"),
    )


def tick_imbalance_bars_adaptive(
    df: DataFrame,
    initial_threshold: float,
    alpha: float,
    key_cols: list[str],
    order_col: str,
    price_col: str = "price",
    size_col: str = "volume",
) -> DataFrame:
    """Adaptive tick-imbalance bars — the production form of
    `tick_imbalance_bars` (López de Prado 2018 §2.3.2.1): the close
    threshold is an EWMA of the magnitudes of PREVIOUS bars'
    imbalances, so bar size tracks the market's current imbalance
    regime instead of a fixed constant. Recursions compose: the k-th
    bar closes when ``|cum - cum_at_last_close| >= thr_k`` with
    ``thr_0 = initial_threshold`` and
    ``thr_(k+1) = alpha·|imbalance_k| + (1-alpha)·thr_k`` — the same
    EWMA fold as `ewma_last`, threaded through the boundary recursion's
    accumulator (the extension point the fixed-threshold docstring
    promises). Same plan shape: windowed sign/prefix-sum prep sharing
    one key partitioning, then a per-key higher-order fold.

    Output: (key..., bar_idx, end_<order_col>, n_ticks, imbalance,
    threshold) — ``threshold`` is the thr_k the bar closed against.
    Gated by a pure-pandas reference loop (pytest) rather than a SQL
    oracle: the doubly-recursive boundary condition has no tractable
    recursive-CTE form.
    """
    a = float(alpha)
    pref = _imbalance_rows(df, key_cols, order_col, price_col, size_col)
    t0 = float(initial_threshold)
    ord_t = dict(df.dtypes)[order_col]
    fold = (
        "aggregate(_arr, "
        f"named_struct('bcum', bigint(0), 'thr', double({t0}), "
        f"'ends', cast(array() as array<struct<_i:bigint,_ord:{ord_t},_cum:bigint,_thr:double>>)), "
        "(acc, x) -> if(abs(x._cum - acc.bcum) >= acc.thr, "
        "named_struct('bcum', x._cum, "
        # D suffix: bare 0.3 parses as DECIMAL in Spark SQL; the EWMA
        # here must run in doubles to match float references
        f"'thr', {a}D * abs(x._cum - acc.bcum) + {1.0 - a}D * acc.thr, "
        "'ends', array_append(acc.ends, named_struct("
        "'_i', bigint(x._i), '_ord', x._ord, '_cum', x._cum, '_thr', acc.thr))), "
        "acc), "
        "acc -> acc.ends)"
    )
    ends, prev = _fold_bars(pref, key_cols, fold)
    return ends.select(
        *key_cols,
        F.col("_b").cast("long").alias("bar_idx"),
        F.col("_e._ord").alias(f"end_{order_col}"),
        (F.col("_e._i") - prev("_e._i")).cast("long").alias("n_ticks"),
        (F.col("_e._cum") - prev("_e._cum")).cast("long").alias("imbalance"),
        F.col("_e._thr").alias("threshold"),
    )


def _chunked_tick_frames(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    price_col: str,
    size_col: str,
    chunk_expr,
):
    """Chunk scaffolding shared by the chunked bar walks: per-(key,
    chunk) sorted (ord, price, size) row arrays, materialized once,
    with each chunk's global tick offset (prefix-summed per-chunk
    counts over the tiny chunk-summary frame) and the ordered epoch
    list. Null-epoch semantics as in `_chunk_frames`."""
    from pyspark.sql import Window

    rows_arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(order_col).alias("ord"),
                F.col(price_col).cast("double").alias("price"),
                F.col(size_col).cast("long").alias("size"),
            )
        )
    )
    chunks = (
        df.withColumn("_chunk", _chunk_col(chunk_expr))
        .groupBy(*key_cols, "_chunk")
        .agg(rows_arr.alias("_rows"), F.count("*").cast("long").alias("_n"))
    )
    chunks = barrier(chunks)
    # Prefix-sum the per-chunk counts with a window directly over the
    # chunk-summary frame (one row per (key, chunk)): no equality join
    # back, so null epochs keep their offsets (ASC NULLS FIRST = the
    # null epoch is the earliest span, matching the walk's order).
    woff = Window.partitionBy(*key_cols).orderBy("_chunk")
    chunks = chunks.withColumn(
        "_off", F.sum("_n").over(woff.rowsBetween(Window.unboundedPreceding, 0)) - F.col("_n")
    )
    epochs = [r[0] for r in chunks.select("_chunk").distinct().orderBy("_chunk").collect()]
    return chunks, epochs


#: The tick rule as one fold step of the chunked bar walks: the sign of
#: the change from the carried last price ``acc.pp``, a zero change (or
#: the first tick) keeping the carried sign ``acc.sg``.
_STEP_SIGN = (
    "if(acc.pp is not null and bigint(sign(x.price - acc.pp)) != 0, "
    "bigint(sign(x.price - acc.pp)), acc.sg)"
)


def _chunked_state_walk(
    chunks: DataFrame,
    epochs: list,
    key_cols: list[str],
    state_cols: list[str],
    fold: str,
    keep: str,
    checkpoint_every: int,
) -> DataFrame:
    """The epoch walk shared by the chunked bar recursions: thread a
    named_struct state (double ``pp`` + the LONG fields in
    ``state_cols``) across epochs via full-outer key joins, collect
    each epoch's emitted ``ends`` entries, truncate lineage every
    ``checkpoint_every`` epochs. ``fold``/``keep`` are SQL expressions
    over ``_rows``/``_off`` and the ``_``-prefixed incoming state
    columns, producing struct(pp, <state...>, ends)."""
    states: DataFrame | None = None
    ends_frames: list[DataFrame] = []
    for i, ep in enumerate(epochs):
        cur = chunks.filter(F.col("_chunk").eqNullSafe(F.lit(ep))).select(
            *key_cols, "_rows", "_off"
        )
        if states is None:
            j = cur.select(
                *key_cols, "_rows", "_off",
                F.lit(None).cast("double").alias("_pp"),
                *[F.lit(0).cast("long").alias(n) for n in state_cols],
            )
        else:
            j = cur.join(states, list(key_cols), "full_outer").select(
                *key_cols, "_rows", F.coalesce("_off", F.lit(0)).alias("_off"),
                F.col("_pp"),
                *[F.coalesce(n, F.lit(0)).alias(n) for n in state_cols],
            )
        folded = j.select(
            *key_cols,
            F.when(F.col("_rows").isNull(), F.expr(keep)).otherwise(F.expr(fold)).alias("_fs"),
        )
        states = folded.select(
            *key_cols,
            F.col("_fs.pp").alias("_pp"),
            *[F.col(f"_fs.{n.lstrip('_')}").alias(n) for n in state_cols],
        )
        ends_frames.append(
            folded.select(*key_cols, F.explode(F.col("_fs.ends")).alias("_e"))
        )
        if (i + 1) % checkpoint_every == 0:
            # NO supersede here: the ends frames of the rounds BETWEEN
            # checkpoints stay lazy and their lineage reads the previous
            # state checkpoint until the final union materializes — an
            # eager release breaks them (CHECKPOINT_RDD_BLOCK_ID_NOT_
            # FOUND). The barriers register with the build scope instead:
            # blocks live to the end of the build, released when the same
            # query is next built.
            states = barrier(states)
            ends_frames[-1] = barrier(ends_frames[-1])  # consumed post-loop
    ends = ends_frames[0]
    for frame in ends_frames[1:]:
        ends = ends.unionByName(frame)
    return ends


def tick_imbalance_bars_chunked(
    df: DataFrame,
    threshold: int,
    key_cols: list[str],
    order_col: str,
    price_col: str = "price",
    size_col: str = "volume",
    chunk_expr=None,
    checkpoint_every: int = 16,
) -> DataFrame:
    """`tick_imbalance_bars` for unbounded per-key histories — the same
    chunked carry-forward scheme as `ewma_last_chunked`, with the
    threaded boundary state being the full recursion state: (last
    price, carried tick-rule sign, running signed-size sum, sum at last
    bar close).

    Each (key, chunk) folds its own sorted row array in a bounded task;
    the epoch walk threads the state struct chunk-to-chunk and each
    epoch's fold emits that chunk's bar closes directly (no second
    pass). Global tick positions come from per-chunk row counts
    prefix-summed over the tiny chunk-summary frame, so `n_ticks`
    arithmetic matches the single-fold implementation exactly —
    results are bit-identical (pytest-gated).
    """
    from pyspark.sql import Window

    t = int(threshold)
    ord_t = dict(df.dtypes)[order_col]
    chunks, epochs = _chunked_tick_frames(
        df, key_cols, order_col, price_col, size_col, chunk_expr
    )
    end_t = f"struct<pos:bigint,ord:{ord_t},cum:bigint>"
    cum = f"acc.cum + ({_STEP_SIGN}) * x.size"
    closed = f"abs(({cum}) - acc.bcum) >= {t}"
    step = (
        f"(acc, x) -> named_struct("
        f"'pp', x.price, 'sg', {_STEP_SIGN}, 'cum', {cum}, "
        f"'bcum', if({closed}, {cum}, acc.bcum), 'pos', acc.pos + 1L, "
        f"'ends', if({closed}, array_append(acc.ends, "
        f"named_struct('pos', acc.pos + 1L, 'ord', x.ord, 'cum', {cum})), acc.ends))"
    )
    init = (
        f"named_struct('pp', _pp, 'sg', _sg, 'cum', _cum, 'bcum', _bcum, "
        f"'pos', _off, 'ends', cast(array() as array<{end_t}>))"
    )
    fold = (
        f"aggregate(_rows, {init}, {step}, acc -> named_struct("
        f"'pp', acc.pp, 'sg', acc.sg, 'cum', acc.cum, 'bcum', acc.bcum, 'ends', acc.ends))"
    )
    keep = (
        f"named_struct('pp', _pp, 'sg', _sg, 'cum', _cum, 'bcum', _bcum, "
        f"'ends', cast(array() as array<{end_t}>))"
    )
    ends = _chunked_state_walk(
        chunks, epochs, key_cols, ["_sg", "_cum", "_bcum"], fold, keep, checkpoint_every
    )
    wb = Window.partitionBy(*key_cols).orderBy("_e.pos")
    prev = lambda c: F.coalesce(F.lag(c).over(wb), F.lit(0))  # noqa: E731
    return ends.select(
        *key_cols,
        (F.row_number().over(wb) - 1).cast("long").alias("bar_idx"),
        F.col("_e.ord").alias(f"end_{order_col}"),
        (F.col("_e.pos") - prev("_e.pos")).cast("long").alias("n_ticks"),
        (F.col("_e.cum") - prev("_e.cum")).cast("long").alias("imbalance"),
    )

def tick_run_bars_chunked(
    df: DataFrame,
    threshold: int,
    key_cols: list[str],
    order_col: str,
    price_col: str = "price",
    size_col: str = "volume",
    chunk_expr=None,
    checkpoint_every: int = 16,
) -> DataFrame:
    """`tick_run_bars` for unbounded per-key histories — the chunked
    carry-forward of `tick_imbalance_bars_chunked` with the run-bar
    state: (last price, carried sign, buy-side cumulative, sell-side
    cumulative, both sides at last close). Bit-identical to the
    single-fold operator (pytest-gated)."""
    from pyspark.sql import Window

    t = int(threshold)
    ord_t = dict(df.dtypes)[order_col]
    chunks, epochs = _chunked_tick_frames(
        df, key_cols, order_col, price_col, size_col, chunk_expr
    )
    end_t = f"struct<pos:bigint,ord:{ord_t},cb:bigint,cs:bigint>"
    cb = f"acc.cb + if(({_STEP_SIGN}) > 0, x.size, 0L)"
    cs = f"acc.cs + if(({_STEP_SIGN}) < 0, x.size, 0L)"
    closed = f"greatest(({cb}) - acc.bb, ({cs}) - acc.bs) >= {t}"
    step = (
        f"(acc, x) -> named_struct("
        f"'pp', x.price, 'sg', {_STEP_SIGN}, 'cb', {cb}, 'cs', {cs}, "
        f"'bb', if({closed}, {cb}, acc.bb), 'bs', if({closed}, {cs}, acc.bs), "
        f"'pos', acc.pos + 1L, "
        f"'ends', if({closed}, array_append(acc.ends, "
        f"named_struct('pos', acc.pos + 1L, 'ord', x.ord, 'cb', {cb}, 'cs', {cs})), acc.ends))"
    )
    init = (
        f"named_struct('pp', _pp, 'sg', _sg, 'cb', _cb, 'cs', _cs, 'bb', _bb, 'bs', _bs, "
        f"'pos', _off, 'ends', cast(array() as array<{end_t}>))"
    )
    fold = (
        f"aggregate(_rows, {init}, {step}, acc -> named_struct("
        f"'pp', acc.pp, 'sg', acc.sg, 'cb', acc.cb, 'cs', acc.cs, "
        f"'bb', acc.bb, 'bs', acc.bs, 'ends', acc.ends))"
    )
    keep = (
        f"named_struct('pp', _pp, 'sg', _sg, 'cb', _cb, 'cs', _cs, 'bb', _bb, 'bs', _bs, "
        f"'ends', cast(array() as array<{end_t}>))"
    )
    ends = _chunked_state_walk(
        chunks, epochs, key_cols, ["_sg", "_cb", "_cs", "_bb", "_bs"], fold, keep, checkpoint_every
    )
    wb = Window.partitionBy(*key_cols).orderBy("_e.pos")
    prev = lambda c: F.coalesce(F.lag(c).over(wb), F.lit(0))  # noqa: E731
    return ends.select(
        *key_cols,
        (F.row_number().over(wb) - 1).cast("long").alias("bar_idx"),
        F.col("_e.ord").alias(f"end_{order_col}"),
        (F.col("_e.pos") - prev("_e.pos")).cast("long").alias("n_ticks"),
        (F.col("_e.cb") - prev("_e.cb")).cast("long").alias("buy_size"),
        (F.col("_e.cs") - prev("_e.cs")).cast("long").alias("sell_size"),
    )

def tick_run_bars(
    df: DataFrame,
    threshold: int,
    key_cols: list[str],
    order_col: str,
    price_col: str = "price",
    size_col: str = "volume",
) -> DataFrame:
    """Tick-run bars (López de Prado 2018 §2.3.2.2, fixed threshold):
    close a bar when EITHER side's accumulated size since the last close
    — buy-classified or sell-classified by the tick rule — reaches
    ``threshold``. Completes the information-driven family next to
    `tick_imbalance_bars` (net flow) and volume/dollar bars (gross
    activity clocks).

    Same plan: tick-rule sign + two one-sided integer prefix sums share
    one key partitioning; the boundary recursion (per-side totals reset
    at each close) is the per-key higher-order fold. Output:
    (key..., bar_idx, end_<order_col>, n_ticks, buy_size, sell_size).
    """
    pref = _run_rows(df, key_cols, order_col, price_col, size_col)
    t = int(threshold)
    fold = (
        "aggregate(_arr, "
        "named_struct('bb', bigint(0), 'bs', bigint(0), 'ends', array_repeat(_arr[0], 0)), "
        f"(acc, x) -> if(greatest(x._cb - acc.bb, x._cs - acc.bs) >= {t}, "
        "named_struct('bb', x._cb, 'bs', x._cs, 'ends', array_append(acc.ends, x)), acc), "
        "acc -> acc.ends)"
    )
    ends, prev = _fold_bars(pref, key_cols, fold)
    return ends.select(
        *key_cols,
        F.col("_b").cast("long").alias("bar_idx"),
        F.col("_e._ord").alias(f"end_{order_col}"),
        (F.col("_e._i") - prev("_e._i")).cast("long").alias("n_ticks"),
        (F.col("_e._cb") - prev("_e._cb")).cast("long").alias("buy_size"),
        (F.col("_e._cs") - prev("_e._cs")).cast("long").alias("sell_size"),
    )


def tick_run_bars_adaptive(
    df: DataFrame,
    initial_threshold: float,
    alpha: float,
    key_cols: list[str],
    order_col: str,
    price_col: str = "price",
    size_col: str = "volume",
) -> DataFrame:
    """Adaptive tick-run bars — the production form of `tick_run_bars`
    (López de Prado 2018 §2.3.2.2), completing the adaptive pair next
    to `tick_imbalance_bars_adaptive`: the close threshold is an EWMA
    of previous bars' triggering run magnitudes, so bar size tracks the
    current one-sided-flow regime. The k-th bar closes when EITHER
    side's accumulated size since the last close reaches ``thr_k``,
    with ``thr_0 = initial_threshold`` and
    ``thr_(k+1) = alpha·run_k + (1-alpha)·thr_k`` where ``run_k =
    max(buy_run_k, sell_run_k)`` is the magnitude that closed bar k.

    Same plan shape as the fixed form: tick-rule sign + two one-sided
    integer prefix sums share one key partitioning; the doubly-recursive
    boundary condition is the per-key higher-order fold. Output:
    (key..., bar_idx, end_<order_col>, n_ticks, buy_size, sell_size,
    threshold) — ``threshold`` is the thr_k the bar closed against.
    Gated by a pure-pandas reference loop (pytest), not a SQL oracle:
    like the adaptive imbalance bars, the recursion has no tractable
    recursive-CTE form.
    """
    a = float(alpha)
    pref = _run_rows(df, key_cols, order_col, price_col, size_col)
    t0 = float(initial_threshold)
    ord_t = dict(df.dtypes)[order_col]
    run = "double(greatest(x._cb - acc.bb, x._cs - acc.bs))"
    fold = (
        "aggregate(_arr, "
        f"named_struct('bb', bigint(0), 'bs', bigint(0), 'thr', double({t0}), "
        f"'ends', cast(array() as array<struct<_i:bigint,_ord:{ord_t},_cb:bigint,_cs:bigint,_thr:double>>)), "
        f"(acc, x) -> if({run} >= acc.thr, "
        "named_struct('bb', x._cb, 'bs', x._cs, "
        # D suffix: bare 0.3 parses as DECIMAL in Spark SQL; the EWMA
        # here must run in doubles to match float references
        f"'thr', {a}D * {run} + {1.0 - a}D * acc.thr, "
        "'ends', array_append(acc.ends, named_struct("
        "'_i', bigint(x._i), '_ord', x._ord, '_cb', x._cb, '_cs', x._cs, '_thr', acc.thr))), "
        "acc), "
        "acc -> acc.ends)"
    )
    ends, prev = _fold_bars(pref, key_cols, fold)
    return ends.select(
        *key_cols,
        F.col("_b").cast("long").alias("bar_idx"),
        F.col("_e._ord").alias(f"end_{order_col}"),
        (F.col("_e._i") - prev("_e._i")).cast("long").alias("n_ticks"),
        (F.col("_e._cb") - prev("_e._cb")).cast("long").alias("buy_size"),
        (F.col("_e._cs") - prev("_e._cs")).cast("long").alias("sell_size"),
        F.col("_e._thr").alias("threshold"),
    )
