"""Exponential smoothing and tick bars — the sequential-recursion primitives.

EWMA (``y_1 = x_1``, ``y_t = a*x_t + (1-a)*y_{t-1}``, pandas
``ewm(adjust=False)``) is the textbook example of an operator a window
function cannot express: the closed-form weight ``(1-a)^(t-i)``
underflows/overflows for long series, so the robust formulation is the
recursion itself. Tick bars (López de Prado 2018 §2.3.2) are another:
where a bar closes depends on where the previous one closed.

One shape runs every recursion here: a per-key ``collect_list`` sorted
by the order column, then a Catalyst higher-order ``aggregate`` fold of
one step from a state struct — JVM-side, no UDF, no window, one shuffle
on the key. `_ewma_step` and `_bar_step` build the steps; a step maps a
seed state to the state after the key's (or chunk's) sorted ``_rows``.
The tick-bar step carries the last price ``pp`` and the tick-rule sign
``sg`` (`_tick_rule`), the run since the last close (``imb`` for imbalance
bars, ``rb``/``rs`` for run bars), the ticks since the last close
``n``, the bars closed so far ``b`` and, for the adaptive forms, the
threshold ``thr``. Each tick runs ``if(closed, <reset>, <continue>)``;
a closing tick appends the finished bar to ``out``. A NULL size counts
as 0.

Scale contract: a whole-series operator folds its step from the zero
state over the key's whole series inside one task; keys distribute
freely. At 100 TB with bounded per-key history (the finance norm: one
symbol's ticks) this holds. For unbounded per-key series the
``*_chunked`` variants fold the same step per chunk span:
`_chunk_frames` groups each (key, chunk) into its sorted array once,
and `_epoch_walk` threads one state column across the epochs in chunk
order, seeding each chunk's fold with the carried state and emitting
each epoch's rows. The operand sequence is unchanged, so the chunked
results are bit-identical to the whole-series ones.

The fold's float operand order is deterministic (same sequence, same
constants), which makes it bit-reproducible across engines — DuckDB's
``list_reduce`` implements the identical left fold.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from financedatabase_spark.session import barrier, release_barrier


def _sorted_rows(order_col: str, **fields):
    """A key's (or chunk's) rows as one array sorted by order:
    struct(ord, <fields>...)."""
    cols = [c.alias(name) for name, c in fields.items()]
    return F.array_sort(F.collect_list(F.struct(F.col(order_col).alias("ord"), *cols)))


def _struct(fields: dict) -> str:
    return "named_struct(" + ", ".join(f"'{k}', {v}" for k, v in fields.items()) + ")"


def _ewma_step(a: float, ord_t: str, series: bool):
    """(zero, step) of the EWMA fold. The state is struct(level, n[,
    out]): the level after the ``n`` values folded so far and, for the
    per-row ``series``, this fold's struct(ord, ewma_value) rows. A
    first fold (``n = 0``) seeds the level with its head value, as
    pandas does; a later one continues from the carried level."""
    new = f"{a} * double(r.x) + {1.0 - a} * acc{'.level' if series else ''}"
    head = "double(_rows[0].x)"
    if series:
        zero = (
            "named_struct('level', double(null), 'n', 0L, 'out', "
            f"cast(array() as array<struct<ord:{ord_t},ewma_value:double>>))"
        )
        merge = f"named_struct('level', {new}, 'outs', array_append(acc.outs, {new}))"
        first = f"named_struct('level', {head}, 'outs', array({head}))"
        carry = "named_struct('level', {s}.level, 'outs', cast(array() as array<double>))"
        finish = (
            "acc -> named_struct('level', acc.level, 'n', {s}.n + size(_rows), 'out', "
            "zip_with(_rows, acc.outs, (r, y) -> named_struct('ord', r.ord, 'ewma_value', y)))"
        )
    else:
        zero = "named_struct('level', double(null), 'n', 0L)"
        merge, first, carry = new, head, "{s}.level"
        finish = "acc -> named_struct('level', acc, 'n', {s}.n + size(_rows))"

    def step(s: str) -> str:
        fold = f"(acc, r) -> {merge}, {finish.format(s=s)}"
        return (
            f"if({s}.n = 0, aggregate(slice(_rows, 2, size(_rows) - 1), {first}, {fold}), "
            f"aggregate(_rows, {carry.format(s=s)}, {fold}))"
        )

    return zero, step


def _tick_rule(body) -> str:
    """The tick rule as one fold step: ``body(s)`` under the tick's sign
    ``s`` — 1 when the price rose from the last price ``acc.pp``, -1
    when it fell, and the carried sign ``acc.sg`` on a zero change, a
    NULL price or the first tick (0 until the first nonzero change).
    Each branch sees ``s`` as a plain term, so the sign is decided once
    per tick and, as a literal, folds away inside ``body``."""
    up, down, flat = body("1L"), body("-1L"), body("acc.sg")
    return f"if(x.price > acc.pp, {up}, if(x.price < acc.pp, {down}, {flat}))"


def _bar_step(run: bool, ord_t: str, threshold: float, alpha: float | None):
    """(zero, step, fields) of a tick-bar fold: imbalance or ``run``
    bars, against a fixed ``threshold`` or, with ``alpha``, an EWMA
    threshold starting at ``threshold``. ``fields`` are the bar rows'
    fields in output order."""
    runs = ["rb", "rs"] if run else ["imb"]
    row = {"bar_idx": "bigint", "ord": ord_t, "n_ticks": "bigint"}
    row.update({f: "bigint" for f in (["buy_size", "sell_size"] if run else ["imbalance"])})
    zero = {"pp": "double(null)", "sg": "0L", **{k: "0L" for k in runs}, "n": "0L", "b": "0L"}
    if alpha is not None:
        row["threshold"] = "double"
        zero["thr"] = f"double({float(threshold)})"
    row_t = ",".join(f"{f}:{t}" for f, t in row.items())
    zero["out"] = f"cast(array() as array<struct<{row_t}>>)"

    def body(s: str) -> str:
        if run:
            new = [f"acc.rb + if({s} > 0, x.size, 0L)", f"acc.rs + if({s} < 0, x.size, 0L)"]
            mag = f"greatest({new[0]}, {new[1]})"
        else:
            new = [f"acc.imb + {s} * x.size"]
            mag = f"abs({new[0]})"
        bar = ["acc.b", "x.ord", "acc.n + 1L", *new] + ([] if alpha is None else ["acc.thr"])
        reset = {"pp": "x.price", "sg": s, **{k: "0L" for k in runs}, "n": "0L", "b": "acc.b + 1L"}
        cont = {"pp": "x.price", "sg": s, **dict(zip(runs, new)), "n": "acc.n + 1L", "b": "acc.b"}
        if alpha is None:
            closed = f"{mag} >= {int(threshold)}"
        else:
            a = float(alpha)
            closed = f"double({mag}) >= acc.thr"
            # D suffix: a bare 0.3 parses as DECIMAL in Spark SQL; the
            # EWMA here must run in doubles to match float references
            reset["thr"] = f"{a}D * double({mag}) + {1.0 - a}D * acc.thr"
            cont["thr"] = "acc.thr"
        reset["out"] = f"array_append(acc.out, {_struct(dict(zip(row, bar)))})"
        cont["out"] = "acc.out"
        return f"if({closed}, {_struct(reset)}, {_struct(cont)})"

    def step(s: str) -> str:
        return f"aggregate(_rows, {s}, (acc, x) -> {_tick_rule(body)})"

    return _struct(zero), step, list(row)


def _whole(df: DataFrame, key_cols: list[str], rows, zero: str, step) -> DataFrame:
    """(key..., _st): each key's state after folding ``step`` from
    ``zero`` over its whole sorted series."""
    return df.groupBy(*key_cols).agg(rows.alias("_rows")).select(
        *key_cols, F.expr(step(zero)).alias("_st")
    )


def _chunk_frames(df: DataFrame, key_cols: list[str], chunk_expr, rows):
    """(key..., _chunk, _rows) per (key, chunk), materialized once (the
    epoch walk filters it once per epoch), and the ordered list of chunk
    epochs (one scalar per chunk span, collected once).

    ``chunk_expr`` is a Column (or column name) that buckets rows into
    spans monotone in the order column. A NULL chunk id forms its own
    epoch, matched null-safely in the walk (never silently dropped) and
    ordered FIRST (Spark's ASC NULLS FIRST) — but chunk ids should be
    non-null and monotone in the order column; a NULL chunk has no
    defined position in the recursion."""
    if chunk_expr is None:
        raise ValueError(
            "chunk_expr is required: pass a Column (or column name) that buckets "
            "rows into spans monotone in the order column, e.g. "
            "F.date_trunc('month', ts) or F.floor(F.col('seq') / 100000)"
        )
    chunk = F.col(chunk_expr) if isinstance(chunk_expr, str) else chunk_expr
    chunks = barrier(
        df.withColumn("_chunk", chunk).groupBy(*key_cols, "_chunk").agg(rows.alias("_rows"))
    )
    epochs = [r[0] for r in chunks.select("_chunk").distinct().orderBy("_chunk").collect()]
    return chunks, epochs


def _epoch_walk(
    df: DataFrame,
    key_cols: list[str],
    chunk_expr,
    checkpoint_every: int,
    rows,
    zero: str,
    step,
    emit: bool,
):
    """Fold ``step`` chunk by chunk in epoch order: each epoch's chunks
    join the carried state column ``_st`` on the key (null-safe, full
    outer; a key absent from the epoch keeps its state, a new key starts
    from ``zero``) and fold their ``_rows`` from it in bounded tasks.
    Lineage is truncated every ``checkpoint_every`` epochs.

    Returns (key..., _st) after the last epoch and, with ``emit``, the
    union of every epoch's ``_st.out`` rows as (key..., _e); the carried
    state drops them."""
    chunks, epochs = _chunk_frames(df, key_cols, chunk_expr, rows)
    keys = [f"_k{i}" for i in range(len(key_cols))]  # the carried state's key columns
    on = reduce(lambda p, q: p & q, [F.col(k).eqNullSafe(F.col(c)) for k, c in zip(key_cols, keys)])
    state = chunks.limit(0).select(
        *[F.col(k).alias(c) for k, c in zip(key_cols, keys)], F.expr(zero).alias("_st")
    )
    emitted = [state.select(*keys, F.explode("_st.out").alias("_e"))] if emit else []
    prev = None
    for i, ep in enumerate(epochs):
        cur = chunks.filter(F.col("_chunk").eqNullSafe(F.lit(ep)))
        state = cur.join(state, on, "full_outer").select(
            *[F.coalesce(k, c).alias(c) for k, c in zip(key_cols, keys)],
            F.when(F.col("_rows").isNull(), F.col("_st"))
            .otherwise(F.expr(step(f"coalesce(_st, {zero})")))
            .alias("_st"),
        )
        if emit:
            emitted.append(state.select(*keys, F.explode("_st.out").alias("_e")))
            state = state.select(
                *keys, F.col("_st").withField("out", F.expr("slice(_st.out, 1, 0)")).alias("_st")
            )
        if (i + 1) % checkpoint_every == 0 and i + 1 < len(epochs):
            state = barrier(state)
            if emit:
                # NO supersede: the emitted frames of the epochs between
                # checkpoints stay lazy and their lineage reads the
                # previous state checkpoint until the final union runs —
                # an eager release breaks them (CHECKPOINT_RDD_BLOCK_ID_
                # NOT_FOUND). These barriers register with the build
                # scope instead and are released at the next build.
                emitted[-1] = barrier(emitted[-1])
            else:
                release_barrier(prev)  # superseded by the new eager ckpt
                prev = state
    named = [F.col(c).alias(k) for k, c in zip(key_cols, keys)]
    rows_out = reduce(DataFrame.unionByName, emitted).select(*named, "_e") if emit else None
    return state.select(*named, "_st"), rows_out


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
    zero, step = _ewma_step(float(alpha), dict(df.dtypes)[order_col], series=False)
    return _whole(df, key_cols, _sorted_rows(order_col, x=F.col(value_col)), zero, step).select(
        *key_cols, F.col("_st.level").alias("ewma_value"), F.col("_st.n").alias("n")
    )


def ewma_series(
    df: DataFrame,
    alpha: float,
    key_cols: list[str],
    order_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Per-row EWMA series: every input row with its smoothed value —
    the scanl form of the fold (the accumulator carries the level and
    the outputs so far), exploded against the sorted order keys. Same
    single-shuffle plan; output size equals input size."""
    zero, step = _ewma_step(float(alpha), dict(df.dtypes)[order_col], series=True)
    st = _whole(df, key_cols, _sorted_rows(order_col, x=F.col(value_col)), zero, step)
    return st.select(*key_cols, F.explode("_st.out").alias("_e")).select(
        *key_cols, F.col("_e.ord").alias(order_col), F.col("_e.ewma_value")
    )


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
    chunks in bounded tasks and thread the level across chunks in epoch
    order (`_epoch_walk`).

    ``chunk_expr`` is a Column (or column name) that buckets rows into
    coarse spans monotone in ``order_col`` (e.g.
    ``F.date_trunc('month', ts)`` or ``F.floor(F.col('seq') / 100_000)``).
    Each (key, chunk) becomes one sorted array — task memory is bounded
    by the chunk span, never the key's full history — and the chunk
    frame materializes exactly once. Keys absent from an epoch carry
    their level through; lineage is truncated every
    ``checkpoint_every`` epochs.

    Bit-equality contract: a chunk folds with the carried level as the
    initial accumulator, so the multiply/add sequence is IDENTICAL to
    the whole-series fold — results match `ewma_last` exactly, not just
    approximately (pytest-gated). The parallel-scan alternative
    (per-chunk affine maps ``(1-a)^n·L + P`` composed associatively)
    would be O(1) passes but reassociates float ops; we take one lazy
    join per epoch instead — epochs are coarse (months/shards), so the
    chain stays short while tasks stay bounded.
    """
    zero, step = _ewma_step(float(alpha), dict(df.dtypes)[order_col], series=False)
    state, _ = _epoch_walk(
        df, key_cols, chunk_expr, checkpoint_every, _sorted_rows(order_col, x=F.col(value_col)),
        zero, step, emit=False,
    )
    return state.select(
        *key_cols, F.col("_st.level").alias("ewma_value"), F.col("_st.n").alias("n")
    )


def ewma_series_chunked(
    df: DataFrame,
    alpha: float,
    key_cols: list[str],
    order_col: str,
    value_col: str = "value",
    chunk_expr=None,
    checkpoint_every: int = 16,
) -> DataFrame:
    """`ewma_series` for unbounded per-key histories: the epoch walk of
    `ewma_last_chunked` with the scanl step, each chunk emitting its
    rows as it folds from the carried level. The emitted series is
    bit-identical to `ewma_series` (same operand sequence per row)."""
    zero, step = _ewma_step(float(alpha), dict(df.dtypes)[order_col], series=True)
    _, rows = _epoch_walk(
        df, key_cols, chunk_expr, checkpoint_every, _sorted_rows(order_col, x=F.col(value_col)),
        zero, step, emit=True,
    )
    return rows.select(*key_cols, F.col("_e.ord").alias(order_col), F.col("_e.ewma_value"))


def _bars(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    price_col: str,
    size_col: str,
    run: bool,
    threshold: float,
    alpha: float | None = None,
    chunking: tuple | None = None,
) -> DataFrame:
    """The tick-bar operators: fold `_bar_step` over each key's whole
    series, or with ``chunking`` = (chunk_expr, checkpoint_every) walk
    it chunk by chunk, and return one row per closed bar."""
    zero, step, fields = _bar_step(run, dict(df.dtypes)[order_col], threshold, alpha)
    rows = _sorted_rows(
        order_col,
        price=F.col(price_col).cast("double"),
        size=F.coalesce(F.col(size_col).cast("long"), F.lit(0)),  # a NULL size counts as 0
    )
    if chunking is None:
        st = _whole(df, key_cols, rows, zero, step)
        bars = st.select(*key_cols, F.explode("_st.out").alias("_e"))
    else:
        _, bars = _epoch_walk(df, key_cols, *chunking, rows, zero, step, emit=True)
    return bars.select(
        *key_cols,
        *[F.col(f"_e.{f}").alias(f"end_{order_col}" if f == "ord" else f) for f in fields],
    )


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
    trick exists), so it is one higher-order fold over the per-key
    series (same distribution contract as `ewma_last`). ``size_col``
    must be integral so the running sums are exact — the threshold
    comparison then has no float ambiguity on any engine.

    Output: (key..., bar_idx, end_<order_col>, n_ticks, imbalance).
    """
    return _bars(df, key_cols, order_col, price_col, size_col, False, threshold)


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
    regime instead of a fixed constant. The k-th bar closes when
    ``|imbalance since the last close| >= thr_k`` with
    ``thr_0 = initial_threshold`` and
    ``thr_(k+1) = alpha·|imbalance_k| + (1-alpha)·thr_k`` — the EWMA
    threaded through the bar step's state.

    Output: (key..., bar_idx, end_<order_col>, n_ticks, imbalance,
    threshold) — ``threshold`` is the thr_k the bar closed against.
    """
    return _bars(
        df, key_cols, order_col, price_col, size_col, False, initial_threshold, alpha
    )


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
    """`tick_imbalance_bars` for unbounded per-key histories: the same
    bar step, folded chunk by chunk by the epoch walk of
    `ewma_last_chunked` with the whole bar state (last price, carried
    sign, imbalance and ticks since the last close, bars so far)
    carried across chunk boundaries. Each epoch's fold emits that
    chunk's bar closes directly; results are bit-identical to the
    whole-series operator (pytest-gated)."""
    return _bars(
        df, key_cols, order_col, price_col, size_col, False, threshold,
        chunking=(chunk_expr, checkpoint_every),
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
    activity clocks). Same plan: one per-key fold whose state resets
    both sides at each close. Output:
    (key..., bar_idx, end_<order_col>, n_ticks, buy_size, sell_size).
    """
    return _bars(df, key_cols, order_col, price_col, size_col, True, threshold)


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

    Output: (key..., bar_idx, end_<order_col>, n_ticks, buy_size,
    sell_size, threshold) — ``threshold`` is the thr_k the bar closed
    against.
    """
    return _bars(
        df, key_cols, order_col, price_col, size_col, True, initial_threshold, alpha
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
    walk of `tick_imbalance_bars_chunked` over the run-bar step (buy and
    sell runs since the last close). Bit-identical to the whole-series
    operator (pytest-gated)."""
    return _bars(
        df, key_cols, order_col, price_col, size_col, True, threshold,
        chunking=(chunk_expr, checkpoint_every),
    )
