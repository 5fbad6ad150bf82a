"""Grouped analytics queries (SURVEY.md §2.4 A3–A8, §2.5 W1–W3).

Decimal casts are used for double sums so Spark and DuckDB produce
bit-identical results regardless of summation order (doubles are summed in
partition order, which differs between engines; decimals are exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from financedatabase_spark.plans.registry import register
from financedatabase_spark.sources.readers import load_table


@register(
    "group_mean_transform",
    oracle="""
    SELECT event_id, ts, event_type, value,
           CAST(CAST(sum(CAST(floor(value * 1e6 + 0.5e0) AS BIGINT)) OVER w
                     AS BIGINT) AS DOUBLE) / 1e6
             / count(value) OVER w AS day_mean
    FROM events
    WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE))
    """,
)
def group_mean_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/W3 — per-group mean broadcast back to rows
    (reference: v2.py:2063 `groupby('date').transform('mean')`).
    Window aggregate: one shuffle on the partition key, no join-back.
    The mean is an exact integer-micro-unit sum / count so the result is
    bit-identical regardless of each engine's partition summation order
    AND engine-portable (a double→DECIMAL cast is not — Spark converts
    via shortest decimal repr, DuckDB via the exact binary value; see
    queries_market.realized_volatility)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", F.to_date("ts"))
    units = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
    mean = (
        F.sum(units).over(w).cast("double") / F.lit(1e6)
        / F.count("value").over(w)
    )
    return ev.select("event_id", "ts", "event_type", "value", mean.alias("day_mean"))


@register(
    "argmin_per_group",
    oracle="""
    SELECT event_type, date, value AS representative_value, event_id FROM (
      SELECT event_type, date, value, event_id,
             row_number() OVER (
               PARTITION BY event_type, date
               ORDER BY abs(value - day_mean) ASC, event_id DESC
             ) AS rn
      FROM (
        SELECT event_type, CAST(ts AS DATE) AS date, value, event_id,
               CAST(CAST(sum(CAST(floor(value * 1e6 + 0.5e0) AS BIGINT)) OVER w
                         AS BIGINT) AS DOUBLE) / 1e6
                 / count(value) OVER w AS day_mean
        FROM events
        WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE))
      )
    ) WHERE rn = 1
    """,
)
def argmin_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — per-group argmin selection: the row whose value is closest to
    the group mean, dedup keep-last on ties
    (reference: v2.py:2064-2069 idxmin + keep-last)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("date"), "value", "event_id"
    )
    wmean = Window.partitionBy("event_type", "date")
    units = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
    day_mean = (
        F.sum(units).over(wmean).cast("double") / F.lit(1e6)
        / F.count("value").over(wmean)
    )
    wrank = Window.partitionBy("event_type", "date").orderBy(
        F.abs(F.col("value") - day_mean).asc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(wrank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("date").cast("timestamp_ntz").alias("date"),
            F.col("value").alias("representative_value"),
            "event_id",
        )
    )


@register(
    "count_guard",
    oracle="""
    SELECT count(*)::BIGINT AS n_matched
    FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 100000
    """,
)
def count_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — predicate match-count guard before DML
    (reference: SQLHelpers.py:304, :731-736)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 100000)).agg(
        F.count("*").alias("n_matched")
    )


def table_row_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — per-table row counts diagnostic
    (reference: db_management.py:983-1001)."""
    frames = []
    for t in ("orders", "lineitem", "customer", "events"):
        frames.append(
            load_table(spark, sf_dir, t).agg(F.count("*").alias("n")).select(
                F.lit(t).alias("table_name"), "n"
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def na_dup_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — NA/duplicate-count observability before save
    (reference: SQLHelpers.py:899-907)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.sum(
            F.when(F.col("value").isNull() | F.col("props").isNull(), 1).otherwise(0)
        ).alias("n_na_rows"),
        (F.count("*") - F.count_distinct(F.struct("user_id", "event_type"))).alias("n_key_dups"),
        F.count("*").alias("n_rows"),
    )


@register(
    "distinct_values",
    oracle="SELECT DISTINCT o_orderpriority FROM orders",
)
def distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — distinct value listing (reference: db_management.py:512-544)."""
    return load_table(spark, sf_dir, "orders").select("o_orderpriority").distinct()


@register(
    "forward_fill",
    oracle="""
    SELECT event_id, user_id, ts,
           last(purchase_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'purchase' THEN value END AS purchase_value
      FROM events
    )
    """,
)
def forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — forward-fill over time per key
    (reference: utils.py:322, :387-399 `.ffill()`)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("purchase_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.last("purchase_value", ignorenulls=True).over(w).alias("filled_value"),
    )


@register(
    "table_diagnostics",
    oracle="""
    SELECT 'rows_orders' AS metric, count(*)::BIGINT AS value FROM orders
    UNION ALL SELECT 'rows_lineitem', count(*)::BIGINT FROM lineitem
    UNION ALL SELECT 'rows_customer', count(*)::BIGINT FROM customer
    UNION ALL SELECT 'rows_events', count(*)::BIGINT FROM events
    UNION ALL SELECT 'na_rows_events',
      sum(CASE WHEN value IS NULL OR props IS NULL THEN 1 ELSE 0 END)::BIGINT FROM events
    UNION ALL SELECT 'key_dups_events',
      (count(*) - count(DISTINCT (user_id, event_type)))::BIGINT FROM events
    """,
)
def table_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+A7 in one driver row — observability diagnostics as a tall
    (metric, value) frame: per-table row counts (reference:
    db_management.py:983-1001) plus NA-row and duplicate-key counts before
    save (reference: SQLHelpers.py:899-907). Counts are map-side partial
    aggregates; the union is shuffle-free. (Consolidated from the r1
    table_row_counts / na_dup_diagnostics registrations to fit the
    driver's 50-query check budget.)"""
    counts = table_row_counts(spark, sf_dir).select(
        F.concat(F.lit("rows_"), F.col("table_name")).alias("metric"),
        F.col("n").alias("value"),
    )
    nadup = na_dup_diagnostics(spark, sf_dir)
    tall = nadup.select(
        F.lit("na_rows_events").alias("metric"), F.col("n_na_rows").cast("long").alias("value")
    ).unionByName(
        nadup.select(F.lit("key_dups_events").alias("metric"), F.col("n_key_dups").cast("long").alias("value"))
    )
    return counts.unionByName(tall)


@register(
    "ewma_smoothing",
    oracle="""
    SELECT event_type,
           list_reduce(list(value ORDER BY event_id),
                       (acc, x) -> 0.2 * x + 0.8 * acc) AS ewma_value,
           count(*)::BIGINT AS n
    FROM events GROUP BY event_type
    """,
)
def ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key EWMA level (operators/smoothing.ewma_last, alpha=0.2):
    the sequential recursion y_t = a*x_t + (1-a)*y_(t-1) no window
    function can express, run as a Catalyst higher-order `aggregate`
    fold over the event_id-ordered series — JVM-side, one shuffle. The
    oracle is DuckDB's list_reduce: the identical left fold, so the
    result is bit-equal (same operand order, same constants)."""
    from financedatabase_spark.operators.smoothing import ewma_last

    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    return ewma_last(ev, 0.2, ["event_type"], "event_id", "value")


@register(
    "ewma_chunked",
    oracle="""
    SELECT event_type,
           list_reduce(list(value ORDER BY event_id),
                       (acc, x) -> 0.2 * x + 0.8 * acc) AS ewma_value,
           count(*)::BIGINT AS n
    FROM events GROUP BY event_type
    """,
)
def ewma_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked carry-forward EWMA (operators/smoothing.ewma_last_chunked):
    the unbounded-key variant — fold fixed-span chunks (2000 event_ids
    per epoch) in bounded tasks, thread the boundary accumulator across
    epochs. The oracle is the SAME whole-series list_reduce as
    `ewma_smoothing` because the chunked fold is bit-identical: each
    chunk folds with the carried level as its initial accumulator, so
    the multiply/add operand sequence never changes."""
    from financedatabase_spark.operators.smoothing import ewma_last_chunked

    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    return ewma_last_chunked(
        ev, 0.2, ["event_type"], "event_id", "value",
        chunk_expr=F.floor(F.col("event_id") / 2000),
    )


@register(
    "tick_imbalance_bars",
    oracle="""
    WITH RECURSIVE pref AS MATERIALIZED (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS i,
             event_id,
             CAST(sum(sv) OVER (PARTITION BY event_type ORDER BY event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM (
        SELECT event_type, event_id,
               CAST(coalesce(last_value(CASE WHEN sgn <> 0 THEN sgn END IGNORE NULLS)
                    OVER (PARTITION BY event_type ORDER BY event_id
                          ROWS UNBOUNDED PRECEDING), 0) AS BIGINT)
                 * (event_id % 7 + 1) AS sv
        FROM (
          SELECT event_type, event_id,
                 sign(value - lag(value) OVER (PARTITION BY event_type
                                               ORDER BY event_id)) AS sgn
          FROM events
        )
      )
    ),
    bounds(event_type, bar_idx, i, end_event_id, cum) AS (
      SELECT DISTINCT event_type, -1, 0, CAST(NULL AS BIGINT), CAST(0 AS BIGINT)
      FROM pref
      UNION ALL
      SELECT b.event_type, b.bar_idx + 1, p.i, p.event_id, p.cum
      FROM bounds b, LATERAL (
        SELECT q.i, q.event_id, q.cum
        FROM pref q
        WHERE q.event_type = b.event_type AND q.i > b.i
          AND abs(q.cum - b.cum) >= 50
        ORDER BY q.i LIMIT 1
      ) p
    ),
    pairs AS (
      SELECT event_type, bar_idx, i, end_event_id, cum,
             lag(i, 1) OVER (PARTITION BY event_type ORDER BY bar_idx) AS prev_i,
             lag(cum, 1) OVER (PARTITION BY event_type ORDER BY bar_idx) AS prev_cum
      FROM bounds
    )
    SELECT event_type, bar_idx::BIGINT AS bar_idx, end_event_id,
           (i - prev_i)::BIGINT AS n_ticks, (cum - prev_cum)::BIGINT AS imbalance
    FROM pairs WHERE bar_idx >= 0
    """,
)
def tick_imbalance_bars_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-imbalance bars (operators/smoothing.tick_imbalance_bars,
    threshold 50): one Catalyst higher-order fold per key carries the
    tick-rule sign and the exact integer signed size since the last
    close, and closes a bar when its magnitude reaches the threshold.
    The oracle expresses the same recursion as a boundary-to-boundary
    recursive CTE (one step per bar) over exact prefix sums — integer
    state on both engines, so there is no float ambiguity at the
    threshold."""
    from financedatabase_spark.operators.smoothing import tick_imbalance_bars

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("value").alias("price"),
        (F.col("event_id") % 7 + 1).cast("long").alias("volume"),
    )
    return tick_imbalance_bars(ev, 50, ["event_type"], "event_id")


@register(
    "tick_run_bars",
    oracle="""
    WITH RECURSIVE pref AS MATERIALIZED (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS i,
             event_id,
             CAST(sum(CASE WHEN sgn > 0 THEN sz ELSE 0 END)
                  OVER (PARTITION BY event_type ORDER BY event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb,
             CAST(sum(CASE WHEN sgn < 0 THEN sz ELSE 0 END)
                  OVER (PARTITION BY event_type ORDER BY event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
      FROM (
        SELECT event_type, event_id, (event_id % 7 + 1)::BIGINT AS sz,
               CAST(coalesce(last_value(CASE WHEN sgn0 <> 0 THEN sgn0 END IGNORE NULLS)
                    OVER (PARTITION BY event_type ORDER BY event_id
                          ROWS UNBOUNDED PRECEDING), 0) AS BIGINT) AS sgn
        FROM (
          SELECT event_type, event_id,
                 sign(value - lag(value) OVER (PARTITION BY event_type
                                               ORDER BY event_id)) AS sgn0
          FROM events
        )
      )
    ),
    bounds(event_type, bar_idx, i, end_event_id, cb, cs) AS (
      SELECT DISTINCT event_type, -1, 0, CAST(NULL AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      FROM pref
      UNION ALL
      SELECT b.event_type, b.bar_idx + 1, p.i, p.event_id, p.cb, p.cs
      FROM bounds b, LATERAL (
        SELECT q.i, q.event_id, q.cb, q.cs
        FROM pref q
        WHERE q.event_type = b.event_type AND q.i > b.i
          AND greatest(q.cb - b.cb, q.cs - b.cs) >= 150
        ORDER BY q.i LIMIT 1
      ) p
    ),
    pairs AS (
      SELECT event_type, bar_idx, i, end_event_id, cb, cs,
             lag(i, 1) OVER (PARTITION BY event_type ORDER BY bar_idx) AS prev_i,
             lag(cb, 1) OVER (PARTITION BY event_type ORDER BY bar_idx) AS prev_cb,
             lag(cs, 1) OVER (PARTITION BY event_type ORDER BY bar_idx) AS prev_cs
      FROM bounds
    )
    SELECT event_type, bar_idx::BIGINT AS bar_idx, end_event_id,
           (i - prev_i)::BIGINT AS n_ticks,
           (cb - prev_cb)::BIGINT AS buy_size,
           (cs - prev_cs)::BIGINT AS sell_size
    FROM pairs WHERE bar_idx >= 0
    """,
)
def tick_run_bars_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tick-run bars (operators/smoothing.tick_run_bars, threshold 150):
    bars close when either side's tick-rule-classified size run reaches
    the threshold — the one-sided counterpart of `tick_imbalance_bars`,
    same exact-integer boundary recursion, same boundary-stepping
    recursive-CTE oracle."""
    from financedatabase_spark.operators.smoothing import tick_run_bars

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("value").alias("price"),
        (F.col("event_id") % 7 + 1).cast("long").alias("volume"),
    )
    return tick_run_bars(ev, 150, ["event_type"], "event_id")


@register(
    "tick_run_bars_adaptive",
    oracle="""
    WITH RECURSIVE pref AS MATERIALIZED (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS i,
             event_id,
             CAST(sum(CASE WHEN sgn > 0 THEN sz ELSE 0 END)
                  OVER (PARTITION BY event_type ORDER BY event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb,
             CAST(sum(CASE WHEN sgn < 0 THEN sz ELSE 0 END)
                  OVER (PARTITION BY event_type ORDER BY event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
      FROM (
        SELECT event_type, event_id, (event_id % 7 + 1)::BIGINT AS sz,
               CAST(coalesce(last_value(CASE WHEN sgn0 <> 0 THEN sgn0 END IGNORE NULLS)
                    OVER (PARTITION BY event_type ORDER BY event_id
                          ROWS UNBOUNDED PRECEDING), 0) AS BIGINT) AS sgn
        FROM (
          SELECT event_type, event_id,
                 sign(value - lag(value) OVER (PARTITION BY event_type
                                               ORDER BY event_id)) AS sgn0
          FROM events
        )
      )
    ),
    bounds(event_type, bar_idx, i, end_event_id, cb, cs, thr) AS (
      SELECT DISTINCT event_type, -1, 0, CAST(NULL AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(150 AS DOUBLE)
      FROM pref
      UNION ALL
      SELECT b.event_type, b.bar_idx + 1, p.i, p.event_id, p.cb, p.cs,
             0.25::DOUBLE * greatest(p.cb - b.cb, p.cs - b.cs)
               + 0.75::DOUBLE * b.thr
      FROM bounds b, LATERAL (
        SELECT q.i, q.event_id, q.cb, q.cs
        FROM pref q
        WHERE q.event_type = b.event_type AND q.i > b.i
          AND greatest(q.cb - b.cb, q.cs - b.cs) >= b.thr
        ORDER BY q.i LIMIT 1
      ) p
    ),
    pairs AS (
      SELECT event_type, bar_idx, i, end_event_id, cb, cs,
             lag(i, 1) OVER (PARTITION BY event_type ORDER BY bar_idx) AS prev_i,
             lag(cb, 1) OVER (PARTITION BY event_type ORDER BY bar_idx) AS prev_cb,
             lag(cs, 1) OVER (PARTITION BY event_type ORDER BY bar_idx) AS prev_cs,
             lag(thr, 1) OVER (PARTITION BY event_type ORDER BY bar_idx) AS closed_thr
      FROM bounds
    )
    SELECT event_type, bar_idx::BIGINT AS bar_idx, end_event_id,
           (i - prev_i)::BIGINT AS n_ticks,
           (cb - prev_cb)::BIGINT AS buy_size,
           (cs - prev_cs)::BIGINT AS sell_size,
           closed_thr AS threshold
    FROM pairs WHERE bar_idx >= 0
    """,
)
def tick_run_bars_adaptive_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive tick-run bars (operators/smoothing.tick_run_bars_adaptive,
    thr_0=150, alpha=0.25): the close threshold is an EWMA of previous
    bars' triggering run magnitudes. The oracle carries the DOUBLE
    threshold through the same boundary-stepping recursive CTE as the
    fixed form — the EWMA operands (integer-exact run, double thr) and
    operation order match the engine's fold exactly, so the boundary
    decisions and emitted thresholds are bit-identical."""
    from financedatabase_spark.operators.smoothing import tick_run_bars_adaptive

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("value").alias("price"),
        (F.col("event_id") % 7 + 1).cast("long").alias("volume"),
    )
    return tick_run_bars_adaptive(ev, 150.0, 0.25, ["event_type"], "event_id")


@register(
    "tick_imbalance_bars_adaptive",
    oracle="""
    WITH RECURSIVE pref AS MATERIALIZED (
      SELECT event_type,
             row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS i,
             event_id,
             CAST(sum(sv) OVER (PARTITION BY event_type ORDER BY event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM (
        SELECT event_type, event_id,
               CAST(coalesce(last_value(CASE WHEN sgn <> 0 THEN sgn END IGNORE NULLS)
                    OVER (PARTITION BY event_type ORDER BY event_id
                          ROWS UNBOUNDED PRECEDING), 0) AS BIGINT)
                 * (event_id % 7 + 1) AS sv
        FROM (
          SELECT event_type, event_id,
                 sign(value - lag(value) OVER (PARTITION BY event_type
                                               ORDER BY event_id)) AS sgn
          FROM events
        )
      )
    ),
    bounds(event_type, bar_idx, i, end_event_id, cum, thr) AS (
      SELECT DISTINCT event_type, -1, 0, CAST(NULL AS BIGINT),
             CAST(0 AS BIGINT), CAST(50 AS DOUBLE)
      FROM pref
      UNION ALL
      SELECT b.event_type, b.bar_idx + 1, p.i, p.event_id, p.cum,
             0.25::DOUBLE * abs(p.cum - b.cum) + 0.75::DOUBLE * b.thr
      FROM bounds b, LATERAL (
        SELECT q.i, q.event_id, q.cum
        FROM pref q
        WHERE q.event_type = b.event_type AND q.i > b.i
          AND abs(q.cum - b.cum) >= b.thr
        ORDER BY q.i LIMIT 1
      ) p
    ),
    pairs AS (
      SELECT event_type, bar_idx, i, end_event_id, cum,
             lag(i, 1) OVER (PARTITION BY event_type ORDER BY bar_idx) AS prev_i,
             lag(cum, 1) OVER (PARTITION BY event_type ORDER BY bar_idx) AS prev_cum,
             lag(thr, 1) OVER (PARTITION BY event_type ORDER BY bar_idx) AS closed_thr
      FROM bounds
    )
    SELECT event_type, bar_idx::BIGINT AS bar_idx, end_event_id,
           (i - prev_i)::BIGINT AS n_ticks, (cum - prev_cum)::BIGINT AS imbalance,
           closed_thr AS threshold
    FROM pairs WHERE bar_idx >= 0
    """,
)
def tick_imbalance_bars_adaptive_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive tick-imbalance bars
    (operators/smoothing.tick_imbalance_bars_adaptive, thr_0=50,
    alpha=0.25): promotes the pandas-gated adaptive operator to a full
    bit-exact oracle row — same recursive-CTE shape as
    `tick_run_bars_adaptive`."""
    from financedatabase_spark.operators.smoothing import tick_imbalance_bars_adaptive

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("value").alias("price"),
        (F.col("event_id") % 7 + 1).cast("long").alias("volume"),
    )
    return tick_imbalance_bars_adaptive(ev, 50.0, 0.25, ["event_type"], "event_id")
