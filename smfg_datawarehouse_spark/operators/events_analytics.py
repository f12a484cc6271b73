"""Event-stream analytics — windowed aggregation (tumbling/sliding/session),
JSON extraction, per-entity window functions, pivot/cube, distinct counts.

These are the batch twins of the streaming surface (SURVEY §2.9 T2): the
same builder functions run over ``readStream`` in
``smfg_datawarehouse_spark.streaming``; here they run over the batch events
table so the driver's DuckDB oracle can differential-check the semantics.
The streaming certifications themselves (s01-s18) live in
``operators/streaming_certs.py`` (round-5 module split); the shared
window/join oracles stay here with their batch twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.queries import (
    _davg_sql,
    _dsum_sql,
    davg,
    dsum,
    exact,
    micro,
    register,
    t,
)
from smfg_datawarehouse_spark.streaming.windows import (
    session_agg,
    sliding_agg,
    tumbling_agg,
)

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q20_tumbling_window",
    f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS cnt,
           {_dsum_sql('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q20_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2] Tumbling 1-hour windows per event type — batch twin of the
    streaming aggregation (state-bounded by watermark in stream mode)."""
    return tumbling_agg(t(spark, sf_dir, "events"))


_Q21_ORACLE = """
    WITH base AS (
      SELECT event_type,
             make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * 1000000)
               AS s0
      FROM events
    ),
    assigned AS (
      SELECT event_type, s0 AS window_start FROM base
      UNION ALL
      SELECT event_type, s0 - INTERVAL 30 MINUTE FROM base
    )
    SELECT window_start, event_type, COUNT(*) AS cnt
    FROM assigned
    GROUP BY 1, 2
    """


@register("q21_sliding_window", _Q21_ORACLE)
def q21_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2] Sliding windows (1h width / 30min slide): every event lands in
    exactly two windows; oracle materializes the same two buckets."""
    return sliding_agg(t(spark, sf_dir, "events"))


_Q22_ORACLE = f"""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          >= INTERVAL 5 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    g AS (
      SELECT user_id, ts, value,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM o
    )
    SELECT MIN(ts) AS session_start, user_id,
           COUNT(*) AS n_events,
           {_dsum_sql('value')} AS total_value
    FROM g GROUP BY user_id, grp
    """


@register("q22_session_window", _Q22_ORACLE)
def q22_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2] Gap-based session windows (5 min): Spark's ``session_window``
    vs. the classic gaps-and-islands SQL construction. A new session starts
    when the gap to the previous event is >= the timeout (Spark merges an
    event only while it lands strictly inside session end = last_ts + gap)."""
    return session_agg(t(spark, sf_dir, "events"))


@register(
    "q23_json_extraction",
    f"""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           COUNT(*) AS cnt,
           {_davg_sql('value')} AS avg_value
    FROM events
    GROUP BY 1
    """,
)
def q23_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.10] JSON path extraction from the events ``props`` payload
    (semi-structured column surface)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.get_json_object("props", "$.k").cast("long").alias("k_val")
        )
        .agg(F.count(F.lit(1)).alias("cnt"), davg(F.col("value")).alias("avg_value"))
    )


@register(
    "q24_window_lag_running",
    """
    SELECT event_id, user_id,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS micros_since_prev,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
    FROM events
    """,
)
def q24_window_lag_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5] Per-entity ordered window functions: lag-based inter-event gap
    (exact microseconds) + running total (exact decimal accumulation)."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts"))
    return e.select(
        "event_id",
        "user_id",
        (micros - F.lag(micros).over(w)).alias("micros_since_prev"),
        F.sum(exact("value"))
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .cast("double")
        .alias("running_value"),
    )


@register(
    "q25_pivot_daily_events",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
    FROM events
    GROUP BY 1
    """,
)
def q25_pivot_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4] Pivot: daily event counts, one column per (fixed) event type.
    Fixed pivot values keep the output schema deterministic — open-ended
    ``pivot()`` would scan for values first (extra job) and break schema
    stability at scale."""
    e = t(spark, sf_dir, "events")
    out = (
        e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
    )
    return out


@register(
    "q26_cube_event_matrix",
    f"""
    SELECT event_type,
           CAST(year(ts) * 100 + month(ts) AS BIGINT) AS ym,
           COUNT(*) AS cnt,
           {_dsum_sql('value')} AS total_value
    FROM events
    GROUP BY CUBE (event_type, CAST(year(ts) * 100 + month(ts) AS BIGINT))
    """,
)
def q26_cube_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4] CUBE: all grouping-set combinations over (type, year-month)."""
    e = t(spark, sf_dir, "events")
    ym = (F.year("ts") * 100 + F.month("ts")).cast("long").alias("ym")
    return e.cube("event_type", ym).agg(
        F.count(F.lit(1)).alias("cnt"), dsum(F.col("value")).alias("total_value")
    )


@register(
    "q27_distinct_users",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS distinct_users,
           COUNT(*) AS cnt
    FROM events
    GROUP BY event_type
    """,
)
def q27_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4] Exact distinct aggregation (two-phase shuffle). The approximate
    sibling (``approx_count_distinct``/HLL, the 100 TB path) is exposed in
    the engine API but can't be oracle-checked value-for-value."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("distinct_users"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "q28_incremental_watermark",
    f"""
    WITH wm AS (
      SELECT max(ts) AS w FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
    )
    SELECT event_type, COUNT(*) AS cnt, {_dsum_sql('value')} AS total_value
    FROM events, wm
    WHERE ts > wm.w
    GROUP BY event_type
    """,
)
def q28_incremental_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T1] Watermark-managed incremental load: the 'previous run' loaded
    everything before Jan 15; its high-water mark (max ts seen) gates the
    next slice, which is aggregated here. The watermark predicate stays on
    the raw column so it pushes into the source scan (JDBC WHERE /
    parquet min-max skipping) — an incremental run never rescans history."""
    from smfg_datawarehouse_spark.incremental import incremental_slice

    e = t(spark, sf_dir, "events")
    prev_wm = (
        e.where(F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
        .agg(F.max("ts").alias("w"))
        .first()["w"]
    )
    sliced = incremental_slice(e, "ts", prev_wm.isoformat(sep=" "))
    return sliced.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"), dsum(F.col("value")).alias("total_value")
    )


@register(
    "q29_percentile_stats",
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.95) AS p95,
           MIN(value) AS vmin,
           MAX(value) AS vmax
    FROM events
    GROUP BY event_type
    """,
)
def q29_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4] Exact interpolated percentiles (SQL-standard PERCENTILE_CONT
    semantics; Spark `percentile` ≡ DuckDB `quantile_cont`, bit-exact).
    The 100 TB path is `approx_percentile` (t-digest, one pass, mergeable
    sketches) — exposed in the engine API but not value-checkable."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.95)").alias("p95"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


@register(
    "q30_asof_last_purchase",
    """
    SELECT event_id, user_id, ts,
           max(CASE WHEN event_type = 'purchase' THEN ts END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS asof_purchase_ts,
           epoch_us(ts) - epoch_us(
             max(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)) AS micros_since_purchase
    FROM events
    """,
)
def q30_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5/X] As-of join, window-formulated: each event picks up the
    user's most recent purchase timestamp at-or-before it. A running
    conditional max — one shuffle on user_id, NO join, no row blowup —
    the formulation that survives 100 TB where a range/as-of join between
    two event streams would shuffle both sides and explode candidates."""
    e = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    asof = F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).over(w)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        asof.alias("asof_purchase_ts"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(asof)).alias("micros_since_purchase"),
    )


#: Shared by q32 (batch twin) and s03 (streaming path): ONE oracle string
#: so the two certifications can never drift apart.
_VIEW_PURCHASE_ORACLE = """
    SELECT v.user_id,
           v.event_id AS view_id, v.ts AS view_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
"""


@register("q32_view_purchase_conversions", _VIEW_PURCHASE_ORACLE)
def q32_view_purchase_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/§2.3] Interval-bounded event join (view → purchase within 30
    min): the batch twin of the stream-stream join in
    ``streaming/joins.py`` — identical builder, oracle-checked here,
    stream-vs-batch-equality-checked in tests."""
    from smfg_datawarehouse_spark.streaming.joins import view_purchase_conversions

    return view_purchase_conversions(t(spark, sf_dir, "events"))


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Metadata-driven data profiling: (column, n_nulls, n_distinct) per
    configured column, computed in ONE pass — the aggregates are generated
    from the column list exactly like the extraction compiler generates
    projections, then the single wide result row unpivots to long form via
    an array-of-structs explode (no per-column jobs, no extra scans)."""
    aggs = []
    for c in cols:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"__nd_{c}"))
    wide = df.agg(*aggs)
    stacked = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.col(f"__nn_{c}").cast("long").alias("n_nulls"),
                    F.col(f"__nd_{c}").cast("long").alias("n_distinct"),
                )
                for c in cols
            ]
        )
    ).alias("s")
    return wide.select(stacked).select("s.column_name", "s.n_nulls", "s.n_distinct")


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]

_PROFILE_ORACLE = "\n    UNION ALL\n".join(
    f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) FILTER ({c} IS NULL) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
    FROM orders"""
    for c in _PROFILE_COLS
)


@register("q35_data_profile", _PROFILE_ORACLE)
def q35_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/S6] Single-pass column profiling over orders (null + distinct
    counts per configured column) — the audit/data-quality companion to the
    metadata compiler: column list in, generated aggregates out."""
    return profile_columns(t(spark, sf_dir, "orders"), _PROFILE_COLS)


@register(
    "q42_rolling_hour_user_value",
    """
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
           value,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER (
                  PARTITION BY user_id
                  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                  RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW
                ) AS DOUBLE) AS rolling_1h_value
    FROM events
    """,
)
def q42_rolling_hour_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5/T2] RANGE-framed window: per-user rolling 1-hour value sum.

    Unlike q24's ROWS frames, a RANGE frame bounds the window by the ORDER
    BY *value* (seconds of event time), so same-second peers always share a
    frame — tie-order independent by construction, no tie-break key needed.
    One shuffle on user_id; frame evaluation is a streaming pass per
    partition. The per-row decimal cast keeps the sliding sum exact, so
    results are bit-identical at any partition count."""
    e = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3599, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts_sec"),
        "value",
        F.sum(exact("value"))
        .over(w)
        .cast("double")
        .alias("rolling_1h_value"),
    )


@register(
    "q45_hourly_gap_fill",
    f"""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             {_dsum_sql('value')} AS hr_value,
             CAST(COUNT(*) AS BIGINT) AS hr_cnt
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds
    )
    SELECT s.user_id,
           CAST(s.h AS TIMESTAMP) AS hour_ts,
           COALESCE(hh.hr_cnt, 0) AS hr_cnt,
           last_value(hh.hr_value IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM spine s LEFT JOIN hourly hh ON s.user_id = hh.user_id AND s.h = hh.h
    """,
)
def q45_hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/§2.5/T2] Time-series resampling with gap fill: a dense hourly
    spine per user (sequence + explode between the user's first and last
    active hour), left-joined to hourly aggregates; silent hours carry
    count 0 and the last observed hourly value forward (``last`` with
    ignoreNulls over an ordered window). The spine generates |users| ×
    |span-hours| rows — bounded by the calendar, not the event volume, so
    at 100 TB it stays tiny relative to the corpus. Two shuffles total:
    the hourly pre-aggregation and the per-user window (the spine join is
    co-partitioned with the window's own shuffle)."""
    e = t(spark, sf_dir, "events")
    hourly = (
        e.groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(
            dsum(F.col("value")).alias("hr_value"),
            F.count(F.lit(1)).alias("hr_cnt"),
        )
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        spine.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.col("h").alias("hour_ts"),
            F.coalesce("hr_cnt", F.lit(0)).cast("long").alias("hr_cnt"),
            F.last("hr_value", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


@register(
    "q73_time_weighted_value",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts, value,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS nxt
      FROM events
    ), iv AS (
      SELECT user_id,
             (epoch_us(nxt) - epoch_us(ts)) // 1000000 AS dt_sec,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
      FROM seq WHERE nxt IS NOT NULL
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dt_sec) AS BIGINT) AS observed_sec,
           CAST(SUM(v_micro * dt_sec) AS DOUBLE) / 1000000.0 / SUM(dt_sec)
             AS tw_avg_value
    FROM iv
    WHERE dt_sec > 0
    GROUP BY user_id
    """,
)
def q73_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5/X] Time-weighted average metric value per user — the monitoring
    statistic for irregularly-sampled series (a value that held for an hour
    must outweigh one that held a second; a plain AVG can't). Each reading
    is weighted by how long it remained current (`lead(ts)` gap, whole
    seconds); the last reading per user has no duration and drops out, as
    do sub-second holds. One shuffle on user_id feeds both the lead window
    and the rollup. Determinism: weights are exact integer seconds, values
    quantize to integer micro-units (floor(v*1e6 + 0.5) — one IEEE chain,
    identical in any engine), so the weighted sum is an exact BIGINT
    (bounded: 5.6e8 micro-units x 2.6e6 s span < 2^53) and the final
    average is one fixed-order divide chain."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_id", "ts", "value", F.lead("ts").over(w).alias("nxt")
    )
    iv = (
        seq.where(F.col("nxt").isNotNull())
        .select(
            "user_id",
            F.expr("(unix_micros(nxt) - unix_micros(ts)) DIV 1000000").alias(
                "dt_sec"
            ),
            micro("value").alias("v_micro"),
        )
        .where(F.col("dt_sec") > 0)
    )
    return iv.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum("dt_sec").cast("long").alias("observed_sec"),
        (
            F.sum(F.col("v_micro") * F.col("dt_sec")).cast("double")
            / 1e6
            / F.sum("dt_sec")
        ).alias("tw_avg_value"),
    )


@register(
    "q74_moving_median",
    """
    SELECT user_id, event_id, ts, value,
           quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS smoothed
    FROM events
    """,
)
def q74_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5] Centered moving-median smoothing (7-event window) per user —
    the robust denoiser for metric streams (a median window shrugs off the
    spikes that wreck a moving mean). One shuffle on user_id, then an
    exact `percentile` aggregate over a rows-frame window; Spark's
    linear-interpolation percentile is bit-identical to DuckDB's
    `quantile_cont` on the same frame (same `lo + (hi-lo)*frac` chain on
    raw doubles), and the (ts, event_id) ordering key makes every frame's
    membership deterministic. At 100 TB this is the shape that replaces
    collect-and-smooth driver loops: the window state is 7 rows per
    partition cursor, streaming-friendly."""
    e = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 3)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.expr("percentile(value, 0.5)").over(w).alias("smoothed"),
    )


@register(
    "q75_running_distinct_types",
    """
    SELECT user_id, event_id, ts,
           CAST(len(list_distinct(list(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) AS BIGINT)
             AS n_types_seen
    FROM events
    """,
)
def q75_running_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5] Running count of DISTINCT event types seen per user — the
    engagement-breadth curve (when did each user first touch their 2nd,
    3rd, ... feature). COUNT(DISTINCT) isn't a window aggregate in any
    engine, so the set itself accumulates (`collect_set` over an ordered
    frame) and its size is the running distinct count — with a bounded
    type alphabet the per-row state is tiny at any scale. One shuffle on
    user_id; (ts, event_id) ordering makes every frame deterministic."""
    e = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.size(F.collect_set("event_type").over(w)).cast("long").alias(
            "n_types_seen"
        ),
    )


@register(
    "q76_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY 1
    ), dev AS (
      SELECT e.event_type, abs(e.value - m.med) AS dev, m.med
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad
      FROM dev GROUP BY 1
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(d.med) AS med,
           MAX(m.mad) AS mad,
           CAST(SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def q76_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.4/X] Robust outlier screening per event type: median / MAD
    (median absolute deviation) with a 3-MAD fence — the monitoring rule
    that, unlike z-scores, isn't dragged by the outliers it hunts (and
    needs no variance accumulation, which would demand order-dependent
    float sums). Two sequential exact-percentile aggregations (MAD is
    defined over deviations from the median, irreducibly two passes);
    both per-type tables are tiny and BROADCAST back onto the scan, so
    the only shuffles are the two |event types|-sized rollups. Every
    per-row value is one fixed IEEE chain (abs/sub/mul) and Spark's
    `percentile` interpolates exactly like DuckDB's `quantile_cont` —
    bit-stable at any partition count."""
    e = t(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.sum(F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
        )
    )


@register(
    "q77_forward_asof_conversion",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_purchase_us
      FROM events
    ), v AS (
      SELECT user_id,
             next_purchase_us - epoch_us(ts) AS lat_us
      FROM seq WHERE event_type = 'view'
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_views,
           CAST(SUM(CASE WHEN lat_us <= 3600000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted,
           CASE WHEN SUM(CASE WHEN lat_us <= 3600000000 THEN 1 ELSE 0 END) > 0
                THEN CAST(SUM(CASE WHEN lat_us <= 3600000000
                               THEN lat_us ELSE 0 END) AS DOUBLE)
                     / 1000000.0
                     / SUM(CASE WHEN lat_us <= 3600000000 THEN 1 ELSE 0 END)
                END AS avg_latency_sec
    FROM v GROUP BY user_id
    """,
)
def q77_forward_asof_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.3/§2.5] FORWARD as-of with tolerance (the mirror of q30's
    backward as-of): for every view, the next purchase by the same user,
    counted as a conversion when it lands within 1 hour; rolled up to
    per-user view→purchase conversion and mean latency. Implemented as an
    ordered forward-min window (`rows 1 following → unbounded`), NOT a
    range self-join — one shuffle on user_id serves the window and the
    rollup, and there is no candidate-pair blowup at any scale. Latencies
    are exact integer microseconds; the mean is one fixed divide chain
    (NULL when a user never converts — identical in both engines)."""
    e = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    seq = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.min(
            F.when(F.col("event_type") == "purchase", F.expr("unix_micros(ts)"))
        )
        .over(w)
        .alias("next_purchase_us"),
    )
    v = seq.where(F.col("event_type") == "view").select(
        "user_id",
        (F.col("next_purchase_us") - F.expr("unix_micros(ts)")).alias("lat_us"),
    )
    conv = F.when(F.col("lat_us") <= 3600000000, 1).otherwise(0)
    n_conv = F.sum(conv)
    return v.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_views"),
        n_conv.cast("long").alias("n_converted"),
        F.when(
            n_conv > 0,
            F.sum(F.when(F.col("lat_us") <= 3600000000, F.col("lat_us")).otherwise(0))
            .cast("double")
            / 1e6
            / n_conv,
        ).alias("avg_latency_sec"),
    )


@register(
    "x47_hll_distinct_accuracy",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS within_5pct
    FROM events GROUP BY event_type
    """,
)
def x47_hll_distinct_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Sketch-accuracy evaluation for HyperLogLog distinct counting:
    per event type, the exact distinct-user count next to whether Spark's
    `approx_count_distinct` (rsd=0.02) lands within 5% of it. HLL++ is
    partition-order deterministic (register merge = elementwise max, a
    commutative/associative op), so the estimate — and therefore this
    flag — is reproducible; the oracle independently recomputes the exact
    count and asserts the bound holds (the estimate itself is
    engine-specific and intentionally not emitted). This is the sketch
    the engine swaps in where q27's exact COUNT(DISTINCT) can't hold its
    shuffle at 100 TB: HLL state is ~KB per group at any cardinality, and
    this query is the accuracy gate for that swap (same eval pattern as
    x12's IVF recall and x14's MinHash error)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_exact"),
            F.expr("approx_count_distinct(user_id, 0.02)").alias("_est"),
        )
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("_est").cast("double") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("within_5pct"),
        )
    )


@register(
    "q78_unconverted_views",
    """
    SELECT v.event_id AS view_id, v.user_id, v.ts AS view_ts
    FROM events v
    WHERE v.event_type = 'view'
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = v.user_id
          AND p.ts >= v.ts
          AND p.ts <= v.ts + INTERVAL 30 MINUTE
      )
    """,
)
def q78_unconverted_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/§2.3/T2] The anti-join side of the conversion funnel: views with
    NO purchase by the same user within 30 minutes — the rows funnel
    reporting actually acts on. Implemented through the SAME left-outer
    interval-join builder the streaming path uses
    (``streaming/joins.view_purchase_conversions_outer``; stream == batch
    asserted in test_streaming), filtered to the null-extended rows: one
    user_id-keyed shuffle, watermark-evictable state in streaming, and a
    NOT EXISTS replay in the oracle."""
    from smfg_datawarehouse_spark.streaming.joins import (
        view_purchase_conversions_outer,
    )

    e = t(spark, sf_dir, "events")
    return (
        view_purchase_conversions_outer(e)
        .where(F.col("purchase_id").isNull())
        .select("view_id", "user_id", "view_ts")
    )


@register(
    "x52_approx_percentile_gate",
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50_exact,
           TRUE AS within_band
    FROM events GROUP BY event_type
    """,
)
def x52_approx_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] Sketch-accuracy gate for approx_percentile (the KLL/GK-family
    one-pass mergeable quantile sketch — the 100 TB replacement for q29's
    exact sort-based percentile): per event type, the exact median next to
    whether the sketch's median lands inside the exact [p45, p55] rank
    band. accuracy=1000 bounds rank error at n/1000, far inside the ±5pp
    band, and the sketch merge is deterministic — so the flag is
    reproducible and the oracle re-asserts it (same eval pattern as x12
    IVF recall, x14 MinHash error, x47 HLL, x49 CMS, x51 Bloom)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50_exact"),
            F.expr("percentile(value, 0.45)").alias("_lo"),
            F.expr("percentile(value, 0.55)").alias("_hi"),
            F.expr("approx_percentile(value, 0.5, 1000)").alias("_ap"),
        )
        .select(
            "event_type",
            "p50_exact",
            ((F.col("_ap") >= F.col("_lo")) & (F.col("_ap") <= F.col("_hi"))).alias(
                "within_band"
            ),
        )
    )
















@register(
    "q79_scd2_user_history",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), ch AS (
      SELECT user_id, event_type, ts, event_id FROM o
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS BIGINT) AS version,
           event_type,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             AS is_current
    FROM ch
    """,
)
def q79_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5/§2.8] SCD Type-2 history build — the warehouse-core
    transform the reference's DW load stage implies (curated dimensions
    with change tracking): per user, consecutive same-value events
    compress into one validity interval (valid_from, valid_to, version,
    is_current), with NULL valid_to marking the current row. One
    user-keyed shuffle feeds BOTH windows (the change-compression lag and
    the interval lead share the same partitioning, so Catalyst plans a
    single exchange). Ties broken by event_id, so versioning is exact
    under same-timestamp events."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (
        e.select(
            "user_id", "event_type", "ts", "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .where(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
    )
    return ch.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@register(
    "q80_scd2_point_in_time",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), ch AS (
      SELECT user_id, event_type, ts, event_id FROM o
      WHERE prev_type IS NULL OR event_type <> prev_type
    ), iv AS (
      SELECT user_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT)
               AS version,
             event_type AS state_type,
             ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM ch
    )
    SELECT e.event_id, e.user_id, e.ts, e.event_type, iv.version,
           iv.state_type
    FROM events e
    JOIN iv ON e.user_id = iv.user_id
           AND e.ts >= iv.valid_from
           AND (iv.valid_to IS NULL OR e.ts < iv.valid_to)
    """,
)
def q80_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/§2.3/§2.5] Point-in-time SCD Type-2 lookup — THE temporal
    dimensional join of a warehouse: each fact row (event) is enriched
    with the dimension version that was valid AT ITS TIMESTAMP, i.e.
    ``fact.ts ∈ [dim.valid_from, dim.valid_to)`` with an open current
    interval. The dimension side is q79's change-compressed SCD2 history
    (one row per state change, far smaller than the fact table).

    Scale shape: an equi-join on ``user_id`` with the interval
    containment as join residual — Catalyst plans a sort-merge join keyed
    on user_id (or broadcast when the compressed dim fits), and the
    residual range predicate evaluates per user-key group, which stays
    cheap because change-compression bounds intervals-per-user. No
    cartesian, no theta-join blowup; the q79 intervals partition each
    user's timeline, so every event matches EXACTLY one version row
    (boundary events belong to the newer version — ``[from, to)``)."""
    e = t(spark, sf_dir, "events")
    iv = q79_scd2_user_history(spark, sf_dir).select(
        F.col("user_id").alias("iv_user_id"),
        "version",
        F.col("event_type").alias("state_type"),
        "valid_from",
        "valid_to",
    )
    cond = (
        (e.user_id == iv.iv_user_id)
        & (e.ts >= iv.valid_from)
        & (iv.valid_to.isNull() | (e.ts < iv.valid_to))
    )
    return e.join(iv, cond).select(
        "event_id", "user_id", "ts", "event_type", "version", "state_type"
    )










@register(
    "q82_burst_detection",
    """
    WITH h AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), w AS (
      SELECT hour, event_type, cnt,
             CAST(SUM(cnt) OVER tw AS BIGINT) AS trail_sum,
             CAST(COUNT(cnt) OVER tw AS BIGINT) AS trail_n
      FROM h
      WINDOW tw AS (PARTITION BY event_type ORDER BY hour
                    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT hour, event_type, cnt,
           CASE WHEN trail_n >= 6
                THEN CAST(trail_sum AS DOUBLE) / trail_n ELSE -1.0 END
             AS trail_avg,
           (trail_n >= 6 AND
            CAST(cnt AS DOUBLE) > 3.0 * (CAST(trail_sum AS DOUBLE) / trail_n))
             AS is_burst
    FROM w
    """,
)
def q82_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5/A4] Anomaly/burst detection over the event stream: each
    (hour, event_type) bucket is compared to its trailing-24-observed-
    hours mean (ROWS frame — robust to gaps; a RANGE frame over
    gap-filled hours is q45's job), flagged when the count exceeds 3×
    the trail with ≥6 hours of history (cold-start hours report a -1.0
    sentinel rather than a nullable double). The ops-monitoring shape a
    warehouse's freshness/volume alerting runs on.

    Scale shape: the hourly rollup shrinks the corpus to |hours×types|
    rows BEFORE the window (map-side combine does the heavy lifting);
    the trailing window then shuffles only the tiny aggregate on
    event_type. The mean is one fixed-shape divide of exact integers —
    bit-stable, no avg() engine differences."""
    e = t(spark, sf_dir, "events")
    h = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tw = W.partitionBy("event_type").orderBy("hour").rowsBetween(-24, -1)
    w = h.select(
        "hour",
        "event_type",
        "cnt",
        F.sum("cnt").over(tw).cast("long").alias("trail_sum"),
        F.count("cnt").over(tw).cast("long").alias("trail_n"),
    )
    trail_avg = F.col("trail_sum").cast("double") / F.col("trail_n")
    has_hist = F.col("trail_n") >= 6
    return w.select(
        "hour",
        "event_type",
        "cnt",
        F.when(has_hist, trail_avg).otherwise(F.lit(-1.0)).alias("trail_avg"),
        (has_hist & (F.col("cnt").cast("double") > 3.0 * trail_avg)).alias("is_burst"),
    )


@register(
    "q83_grain_cascade",
    f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           {_dsum_sql('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q83_grain_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4] TIME-GRAIN CASCADE: the daily rollup is computed FROM the
    hourly rollup, not from raw events — the aggregate-reuse pattern a
    warehouse's summary-table hierarchy lives on (hour → day → month,
    each level |buckets|-sized, each re-aggregation touching only the
    level below). The value sum stays in exact DECIMAL(30,6) through the
    cascade (decimal addition is associative, so hourly-then-daily
    equals direct-daily bit-for-bit) and casts to double only at the
    output edge; the oracle computes daily DIRECTLY from raw rows, so
    any cascade drift hash-fails. At 100 TB the raw scan happens once
    for the finest grain; every coarser grain is a near-free
    re-aggregation of the tiny level below."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(exact("value")).alias("dec_value"),
    )
    return (
        hourly.groupBy(
            F.date_trunc("day", F.col("hour")).alias("day"), "event_type"
        )
        .agg(
            F.sum("cnt").cast("long").alias("cnt"),
            F.sum("dec_value").cast("double").alias("total_value"),
        )
    )


@register(
    "q84_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    tr AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type,
           CAST(n AS BIGINT) AS n_transitions,
           CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type)
             AS p_transition
    FROM tr
    """,
)
def q84_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/§2.5] Per-user EVENT TRANSITION MATRIX (first-order Markov):
    lag() over each user's (ts, event_id)-ordered stream pairs every
    event with its predecessor type, the pair counts aggregate into the
    transition matrix, and a per-row window normalizes each row into
    transition probabilities — the funnel-free way product analytics
    finds dominant paths (view→purchase vs view→error) without
    enumerating them up front.

    Determinism: event_id tie-break totalizes the per-user order;
    p_transition is one double division of exact counts. Scale shape:
    ONE shuffle on user_id for the lag window (events are naturally
    user-partitionable), then a map-side-combined groupBy onto a
    |types|² matrix (tiny), and the normalizing window runs on that tiny
    matrix — corpus-linear with no skew amplification (a hot user stays
    a single partition's linear scan)."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    tr = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wn = W.partitionBy("prev_type")
    return tr.select(
        "prev_type",
        "next_type",
        F.col("n").cast("long").alias("n_transitions"),
        (F.col("n").cast("double") / F.sum("n").over(wn)).alias("p_transition"),
    )






@register(
    "q85_rfm_segmentation",
    """
    WITH base AS (
      SELECT user_id,
             MAX(ts) AS last_seen,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS monetary_micros
      FROM events GROUP BY user_id
    )
    SELECT user_id, last_seen,
           CAST(frequency AS BIGINT) AS frequency,
           monetary_micros,
           CAST(NTILE(4) OVER (ORDER BY last_seen, user_id) AS BIGINT) AS r_quartile,
           CAST(NTILE(4) OVER (ORDER BY frequency, user_id) AS BIGINT) AS f_quartile,
           CAST(NTILE(4) OVER (ORDER BY monetary_micros, user_id) AS BIGINT)
             AS m_quartile
    FROM base
    """,
)
def q85_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/§2.5] RFM SEGMENTATION: per-user Recency (last event time),
    Frequency (event count), Monetary (exact micro-unit value sum), each
    quartiled with NTILE(4) under a user_id tie-broken total order — the
    classic CRM segmentation (4·4·4 = 64 cells) as one pass + three
    windows. Monetary uses the integer micro-unit sum so the quartile
    ORDER BY never compares floats.

    Scale shape: ONE map-side-combined groupBy reduces events to a
    |users|-sized frame first; each quartile then comes from
    ``functions.ordering.distributed_ntile`` — exact global ordinals
    via band-partitioned windows (bands: day of last_seen, frequency
    itself, monetary DIV 10^7 — each trivially monotone in its sort
    key) and closed-form BIGINT bucket arithmetic. No window ever sees
    a single-partition total order, so the plan survives unbounded user
    cardinality; the DuckDB oracle keeps plain NTILEs — two routes, one
    bit-identical partition rule."""
    from smfg_datawarehouse_spark.functions.ordering import distributed_ntile

    e = t(spark, sf_dir, "events")
    base = e.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(micro("value"))
        .cast("long")
        .alias("monetary_micros"),
    )
    for order, band, out in (
        (["last_seen", "user_id"], F.date_trunc("day", F.col("last_seen")), "r_quartile"),
        (["frequency", "user_id"], F.col("frequency"), "f_quartile"),
        (["monetary_micros", "user_id"], F.expr("monetary_micros DIV 10000000"), "m_quartile"),
    ):
        # each pass checkpoints its (|users|-sized) input, so no pass
        # replays the events rollup or a prior pass
        base = distributed_ntile(base, 4, order, band, out)
    return base.select(
        "user_id", "last_seen", "frequency", "monetary_micros",
        "r_quartile", "f_quartile", "m_quartile",
    )




@register(
    "q87_conversion_latency_profile",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_purchase_us
      FROM events
    ), v AS (
      SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS view_hour,
             next_purchase_us - epoch_us(ts) AS lat_us
      FROM seq WHERE event_type = 'view'
    ), c AS (
      SELECT view_hour, lat_us FROM v WHERE lat_us <= 3600000000
    )
    SELECT view_hour,
           CAST(COUNT(*) AS BIGINT) AS n_converted,
           quantile_cont(lat_us, 0.5) / 1000000.0 AS p50_sec,
           quantile_cont(lat_us, 0.9) / 1000000.0 AS p90_sec,
           CAST(MIN(lat_us) AS BIGINT) AS min_us,
           CAST(MAX(lat_us) AS BIGINT) AS max_us
    FROM c GROUP BY view_hour
    """,
)
def q87_conversion_latency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5/A4] CONVERSION-LATENCY PROFILE by hour of day: q77's
    forward-asof view→purchase latencies (within the 1 h tolerance),
    rolled up by the hour the view happened — median and p90
    time-to-convert per daypart, the funnel-health dashboard number that
    localizes slow-conversion windows (checkout degradation at peak
    hours shows up as a p90 spike in exactly those rows).

    Determinism: latencies are exact integer microseconds; percentile
    interpolation is the same (a + (b−a)·f) double expression in both
    engines (q29 precedent); /1e6 is one double op. Scale shape: ONE
    user-window shuffle (same as q77 — no self-join), then a
    map-side-combined rollup onto 24 rows; the percentile agg holds
    per-group sorted arrays only at the final 24-group stage."""
    e = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, W.unboundedFollowing)
    )
    seq = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.unix_micros(F.col("ts")),
            )
        ).over(w).alias("next_purchase_us"),
    )
    v = seq.where(F.col("event_type") == "view").select(
        F.hour("ts").cast("long").alias("view_hour"),
        (F.col("next_purchase_us") - F.unix_micros(F.col("ts"))).alias("lat_us"),
    )
    c = v.where(F.col("lat_us") <= 3600000000)
    return c.groupBy("view_hour").agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        (F.expr("percentile(lat_us, 0.5)") / 1000000.0).alias("p50_sec"),
        (F.expr("percentile(lat_us, 0.9)") / 1000000.0).alias("p90_sec"),
        F.min("lat_us").cast("long").alias("min_us"),
        F.max("lat_us").cast("long").alias("max_us"),
    )








@register(
    "x94_theta_sketch_set_ops",
    """
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
      FROM events GROUP BY user_id
    ), pairs AS (
      SELECT 'view' AS a_type, 'purchase' AS b_type,
             CAST(SUM(has_view) AS BIGINT) AS n_a,
             CAST(SUM(has_purchase) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN has_view = 1 OR has_purchase = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_union,
             CAST(SUM(CASE WHEN has_view = 1 AND has_purchase = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_inter,
             CAST(SUM(CASE WHEN has_view = 1 AND has_purchase = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_diff
      FROM per_user
      UNION ALL
      SELECT 'click', 'purchase',
             CAST(SUM(has_click) AS BIGINT), CAST(SUM(has_purchase) AS BIGINT),
             CAST(SUM(CASE WHEN has_click = 1 OR has_purchase = 1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN has_click = 1 AND has_purchase = 1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN has_click = 1 AND has_purchase = 0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM per_user
      UNION ALL
      SELECT 'view', 'click',
             CAST(SUM(has_view) AS BIGINT), CAST(SUM(has_click) AS BIGINT),
             CAST(SUM(CASE WHEN has_view = 1 OR has_click = 1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN has_view = 1 AND has_click = 1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN has_view = 1 AND has_click = 0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM per_user
    )
    SELECT a_type, b_type, n_a, n_b, n_union, n_inter, n_diff,
           TRUE AS union_ok, TRUE AS inter_ok, TRUE AS diff_ok
    FROM pairs
    """,
)
def x94_theta_sketch_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] THETA-SKETCH SET ALGEBRA (Datasketches, Spark 4.1 native):
    distinct-user union / intersection / difference across event-type
    audiences estimated from MERGEABLE compact sketches — the 100 TB
    audience-overlap primitive ("viewed AND purchased", "clicked but
    never bought") that replaces an exact user-level join+groupBy with
    KB-sized commutative state. Unlike HLL (x47, union-only), theta
    sketches close under ∩ and \\ — that is exactly what this certifies.

    Shape: ONE pass builds a sketch per event type (partial sketches
    merge associatively map-side, the property that makes this a
    single-shuffle plan at any scale); a 3-row broadcast self-join forms
    the audience pairs; ``theta_union/intersection/difference`` +
    ``theta_sketch_estimate`` are pure scalar ops on the binary
    sketches. The exact counterparts come from one per-user flag rollup.

    Gate honesty (x47's pattern — estimates themselves are
    engine-specific and not emitted): each estimate must land within
    5% of exact PLUS 2% of the pair's union size — theta set-op error
    scales with the SAMPLING BASE (the union), so a tiny intersection
    of two big sets legitimately carries absolute error proportional to
    the union; a bare relative gate would flag exactly the cases the
    sketch is documented to be weakest on. Sketches are hash-sampling
    deterministic and merge order-invariant, so the flags are stable.
    Below 2^12 retained entries the sketch is exact-mode and the gate is
    trivially tight (fixture scale); at 100 TB the same plan runs in
    estimation mode with ~1.6% rsd."""
    e = t(spark, sf_dir, "events")
    sk = (
        e.where(F.col("event_type").isin("view", "click", "purchase"))
        .groupBy("event_type")
        .agg(F.theta_sketch_agg("user_id").alias("sk"))
    )
    a = sk.select(
        F.col("event_type").alias("a_type"), F.col("sk").alias("sk_a")
    )
    b = sk.select(
        F.col("event_type").alias("b_type"), F.col("sk").alias("sk_b")
    )
    pairs = a.join(F.broadcast(b), F.lit(True)).where(
        ((F.col("a_type") == "view") & (F.col("b_type") == "purchase"))
        | ((F.col("a_type") == "click") & (F.col("b_type") == "purchase"))
        | ((F.col("a_type") == "view") & (F.col("b_type") == "click"))
    )
    est = pairs.select(
        "a_type",
        "b_type",
        F.theta_sketch_estimate(
            F.theta_union(F.col("sk_a"), F.col("sk_b"))
        ).alias("est_union"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("sk_a"), F.col("sk_b"))
        ).alias("est_inter"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("sk_a"), F.col("sk_b"))
        ).alias("est_diff"),
    )
    flags = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "view").cast("int")).alias("has_view"),
        F.max((F.col("event_type") == "click").cast("int")).alias("has_click"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "has_purchase"
        ),
    )
    def _exact(a_col: str, b_col: str, a_name: str, b_name: str) -> DataFrame:
        ha, hb = F.col(a_col), F.col(b_col)
        return flags.agg(
            F.lit(a_name).alias("a_type"),
            F.lit(b_name).alias("b_type"),
            F.sum(ha).cast("long").alias("n_a"),
            F.sum(hb).cast("long").alias("n_b"),
            F.sum(((ha == 1) | (hb == 1)).cast("int")).cast("long").alias("n_union"),
            F.sum(((ha == 1) & (hb == 1)).cast("int")).cast("long").alias("n_inter"),
            F.sum(((ha == 1) & (hb == 0)).cast("int")).cast("long").alias("n_diff"),
        )
    exact = (
        _exact("has_view", "has_purchase", "view", "purchase")
        .unionByName(_exact("has_click", "has_purchase", "click", "purchase"))
        .unionByName(_exact("has_view", "has_click", "view", "click"))
    )
    def _ok(est_col: str, exact_col: str):
        return (
            F.abs(F.col(est_col) - F.col(exact_col))
            <= 0.05 * F.col(exact_col) + 0.02 * F.col("n_union")
        )
    return (
        exact.join(F.broadcast(est), ["a_type", "b_type"])
        .select(
            "a_type", "b_type", "n_a", "n_b", "n_union", "n_inter", "n_diff",
            _ok("est_union", "n_union").alias("union_ok"),
            _ok("est_inter", "n_inter").alias("inter_ok"),
            _ok("est_diff", "n_diff").alias("diff_ok"),
        )
    )


@register(
    "x95_kll_quantile_rollup",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
             AS n_days,
           quantile_cont(value, 0.5) AS exact_p50,
           quantile_cont(value, 0.9) AS exact_p90,
           TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
    FROM events
    """,
)
def x95_kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X] KLL QUANTILE-SKETCH ROLLUP (Datasketches, Spark 4.1 native):
    per-DAY KLL sketches of the value metric merged into one corpus
    sketch whose p50/p90 estimates are rank-gated against the exact
    distribution — the MERGEABILITY demo exact percentiles cannot do:
    a 100 TB deployment sketches each partition/day once (KB state,
    single pass), then answers any later quantile query — over any
    day range — by merging sketches, never rescanning data. q29/x52
    compute percentiles per query; this certifies the
    precompute-and-merge path.

    Shape: one map-side-combined groupBy(day) builds ~31 sketches; the
    day-level sketches collect into ONE array row (bounded by the day
    count, not data volume) and fold through the scalar
    ``kll_sketch_merge_double`` with an ``aggregate`` lambda — the same
    merge a hierarchical (hourly→daily→monthly) rollup tree applies.
    Gate: the merged sketch's quantile estimates are checked by TRUE
    RANK — count(value ≤ estimate)/n must sit within KLL's documented
    ±3% rank error of the target rank (k=200, 99% confidence ≈ 1.65%);
    the estimate itself is sketch-library-specific and not emitted
    (x47's pattern). Exact p50/p90 use the same interpolation expression
    as q29, so they reproduce bit-exactly cross-engine."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.kll_sketch_agg_double("value", 200).alias("sk"))
    merged = daily.agg(F.collect_list("sk").alias("sks")).select(
        F.expr(
            "aggregate(slice(sks, 2, greatest(size(sks) - 1, 0)), sks[0], "
            "(a, x) -> kll_sketch_merge_double(a, x))"
        ).alias("sk"),
        F.size(F.col("sks")).cast("long").alias("n_days"),
    )
    est = merged.select(
        "n_days",
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.5)).alias("e50"),
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.9)).alias("e90"),
    )
    stats = e.crossJoin(F.broadcast(est)).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.first("n_days").alias("n_days"),
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
        F.expr("percentile(value, 0.9)").alias("exact_p90"),
        F.sum((F.col("value") <= F.col("e50")).cast("int")).alias("le50"),
        F.sum((F.col("value") <= F.col("e90")).cast("int")).alias("le90"),
    )
    return stats.select(
        "n_rows",
        "n_days",
        "exact_p50",
        "exact_p90",
        (
            F.abs(F.col("le50") / F.col("n_rows") - 0.5) <= F.lit(0.03)
        ).alias("p50_rank_ok"),
        (
            F.abs(F.col("le90") / F.col("n_rows") - 0.9) <= F.lit(0.03)
        ).alias("p90_rank_ok"),
    )




@register(
    "q93_variant_extraction",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k
    FROM events
    WHERE props IS NOT NULL
    GROUP BY event_type
    """,
)
def q93_variant_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.10] VARIANT semi-structured type (Spark 4): the props JSON
    column is parsed ONCE into the binary VARIANT encoding and fields
    are extracted with typed ``variant_get`` paths — the
    open-schema ingestion shape that replaces per-query
    ``get_json_object`` string re-parsing (q23's path; at 100 TB the
    parse cost is paid once at ingestion, and VARIANT's binary form
    supports shredded columnar pushdown, not N regex passes). The
    per-type rollup of the extracted integer certifies parse + typed
    path extraction against DuckDB's native JSON extraction."""
    e = t(spark, sf_dir, "events")
    v = e.where(F.col("props").isNotNull()).select(
        "event_type",
        F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("k").cast("long").alias("sum_k"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
    )


@register(
    "q94_rolling_trend_slope",
    """
    WITH base AS (
      SELECT event_id, event_type, ts,
             (epoch_us(ts) - (SELECT MIN(epoch_us(ts)) FROM events))
               // 1000000 AS x,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS y
      FROM events
    ), win AS (
      SELECT event_id, event_type, ts,
             CAST(COUNT(*) OVER w AS BIGINT) AS n_pts,
             CAST(SUM(x) OVER w AS BIGINT) AS sx,
             CAST(SUM(y) OVER w AS BIGINT) AS sy,
             CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
             CAST(SUM(x * y) OVER w AS BIGINT) AS sxy
      FROM base
      WINDOW w AS (PARTITION BY event_type ORDER BY x
                   RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type, ts, n_pts,
           CASE WHEN n_pts >= 2
                 AND CAST(n_pts AS DOUBLE) * sxx
                     - CAST(sx AS DOUBLE) * sx <> 0.0
                THEN (CAST(n_pts AS DOUBLE) * sxy
                      - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n_pts AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * sx)
           END AS slope_micros_per_sec
    FROM win
    """,
)
def q94_rolling_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5/A4] ROLLING TREND DETECTION: per event type, the
    least-squares slope of value over the trailing 24 h at every event —
    the drift/trend monitor a metrics platform computes continuously
    (a sustained negative slope on purchase values is an incident
    signal). Closed-form OLS over a RANGE frame (24 h in seconds), no
    iteration.

    Exactness discipline: x is whole SECONDS from the corpus min
    timestamp and y integer micros, so every windowed sum (Σx, Σy, Σx²,
    Σxy) is an EXACT BIGINT — window-fold order cannot perturb them
    (the x98 lesson applied to window frames; magnitudes stay under
    2^53 ≪ BIGINT range at any window width that fits memory). Only the
    final slope expression is floating point, identical text in both
    engines; degenerate windows (n<2 or zero x-variance within the
    frame) yield NULL via the same guard.

    Scale shape (the r5 PLANS.md mitigation, now implemented): a plain
    ``PARTITION BY event_type`` range frame puts each type's WHOLE
    history in one task — ~10 tasks for a 100 TB events table. Instead
    the frame is DECOMPOSED over (event_type, 86400-s bucket): the
    24 h trailing frame of an event in bucket b covers exactly a suffix
    of bucket b-1 plus a prefix of bucket b, so
    ``frame = own-bucket running prefix (x' ≤ x)
            + (bucket b-1 total − strict prefix below x−86400)``.
    The strict prefix at the arbitrary threshold x−86400 comes from
    zero-weight PROBE rows unioned into bucket b-1's window (RANGE
    UNBOUNDED PRECEDING TO 1 PRECEDING — probes add nothing to the
    sums). Every term is the same exact BIGINT the monolithic frame
    produced, so results are bit-identical while parallelism becomes
    |types| × |buckets| (~10 × days) and per-task state one bucket."""
    e = t(spark, sf_dir, "events")
    min_us = e.agg(F.min(F.unix_micros(F.col("ts"))).alias("m"))
    base = (
        e.crossJoin(F.broadcast(min_us))
        .select(
            "event_id",
            "event_type",
            "ts",
            F.expr("(unix_micros(ts) - m) DIV 1000000").cast("long").alias("x"),
            micro("value").alias("y"),
        )
        .withColumn("b", F.expr("x DIV 86400").cast("long"))
    )

    # own-bucket running prefix: Σ over x' ≤ x within (event_type, b)
    w_own = (
        W.partitionBy("event_type", "b")
        .orderBy("x")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    own = base.select(
        "event_id",
        "event_type",
        "ts",
        "x",
        "b",
        F.count(F.lit(1)).over(w_own).cast("long").alias("o_n"),
        F.sum("x").over(w_own).cast("long").alias("o_sx"),
        F.sum("y").over(w_own).cast("long").alias("o_sy"),
        F.sum(F.col("x") * F.col("x")).over(w_own).cast("long").alias("o_sxx"),
        F.sum(F.col("x") * F.col("y")).over(w_own).cast("long").alias("o_sxy"),
    )

    # previous-bucket suffix via probes: threshold t = x − 86400 lands in
    # bucket b−1 by construction; a zero-weight probe row at (b−1, t)
    # reads the strict prefix below t from the same keyed window.
    real = base.select(
        "event_type",
        F.col("b").alias("pb"),
        F.col("x").alias("px"),
        F.lit(1).cast("long").alias("w_n"),
        F.col("x").alias("w_x"),
        F.col("y").alias("w_y"),
        (F.col("x") * F.col("x")).cast("long").alias("w_xx"),
        (F.col("x") * F.col("y")).cast("long").alias("w_xy"),
        F.lit(None).cast("long").alias("probe_id"),
    )
    probe = base.select(
        "event_type",
        (F.col("b") - 1).alias("pb"),
        (F.col("x") - 86400).alias("px"),
        F.lit(0).cast("long").alias("w_n"),
        F.lit(0).cast("long").alias("w_x"),
        F.lit(0).cast("long").alias("w_y"),
        F.lit(0).cast("long").alias("w_xx"),
        F.lit(0).cast("long").alias("w_xy"),
        F.col("event_id").alias("probe_id"),
    )
    w_strict = (
        W.partitionBy("event_type", "pb")
        .orderBy("px")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    strict = (
        real.unionByName(probe)
        .select(
            "event_type",
            "pb",
            "probe_id",
            F.sum("w_n").over(w_strict).alias("p_n"),
            F.sum("w_x").over(w_strict).alias("p_sx"),
            F.sum("w_y").over(w_strict).alias("p_sy"),
            F.sum("w_xx").over(w_strict).alias("p_sxx"),
            F.sum("w_xy").over(w_strict).alias("p_sxy"),
        )
        .where(F.col("probe_id").isNotNull())
    )
    totals = base.groupBy("event_type", F.col("b").alias("pb")).agg(
        F.count(F.lit(1)).cast("long").alias("t_n"),
        F.sum("x").cast("long").alias("t_sx"),
        F.sum("y").cast("long").alias("t_sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("t_sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("t_sxy"),
    )
    z = F.lit(0).cast("long")

    def _sfx(tcol: str, pcol: str):
        return F.coalesce(F.col(tcol), z) - F.coalesce(F.col(pcol), z)

    prev = (
        strict.join(F.broadcast(totals), ["event_type", "pb"], "left")
        .select(
            F.col("probe_id").alias("event_id"),
            _sfx("t_n", "p_n").alias("s_n"),
            _sfx("t_sx", "p_sx").alias("s_sx"),
            _sfx("t_sy", "p_sy").alias("s_sy"),
            _sfx("t_sxx", "p_sxx").alias("s_sxx"),
            _sfx("t_sxy", "p_sxy").alias("s_sxy"),
        )
    )
    win = own.join(prev, "event_id").select(
        "event_id",
        "event_type",
        "ts",
        (F.col("o_n") + F.col("s_n")).cast("long").alias("n_pts"),
        (F.col("o_sx") + F.col("s_sx")).cast("long").alias("sx"),
        (F.col("o_sy") + F.col("s_sy")).cast("long").alias("sy"),
        (F.col("o_sxx") + F.col("s_sxx")).cast("long").alias("sxx"),
        (F.col("o_sxy") + F.col("s_sxy")).cast("long").alias("sxy"),
    )
    nd = F.col("n_pts").cast("double")
    denom = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    slope = F.when(
        (F.col("n_pts") >= 2) & (denom != 0.0),
        (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / denom,
    )
    return win.select(
        "event_id",
        "event_type",
        "ts",
        "n_pts",
        slope.alias("slope_micros_per_sec"),
    )






@register(
    "q102_bitemporal_revision",
    """
    WITH mx AS (SELECT MAX(ts) AS m FROM events),
    v1 AS (
      SELECT user_id, event_type FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events, mx
        WHERE ts <= m - INTERVAL 36 HOUR AND event_id % 13 != 0
      ) WHERE rn = 1
    ),
    v2 AS (
      SELECT user_id, event_type FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events, mx
        WHERE ts <= m - INTERVAL 36 HOUR
      ) WHERE rn = 1
    )
    SELECT COALESCE(v1.user_id, v2.user_id) AS user_id,
           v1.event_type AS type_asof_txn1,
           v2.event_type AS type_asof_txn2,
           (v1.event_type IS DISTINCT FROM v2.event_type) AS revised
    FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id
    """,
)
def q102_bitemporal_revision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5/§2.8] BITEMPORAL point-in-time audit — the two-axis query a
    warehouse with late-arriving facts must answer: "what did we BELIEVE
    (transaction time) each user's state WAS at valid time T?" Valid
    time T = max(ts) − 36 h; transaction time 1 excludes the
    late-arriving slice (event_id % 13 == 0 — facts that reached the
    warehouse after the first load), transaction time 2 includes it.
    Users whose pre-T history is REVISED by the late facts flip the
    ``revised`` flag (null-safe compare: a user can exist in one
    knowledge state only) — the audit trail q79/q80's single-axis SCD2
    cannot express, and the reason bitemporal models exist (restating a
    report as it was originally published vs as history is now known).
    Two user-keyed windows over the same partitioning + one user-keyed
    full outer join; the late-slice predicate is a scan filter, so the
    second knowledge state costs one more pass, never a rebuild."""
    from smfg_datawarehouse_spark.queries import load_events

    e = load_events(spark, sf_dir)
    mx = e.agg(F.max("ts")).first()[0]
    t_valid = F.lit(mx) - F.expr("INTERVAL 36 HOURS")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())

    def pit(df: DataFrame, alias: str) -> DataFrame:
        return (
            df.where(F.col("ts") <= t_valid)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("user_id"), F.col("event_type").alias(alias))
        )

    v1 = pit(e.where(F.col("event_id") % 13 != 0), "type_asof_txn1")
    v2 = pit(e, "type_asof_txn2")
    return (
        v1.join(v2, "user_id", "full_outer")
        .select(
            "user_id",
            "type_asof_txn1",
            "type_asof_txn2",
            (~F.col("type_asof_txn1").eqNullSafe(F.col("type_asof_txn2"))).alias(
                "revised"
            ),
        )
    )


_X117_ORACLE = """
    WITH h AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             SUM(CAST(value AS DECIMAL(30,6))) AS s_dec
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, hour, n_events,
             CAST(s_dec AS DOUBLE) AS s_dbl,
             SUM(n_events) OVER (PARTITION BY event_type) AS n_tot,
             CAST(SUM(s_dec) OVER (PARTITION BY event_type) AS DOUBLE) AS s_tot
      FROM h
    )
    SELECT event_type, hour, n_events,
           s_dbl / n_events AS hour_avg,
           (s_dbl * n_tot) / (n_events * s_tot) AS seasonal_index
    FROM tot
"""


@register("x117_seasonality_index", _X117_ORACLE)
def x117_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A/§2.5] HOUR-OF-DAY SEASONALITY INDEX (ratio-to-overall, the
    classical seasonal-index form): each (event_type, hour) reports its
    mean value relative to the type's all-hours mean — index > 1 marks
    the hot hours. This is the load-shaping/anomaly-baseline artifact an
    event pipeline derives before capacity planning or before flagging
    'value spike at 3am'. One map-combined rollup to 24×types rows, then
    type-partitioned windows over THAT rollup (the corpus shuffles once,
    on the rollup key; windows reuse the aggregate frame). Sums
    accumulate in exact decimal; the index is the cross-multiplied
    (S_h·N)/(n_h·S) evaluated in three fixed-order IEEE ops, identical
    in both engines — no mean-of-means drift."""
    e = t(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hour")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(exact("value")).alias("s_dec"),
    )
    wt = W.partitionBy("event_type")
    tot = h.select(
        "event_type",
        "hour",
        "n_events",
        F.col("s_dec").cast("double").alias("s_dbl"),
        F.sum("n_events").over(wt).alias("n_tot"),
        F.sum("s_dec").over(wt).cast("double").alias("s_tot"),
    )
    return tot.select(
        "event_type",
        "hour",
        "n_events",
        (F.col("s_dbl") / F.col("n_events")).alias("hour_avg"),
        (
            (F.col("s_dbl") * F.col("n_tot"))
            / (F.col("n_events") * F.col("s_tot"))
        ).alias("seasonal_index"),
    )




# --- s17: transformWithState v2 (environment-gated registration) ---------
#
# VERDICT r4 item #6: register the v2 arbitrary-stateful path as a real
# query the moment its worker protocol can run. The v2 API
# (``transformWithStateInPandas``) needs the ``protobuf`` package; when
# it is absent the registration is SKIPPED with a recorded reason rather
# than registering a query that would fail in the driver's identical
# container. tests/test_streaming drives the builder equal-to-batch
# whenever protobuf is importable (same gate).


_Q110_ORACLE = """
    WITH act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ), days AS (
      SELECT DISTINCT day AS target_day FROM act
    ), fan AS (
      SELECT d.target_day, a.user_id
      FROM act a JOIN days d
        ON d.target_day >= a.day
       AND d.target_day < a.day + INTERVAL 7 DAY
    )
    SELECT CAST(target_day AS TIMESTAMP) AS window_end_day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS rolling_7d_users
    FROM fan GROUP BY target_day
"""


@register("q110_rolling_distinct_users", _Q110_ORACLE)
def q110_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5/A4] ROLLING 7-DAY DISTINCT USERS (trailing WAU per day) —
    the product-health metric every events warehouse serves daily, and
    the canonical HARD window: COUNT(DISTINCT) cannot ride a sliding
    window frame (distinct isn't decomposable into frame increments), so
    naive engines rescan 7 days per output day. Implemented as the
    fan-out rewrite: activity collapses to DISTINCT (user, day) first —
    the only corpus-scale stage — then each activity day broadcasts to
    the ≤7 target days it can serve (``explode(sequence(day, day+6))``
    restricted to observed days), and one (day)-keyed distinct count
    finishes. Cost: |users×days| × 7 fan-out of already-deduped rows,
    NOT 7 corpus rescans — the standard scalable form.

    Exactness: day truncation in UTC (pinned session zone), counts
    BIGINT; only dates and longs cross the wire."""
    e = t(spark, sf_dir, "events")
    act = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    days = act.select(F.col("day").alias("target_day")).distinct()
    fan = act.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("target_day"),
    ).join(days, "target_day")  # only days that actually occur
    return fan.groupBy(
        F.col("target_day").alias("window_end_day")
    ).agg(F.count_distinct("user_id").cast("long").alias("rolling_7d_users"))
