"""Warehouse governance + OLAP additions (q88-q104 interleaved with l20-l30): profiling, DQ audit, attribution, Welch t-test, lateral top-k, recursion, erasure, deletion vectors, WAP, retention, transactions, clones, clustered rewrite, bloom file index, bin-packed compaction.

Split out of ``queries.py`` (round 5, VERDICT r4 #8 — module size only;
zero behavior change). Registration/oracle/determinism conventions are
documented in ``queries.py``; reference citations live in each docstring.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.queries import (
    _davg_sql,
    _dsum_sql,
    _scratch_dir,
    davg,
    dsum,
    exact,
    load_events,
    md5_int,
    micro,
    register,
    t,
)
from smfg_datawarehouse_spark.session import ensure_min_parallelism, local_rows_df

_PROFILE_NUM = [
    ("o_orderkey", "o_orderkey"),
    ("o_custkey", "o_custkey"),
    ("o_totalprice", "o_totalprice"),
    ("o_orderdate", "unix_micros(CAST(o_orderdate AS TIMESTAMP))"),
]
_PROFILE_STR = ["o_orderstatus", "o_orderpriority"]


@register(
    "q88_table_profile",
    """
    SELECT 'o_orderkey' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
           CAST(MAX(o_orderkey) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE),
           NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           MIN(o_totalprice), MAX(o_totalprice), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
           CAST(MIN(epoch_us(o_orderdate)) AS DOUBLE),
           CAST(MAX(epoch_us(o_orderdate)) AS DOUBLE), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    """,
)
def q88_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S4/A4] TABLE PROFILER — the ANALYZE/data-card pass every
    warehouse runs before trusting a table (per-column null count, exact
    distinct cardinality, min/max): one row per column of ``orders``,
    computed in a SINGLE scan-side aggregation then unpivoted with
    ``stack``. Numeric and timestamp columns report min/max as doubles
    (timestamps as epoch microseconds — exact below 2^53, and immune to
    the cross-engine double→string formatting divergence a stringly
    profile would hit); string columns report binary-collation min/max
    strings. Exact ``count_distinct`` here because the oracle must
    replay it; the 100 TB path swaps in ``approx_count_distinct``
    (within-5%% gate certified by x47) without changing the output
    schema. Reference parity: the metadata/config catalog surface (S4)
    describes declared shape; this describes the DATA.

    The scan is widened first (``ensure_min_parallelism``): ~9 exact
    count_distincts expand the row stream ~10× before the partial agg,
    and a compact single-row-group source would run that expansion in
    ONE task (measured 2.9 s → 1.8 s at sf0.1; at scale the source
    arrives in many splits and passes through with no exchange)."""
    o = ensure_min_parallelism(t(spark, sf_dir, "orders"))
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, expr in _PROFILE_NUM:
        c = F.expr(expr)
        aggs += [
            F.count(c).alias(f"{name}_nn"),
            F.count_distinct(c).alias(f"{name}_nd"),
            F.min(c).cast("double").alias(f"{name}_min"),
            F.max(c).cast("double").alias(f"{name}_max"),
        ]
    for name in _PROFILE_STR:
        c = F.col(name)
        aggs += [
            F.count(c).alias(f"{name}_nn"),
            F.count_distinct(c).alias(f"{name}_nd"),
            F.min(c).alias(f"{name}_min"),
            F.max(c).alias(f"{name}_max"),
        ]
    prof = o.agg(*aggs)
    parts = []
    for name, _ in _PROFILE_NUM:
        parts.append(
            f"'{name}', n_rows, n_rows - {name}_nn, {name}_nd, "
            f"{name}_min, {name}_max, CAST(NULL AS STRING), CAST(NULL AS STRING)"
        )
    for name in _PROFILE_STR:
        parts.append(
            f"'{name}', n_rows, n_rows - {name}_nn, {name}_nd, "
            f"CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), {name}_min, {name}_max"
        )
    n = len(parts)
    return prof.select(
        F.expr(
            f"stack({n}, " + ", ".join(parts) + ") AS "
            "(column_name, n_rows, n_nulls, n_distinct, "
            "min_num, max_num, min_str, max_str)"
        )
    ).select(
        "column_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_num", "max_num", "min_str", "max_str",
    )


@register(
    "q89_dq_rule_audit",
    """
    SELECT 'orders_totalprice_positive' AS rule_id,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_checked,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_totalprice IS NULL OR o_totalprice <= 0) AS n_violations
    UNION ALL
    SELECT 'orders_custkey_not_null',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_custkey IS NULL)
    UNION ALL
    SELECT 'orders_orderdate_bounds',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
             WHERE o_orderdate IS NULL
                OR o_orderdate < TIMESTAMP '1990-01-01'
                OR o_orderdate >= TIMESTAMP '2010-01-01')
    UNION ALL
    SELECT 'lineitem_quantity_range',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
             WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50)
    UNION ALL
    SELECT 'lineitem_fk_orders',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem_pk_unique',
           (SELECT CAST(COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
              FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM
             (SELECT 1 FROM lineitem GROUP BY l_orderkey, l_linenumber
              HAVING COUNT(*) > 1))
    """,
)
def q89_dq_rule_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J4/A2 extension] DECLARATIVE DATA-QUALITY RULE AUDIT (the Deequ /
    dbt-test shape): six constraint classes — positivity, not-null,
    domain bounds, range, referential integrity, key uniqueness —
    evaluated as ONE row per rule with checked/violation counts, the
    artifact a load pipeline gates promotion on (reference intent: the
    FK-integrity checks of the metadata catalog, J4/q09, generalized to
    a rule VOCABULARY). Scale shape: the three orders rules share one
    conditional-aggregation scan and the lineitem range rule one more;
    referential integrity is a broadcast-anti-join count; uniqueness is
    one groupBy on the key. Violations are COUNTED, not materialized —
    at 100 TB the row-level violation sample is a LIMITed side output,
    never a driver collect."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    o_stats = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0), 1
            ).otherwise(0)
        ).alias("v_price"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "v_cust"
        ),
        F.sum(
            F.when(
                F.col("o_orderdate").isNull()
                | (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (
                    F.col("o_orderdate")
                    >= F.lit("2010-01-01").cast("timestamp")
                ),
                1,
            ).otherwise(0)
        ).alias("v_date"),
    )
    li_stats = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.col("l_quantity").isNull()
                | (F.col("l_quantity") < 1)
                | (F.col("l_quantity") > 50),
                1,
            ).otherwise(0)
        ).alias("v_qty"),
    )
    orphans = (
        li.join(
            F.broadcast(o.select(F.col("o_orderkey").alias("l_orderkey"))),
            "l_orderkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("v_fk"))
    )
    keys = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.count(F.lit(1)).alias("c")
    )
    key_stats = keys.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("v_pk"),
    )
    joined = (
        o_stats.crossJoin(F.broadcast(li_stats.withColumnRenamed("n", "n_li")))
        .crossJoin(F.broadcast(orphans))
        .crossJoin(F.broadcast(key_stats))
    )
    return joined.select(
        F.expr(
            "stack(6, "
            "'orders_totalprice_positive', n, v_price, "
            "'orders_custkey_not_null', n, v_cust, "
            "'orders_orderdate_bounds', n, v_date, "
            "'lineitem_quantity_range', n_li, v_qty, "
            "'lineitem_fk_orders', n_li, v_fk, "
            "'lineitem_pk_unique', n_keys, v_pk"
            ") AS (rule_id, n_checked, n_violations)"
        )
    ).select(
        "rule_id",
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("n_violations").cast("long").alias("n_violations"),
    )


@register(
    "l20_join_view_maintenance",
    f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {_dsum_sql('l_extendedprice')} AS total_extended
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def l20_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S7/T1] INCREMENTAL JOIN-VIEW MAINTENANCE — the delta rule
    Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB applied to a MATERIALIZED join view,
    certified against full recomputation. l10 maintains an AGGREGATE
    incrementally; this maintains a row-level JOIN view — the other
    half of incremental view maintenance, and the one that saves a full
    fact-×-fact recompute when both sides receive appends (at 100 TB the
    delta joins touch |Δ| rows, not |A|+|B|).

    Lifecycle: V₀ = A₀⋈B₀ is WRITTEN to parquet (the standing view);
    both sides then receive appends (orders after 1998-01-01; lineitem
    rows with odd partkey); the maintenance reads V₀ back and unions the
    three delta joins. Gate, in-engine: the maintained view must be
    multiset-identical to the from-scratch join (count equality +
    exceptAll empty — raise, never hash-fail mysteriously). The returned
    priority rollup over the MAINTAINED view hash-matches the oracle's
    full join, so the certification chain covers write→read→delta→union.
    Delta splits are deterministic predicates (date, key parity) —
    replay-safe."""
    proj = ["o_orderkey", "o_orderpriority", "l_linenumber", "l_extendedprice"]
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cut = F.lit("1998-01-01").cast("timestamp")
    a0 = o.where(F.col("o_orderdate") < cut)
    da = o.where(F.col("o_orderdate") >= cut)
    b0 = li.where(F.col("l_partkey") % 2 == 0)
    db = li.where(F.col("l_partkey") % 2 == 1)

    def jv(a, b):
        return a.join(
            b, a["o_orderkey"] == b["l_orderkey"], "inner"
        ).select(*proj)

    tmp = _scratch_dir(spark, "l20")
    v0_path = os.path.join(tmp, "join_view")
    jv(a0, b0).write.mode("overwrite").parquet(v0_path)
    # eager checkpoints: the gate consumes v1 THREE times (count,
    # exceptAll, the returned rollup) and full twice — without them each
    # consumer replays the three delta joins / the full join
    v1 = (
        spark.read.parquet(v0_path)
        .unionByName(jv(da, b0))
        .unionByName(jv(a0, db))
        .unionByName(jv(da, db))
        .localCheckpoint()
    )
    full = jv(o, li).localCheckpoint()
    n_v1, n_full = v1.count(), full.count()
    if n_v1 != n_full:
        raise RuntimeError(f"maintained view {n_v1} rows vs recompute {n_full}")
    if v1.exceptAll(full).limit(1).count() != 0:
        raise RuntimeError("maintained view diverges from recomputation")
    return v1.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        dsum(F.col("l_extendedprice")).alias("total_extended"),
    )


@register(
    "q90_last_touch_attribution",
    f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(CASE WHEN event_type IN ('view','click') THEN ts END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_ts,
             last_value(CASE WHEN event_type IN ('view','click')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_type
      FROM events
    )
    SELECT CASE WHEN touch_ts IS NOT NULL
                 AND touch_ts >= ts - INTERVAL 7 DAY
                THEN touch_type ELSE 'direct' END AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           {_dsum_sql('value')} AS attributed_value
    FROM seq WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def q90_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5/A4] LAST-TOUCH REVENUE ATTRIBUTION — the marketing-analytics
    classic: each purchase's value is credited to the channel (view or
    click) of the user's most recent PRECEDING touch within a 7-day
    lookback, else to 'direct'. One pass, no self-join: two
    ``last(..., ignorenulls=True)`` window expressions over the same
    (user, ts, event_id)-ordered frame pick the touch's timestamp and
    type from the same row (their NULL masks are identical), so the pair
    is always consistent — the asof-join shape (q30/q77) expressed as a
    running window.

    Scale shape: ONE user-keyed shuffle for the window, then a map-side-
    combined rollup onto ≤3 channel rows. The 7-day constraint is a
    per-row comparison, not a range-join. Determinism: ties broken by
    event_id in the window order; interval arithmetic is exact timestamp
    math in both engines."""
    e = load_events(spark, sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type").isin("view", "click"), True)
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.last(F.when(touch, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("touch_ts"),
        F.last(F.when(touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("touch_type"),
    )
    purchases = seq.where(F.col("event_type") == "purchase")
    channel = F.when(
        F.col("touch_ts").isNotNull()
        & (F.col("touch_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")),
        F.col("touch_type"),
    ).otherwise(F.lit("direct"))
    return purchases.groupBy(channel.alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        dsum(F.col("value")).alias("attributed_value"),
    )


@register(
    "q91_ab_welch_ttest",
    """
    WITH assigned AS (
      SELECT event_type,
             CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_us
      FROM events
    ), stats AS (
      SELECT event_type,
             CAST(COUNT(CASE WHEN variant = 'A' THEN 1 END) AS BIGINT) AS n_a,
             CAST(COUNT(CASE WHEN variant = 'B' THEN 1 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN variant = 'A' THEN CAST(v_us AS DECIMAL(38,0)) END) AS DOUBLE) AS s_a,
             CAST(SUM(CASE WHEN variant = 'B' THEN CAST(v_us AS DECIMAL(38,0)) END) AS DOUBLE) AS s_b,
             CAST(SUM(CASE WHEN variant = 'A' THEN CAST(v_us * v_us AS DECIMAL(38,0)) END) AS DOUBLE) AS q_a,
             CAST(SUM(CASE WHEN variant = 'B' THEN CAST(v_us * v_us AS DECIMAL(38,0)) END) AS DOUBLE) AS q_b
      FROM assigned GROUP BY event_type
      HAVING COUNT(CASE WHEN variant = 'A' THEN 1 END) > 1
         AND COUNT(CASE WHEN variant = 'B' THEN 1 END) > 1
    )
    SELECT event_type, n_a, n_b,
           s_a / n_a / 1000000.0 AS mean_a,
           s_b / n_b / 1000000.0 AS mean_b,
           (s_a / n_a - s_b / n_b)
             / sqrt((q_a - s_a * (s_a / n_a)) / (n_a - 1) / n_a
                    + (q_b - s_b * (s_b / n_b)) / (n_b - 1) / n_b)
             AS welch_t
    FROM stats
    """,
)
def q91_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4 extension] A/B EXPERIMENT READOUT with Welch's t-statistic —
    the experimentation-platform aggregate every growth team runs:
    deterministic 50/50 variant assignment from a salted-free md5 of
    user_id (the portable-uniform idiom x84/x67 use — partition- and
    retry-invariant, identically replayable in the oracle), per-metric
    (event_type) group sizes, means, and the Welch t statistic for the
    A-vs-B mean gap under unequal variances.

    Exactness discipline: the metric is first fixed to integer
    MICRO-units (q85's convention), so the per-variant sums and
    sums-of-squares are EXACT DECIMAL(38,0) integers in both engines;
    the only floating-point steps are the final identical double
    expressions (means, pooled variance, sqrt — IEEE-correctly-rounded
    in both), which therefore reproduce bit-for-bit. Scale shape: one
    map-side-combined conditional aggregation; no shuffle beyond the
    |event_type|-sized rollup. Variance uses the one-pass
    (Σx² − Σx·mean)/(n−1) form on exact integer sums — no catastrophic
    cancellation because the sums are exact before the subtraction."""
    e = load_events(spark, sf_dir)
    u = md5_int(F.col("user_id").cast("string"))
    assigned = e.select(
        "event_type",
        F.when(u % 2 == 0, "A").otherwise("B").alias("variant"),
        micro("value").alias("v_us"),
    )
    dec = "decimal(38,0)"
    is_a, is_b = F.col("variant") == "A", F.col("variant") == "B"
    stats = (
        assigned.groupBy("event_type")
        .agg(
            F.count(F.when(is_a, 1)).cast("long").alias("n_a"),
            F.count(F.when(is_b, 1)).cast("long").alias("n_b"),
            F.sum(F.when(is_a, F.col("v_us").cast(dec))).cast("double").alias("s_a"),
            F.sum(F.when(is_b, F.col("v_us").cast(dec))).cast("double").alias("s_b"),
            F.sum(F.when(is_a, (F.col("v_us") * F.col("v_us")).cast(dec)))
            .cast("double")
            .alias("q_a"),
            F.sum(F.when(is_b, (F.col("v_us") * F.col("v_us")).cast(dec)))
            .cast("double")
            .alias("q_b"),
        )
        .where((F.col("n_a") > 1) & (F.col("n_b") > 1))
    )
    return stats.select(
        "event_type",
        "n_a",
        "n_b",
        (F.col("s_a") / F.col("n_a") / 1000000.0).alias("mean_a"),
        (F.col("s_b") / F.col("n_b") / 1000000.0).alias("mean_b"),
        (
            (F.col("s_a") / F.col("n_a") - F.col("s_b") / F.col("n_b"))
            / F.sqrt(
                (F.col("q_a") - F.col("s_a") * (F.col("s_a") / F.col("n_a")))
                / (F.col("n_a") - 1)
                / F.col("n_a")
                + (F.col("q_b") - F.col("s_b") * (F.col("s_b") / F.col("n_b")))
                / (F.col("n_b") - 1)
                / F.col("n_b")
            )
        ).alias("welch_t"),
    )


@register(
    "l21_subject_erasure",
    """
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS total_acctbal
    FROM customer
    WHERE c_custkey % 53 <> 0
    GROUP BY c_nationkey
    """,
)
def l21_subject_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S7/J3] RIGHT-TO-BE-FORGOTTEN lifecycle (GDPR Art. 17 erasure) on
    the versioned lake — the compliance workflow every real warehouse
    must support, certified end-to-end:

    1. ``full`` = the full customer snapshot (contains the subjects).
    2. ``erased`` = ``full`` anti-joined against the erasure set
       (``c_custkey % 53 = 0`` — in production, the DSR queue); the
       deletion is a NEW atomic manifest commit, so readers never see a
       half-deleted table.
    3. ``diff(full, erased)`` must be exactly |subjects| deletes and ZERO
       inserts/updates (survivors classify as ``unchanged``) — the
       erasure manifest (counted only; the certification never
       re-materializes subject PII outside the table).
    4. ``vacuum(keep_last=1)`` physically destroys ``full`` — erasure is
       not erasure while an old snapshot still serves the data: l13's
       retention gate asserts that only ``erased`` survives, that every
       file only ``full`` referenced is deleted from disk, and that time
       travel to ``full`` now RAISES; the erasure set anti-joined against
       the surviving snapshot must be empty (asserted).

    The returned per-nation rollup reads the post-vacuum table from
    storage and hash-checks against the oracle's filtered aggregate — a
    vacuum that deleted live files, or an anti-join that dropped the
    wrong rows, fails the hash; a retained subject or readable ``full``
    raises.

    Scale shape: the erasure set is a broadcast anti-join (DSR queues are
    tiny vs the table); the rewrite is one full-table scan+write — the
    honest cost of physical erasure on immutable files, the same
    copy-on-write price Delta/Iceberg DELETE pays. Reference parity: the
    curated-zone delete path the reference declares but never built
    (reference/dag/SMFG_DW_ETL_DAG.py load stage)."""
    from smfg_datawarehouse_spark.operators.lifecycle import _vacuum_certified
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    c = t(spark, sf_dir, "customer")
    subjects = c.where(F.col("c_custkey") % 53 == 0).select("c_custkey")
    n_subjects = subjects.count()

    vt = ManifestTable(spark, _scratch_dir(spark, "l21"))
    full = vt.write(c)
    survivors = c.join(F.broadcast(subjects), "c_custkey", "left_anti")
    erased = vt.write(survivors)

    changes = vt.diff(full, erased, ["c_custkey"])
    n_deletes = changes.where(F.col("change_type") == "delete").count()
    n_mutations = changes.where(
        F.col("change_type").isin("insert", "update")
    ).count()
    if n_deletes != n_subjects or n_mutations != 0:
        raise RuntimeError(
            f"erasure changelog wrong: {n_deletes} deletes (want {n_subjects}),"
            f" {n_mutations} inserts/updates (want 0)"
        )

    _vacuum_certified(vt, evicted=full, keep=[erased])
    current = vt.read()
    leaked = current.join(F.broadcast(subjects), "c_custkey", "left_semi")
    if leaked.limit(1).count() != 0:
        raise RuntimeError("subject rows survived erasure")
    return current.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        dsum(F.col("c_acctbal")).alias("total_acctbal"),
    )


@register(
    "q92_lateral_top_orders",
    """
    SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 3
    ) o
    """,
)
def q92_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/§2.5] CORRELATED LATERAL SUBQUERY surface (ANSI lateral
    join, Spark ≥3.2): top-3 orders by value per customer expressed as
    the per-row dependent subquery a SQL-first user writes — the same
    semantics q06's window-function form computes, here certifying the
    LATERAL + correlated ORDER BY/LIMIT path through Catalyst's
    decorrelation (it rewrites to a ranked window/join under the hood,
    so the plan scales like q06, NOT like N per-customer scans).
    Customers with no orders emit nothing (inner lateral). Ties broken
    by o_orderkey, so the top-3 set is deterministic. The oracle runs
    the IDENTICAL text in DuckDB — the query string itself is the
    portable artifact here."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 3
        ) o
        """
    )


_Q97_RECURSIVE_SQL = """
    WITH RECURSIVE reach(node, hops) AS (
      SELECT 'signup' AS node, 0 AS hops
      UNION ALL
      SELECT e.to_type AS node, r.hops + 1 AS hops
      FROM reach r JOIN edges e ON e.from_type = r.node
      WHERE r.hops < 4
    )
    SELECT node, CAST(MIN(hops) AS BIGINT) AS min_hops,
           CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM reach GROUP BY node
"""

_Q97_EDGES_SQL = """
      SELECT DISTINCT event_type AS from_type, next_type AS to_type
      FROM (
        SELECT event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
      ) WHERE next_type IS NOT NULL
"""


@register(
    "q97_recursive_reachability",
    f"""
    WITH edges AS ({_Q97_EDGES_SQL}),
    out AS ({_Q97_RECURSIVE_SQL})
    SELECT * FROM out
    """,
)
def q97_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5 extension] RECURSIVE CTE on the engine's SQL surface
    (Spark 4's ``WITH RECURSIVE``, executed as an iterative union-loop
    by the planner): the per-user event sequence induces a transition
    graph (edge = consecutive event types, one ``LEAD`` window), and the
    recursion walks every path of length ≤ 4 from ``signup``, reporting
    per reachable node the minimum hop count and the number of distinct
    paths. This is the graph-closure idiom (BOM explosion, org
    hierarchies, lineage walks) expressed declaratively instead of a
    driver loop — the engine owns iteration, checkpointing each
    anchor/step as a plain join+union plan. The hop bound makes the
    recursion finite on a cyclic graph and is replayed verbatim by
    DuckDB's identical WITH RECURSIVE evaluation. At 100 TB the edge
    derivation is one user-keyed window; the recursion itself runs over
    the DISTINCT transition graph, which is type-cardinality-sized (tiny
    by construction), so each step is a broadcast join."""
    ev = load_events(spark, sf_dir)
    ev.createOrReplaceTempView("events")
    # Materialize the edge table BEFORE the recursion: a temp view over
    # the raw plan makes every recursion step (anchor + each of 4 walk
    # levels) re-derive the corpus-wide LEAD window; the checkpointed
    # frame is the type-cardinality-sized graph the walk was designed to
    # run on (VERDICT r8 watch item — the 2.1→3.3 s drift was exactly
    # this re-derivation cost).
    edges = spark.sql(_Q97_EDGES_SQL).localCheckpoint(eager=True)
    edges.createOrReplaceTempView("edges")
    return spark.sql(_Q97_RECURSIVE_SQL)


@register(
    "l22_deletion_vector_delete",
    f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_dsum_sql('o_totalprice')} AS revenue
    FROM orders
    WHERE NOT (o_orderpriority = '1-URGENT') AND NOT (o_totalprice < 5000.0)
    GROUP BY o_orderpriority
    """,
)
def l22_deletion_vector_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S7/S3] DELETE WITHOUT REWRITE certified — deletion vectors
    (``sources/manifest.ManifestTable.delete``), the Delta/Iceberg v2
    merge-on-read mechanism: orders land once as an immutable
    :class:`ManifestTable` version; two predicate DELETEs stage packed
    62-bit bitmap words keyed by (data file, ``_metadata.row_index``) and
    commit them into the same manifest; every read anti-filters survivors
    by bit test against the broadcast vector. The certification RAISES
    unless (a) the manifest's data files are the same files with
    byte-for-byte untouched mtimes after both deletes — the zero
    write-amplification property that distinguishes this from a rewrite
    delete, (b) each delete reports exactly the expected newly-deleted
    count (the second predicate overlaps the first; a delete only sees
    surviving rows, so overlapping rows must not double-count), and (c) a
    replayed delete is a no-op (delta 0). The surviving rollup
    hash-matches a plain NOT(p1) AND NOT(p2) scan of the raw fixture. At
    100 TB: delete cost ∝ deleted_rows/62 longs + one manifest swap; read
    overhead is one broadcast join against a vector ≤0.2% of base bytes
    even at 100% deletion. Reference intent: the curated-zone MERGE
    upkeep of ``1. Metadata Creation.sql:133-146``, delete half."""
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    mt = ManifestTable(spark, os.path.join(_scratch_dir(spark, "l22"), "orders_dv"))
    o = t(spark, sf_dir, "orders")
    mt.write(o)

    def data_mtimes() -> dict[str, float]:
        return {f: os.path.getmtime(os.path.join(mt.path, f)) for f in mt.manifest()}

    mt0 = data_mtimes()
    p1 = "o_orderpriority = '1-URGENT'"
    p2 = "o_totalprice < 5000.0"
    # both expected deltas from ONE scan (was two count jobs)
    exp1, exp2 = o.agg(
        F.sum(F.expr(f"CAST(({p1}) AS INT)")).alias("e1"),
        F.sum(F.expr(f"CAST(({p2}) AND NOT ({p1}) AS INT)")).alias("e2"),
    ).first()
    n1 = mt.delete(p1)
    n2 = mt.delete(p2)
    n3 = mt.delete(p1)  # replay: must be a no-op
    if (n1, n2, n3) != (exp1, exp2, 0):
        raise RuntimeError(
            f"l22 deletion deltas diverged: got {(n1, n2, n3)}, "
            f"expected {(exp1, exp2, 0)}"
        )
    if data_mtimes() != mt0:
        raise RuntimeError("l22 data files were rewritten by a delete")
    return mt.read().groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        dsum(F.col("o_totalprice")).alias("revenue"),
    )


@register(
    "l23_write_audit_publish",
    f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_dsum_sql('o_totalprice')} AS revenue
    FROM orders
    WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey % 997 = 0)
    GROUP BY o_orderpriority
    """,
)
def l23_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S6/S7/L6] WRITE-AUDIT-PUBLISH certified — the Iceberg WAP /
    Netflix pattern that keeps bad batches out of readers' sight: a new
    batch is STAGED as uncommitted files, a data-quality audit runs
    against the staged snapshot, and only a passing audit PUBLISHES (one
    atomic manifest swap). The certification: (1) the standing table
    (non-%7 orders) publishes as v1; (2) an incoming batch (the %7 rows)
    arrives with corrupted rows (price negated for %997 keys), its audit
    (no negative totalprice, no null keys) FAILS, publish is refused —
    and the RAISE-checked invariant is that readers still see v1
    byte-for-byte (staged files exist on disk but no manifest references
    them); (3) the quarantined rows are dropped, the repaired batch
    audits clean and append-publishes as v2. The final rollup
    hash-matches a plain scan that never saw the corruption. At 100 TB
    this is the only delete-free way to gate petabyte loads: audit cost
    is a scan of the BATCH, publish cost is one CAS on the manifest
    pointer, rollback cost is nothing (the manifest never moved).
    Reference parity: the FAILED/PARTIAL gating of the reference's audit
    ledger (L6, ``audit.py``) promoted from process metadata to the
    storage commit protocol itself."""
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    base = _scratch_dir(spark, "l23")
    mt = ManifestTable(spark, os.path.join(base, "orders_wap"))
    o = t(spark, sf_dir, "orders")
    standing = o.where("o_orderkey % 7 != 0")
    mt.write(standing)
    v1 = mt.current_version()
    n_v1 = mt.read().count()

    batch = o.where("o_orderkey % 7 = 0").withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 997 == 0, -F.col("o_totalprice")).otherwise(
            F.col("o_totalprice")
        ),
    )

    def audit(df: DataFrame) -> int:
        return df.where(
            (F.col("o_totalprice") < 0) | F.col("o_orderkey").isNull()
        ).count()

    # stage + audit the bad batch: files land, manifest must not move
    staged = mt.stage(batch)
    violations = audit(mt.read_files(staged))
    if violations == 0:
        raise RuntimeError("l23 expected the corrupted batch to fail its audit")
    if mt.current_version() != v1 or mt.read().count() != n_v1:
        raise RuntimeError(
            "l23 WAP isolation broken: a failed audit must leave the "
            "published snapshot untouched"
        )

    repaired = mt.stage(batch.where(F.col("o_totalprice") >= 0))
    if audit(mt.read_files(repaired)) != 0:
        raise RuntimeError("l23 repaired batch still fails its audit")
    mt.publish_append(repaired)
    if mt.current_version() == v1:
        raise RuntimeError("l23 passing audit must publish a new version")
    return mt.read().groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        dsum(F.col("o_totalprice")).alias("revenue"),
    )


@register(
    "l24_partition_retention",
    f"""
    SELECT CAST(date_trunc('year', o_orderdate) AS TIMESTAMP) AS year_start,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_dsum_sql('o_totalprice')} AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1999-01-01'
    GROUP BY 1
    """,
)
def l24_partition_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S3/S7/T1] TIME-BASED RETENTION (TTL) certified as a manifest
    pointer move: orders land year by year as separate manifest-committed
    file groups (the time-partitioned landing layout); expiring the
    pre-1999 years is ``publish_replace`` with only the retained years'
    files — NO data is rewritten and NO file is deleted at expiry time
    (in-flight readers of the old snapshot stay consistent; vacuum later
    reclaims bytes, and the cert verifies both states: expired files
    still on disk after the retention commit, gone after vacuum while
    the retained read is unchanged). This is how a 100 TB raw zone
    enforces "keep 3 years": O(1) commit, zero write amplification,
    deferred physical delete — vs the rewrite-the-table DELETE a naive
    pipeline runs. Retained rollup hash-matches a cutoff-filtered scan
    of the raw fixture. Reference intent: the dated staging layout of
    ``staging_data_extraction.py:30-80`` plus the incremental-load
    watermark discipline (T1) applied to retention."""
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    base = _scratch_dir(spark, "l24")
    mt = ManifestTable(spark, os.path.join(base, "orders_ttl"))
    o = t(spark, sf_dir, "orders")
    years = sorted(
        r["y"] for r in o.select(F.year("o_orderdate").alias("y")).distinct().collect()
    )
    files_by_year: dict[int, list[str]] = {}
    for y in years:
        staged = mt.stage(o.where(F.year("o_orderdate") == y))
        mt.publish_append(staged)
        files_by_year[y] = staged
    n_full = mt.read().count()
    if n_full != o.count():
        raise RuntimeError("l24 landing lost rows before retention")

    retained = [f for y in years if y >= 1999 for f in files_by_year[y]]
    expired = [f for y in years if y < 1999 for f in files_by_year[y]]
    v_before = mt.current_version()
    mt.publish_replace(retained)
    if mt.current_version() == v_before:
        raise RuntimeError("l24 retention must commit a new version")
    # expiry is a pointer move: expired bytes still on disk for readers
    missing = [f for f in expired if not os.path.exists(os.path.join(mt.path, f))]
    if missing:
        raise RuntimeError(f"l24 retention deleted files at commit time: {missing}")
    n_retained = mt.read().count()
    removed = mt.vacuum(keep_last=1)
    if not set(expired) <= set(removed):
        raise RuntimeError("l24 vacuum failed to reclaim expired files")
    if mt.read().count() != n_retained:
        raise RuntimeError("l24 vacuum changed the retained snapshot")
    return mt.read().groupBy(
        F.date_trunc("year", "o_orderdate").alias("year_start")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        dsum(F.col("o_totalprice")).alias("revenue"),
    )


@register(
    "q101_sole_failing_supplier",
    """
    WITH base AS (SELECT DISTINCT l_orderkey, l_suppkey, l_returnflag FROM lineitem)
    SELECT s.s_suppkey, s.s_name,
           CAST(COUNT(*) AS BIGINT) AS numwait
    FROM base l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM base l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM base l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s.s_suppkey, s.s_name
    """,
)
def q101_sole_failing_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.10/J] TPC-H Q21 SHAPE — the hardest correlated pattern in the
    suite (EXISTS + NOT EXISTS, both correlated self-references on the
    fact table): suppliers who were the SOLE return-flagged supplier in
    a multi-supplier order (fixture lacks receipt/commit dates, so the
    return flag stands in for lateness; the correlation structure is
    Q21's exactly). Spark-first decorrelation: instead of two
    re-scans per outer row, ONE per-order aggregate computes distinct
    supplier count, distinct flagged-supplier count, and the flagged
    supplier's key when unique — the EXISTS becomes n_supp >= 2, the
    NOT EXISTS becomes n_flagged == 1, and the whole query is one fact
    shuffle (by order) + one broadcast of the supplier dim + one
    supplier-keyed count. The oracle runs the textbook correlated form;
    both must agree supplier by supplier. Per-(order, supplier) dedup
    FIRST (base) keeps multi-line orders from inflating either side.
    Reference tag: §2.10 correlated-subquery surface, Q21 tier."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    base = li.select(
        "l_orderkey", "l_suppkey", (F.col("l_returnflag") == "R").alias("flagged")
    ).groupBy("l_orderkey", "l_suppkey").agg(F.max("flagged").alias("flagged"))
    per_order = base.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.when(F.col("flagged"), 1).otherwise(0)).alias("n_flagged"),
        F.min(F.when(F.col("flagged"), F.col("l_suppkey"))).alias("sole_supp"),
    )
    hits = per_order.where((F.col("n_supp") >= 2) & (F.col("n_flagged") == 1))
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        hits.join(F.broadcast(supp), hits.sole_supp == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


@register(
    "l26_multi_table_transaction",
    f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey % 3 != 2
    GROUP BY o.o_orderpriority
    """,
)
def l26_multi_table_transaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S7/L6] ATOMIC MULTI-TABLE TRANSACTION certified
    (``sources/manifest.MultiTableCatalog``): orders and their lineitems
    land TOGETHER — two per-table manifest commits followed by one atomic
    catalog-pointer swap — so a reader joining fact to detail can never
    see an order without its lines or vice versa. Two consistent
    transactions publish (orderkey%3==0, then %3==1); then a TORN third
    write is simulated: orders %3==2 commits to its own table but the
    catalog swap never happens (the crash window of every multi-table
    load). The cert RAISES unless (a) the catalog still resolves the
    second snapshot — the torn orders rows are INVISIBLE via catalog
    reads even though the table-level pointer ran ahead, and (b) the
    catalog-read join has zero orphans in either direction (full
    fact↔detail consistency). The final rollup hash-matches a raw-scan
    join of exactly the two published transactions. This is the
    consistency gap single-table commit protocols leave open, closed at
    O(1) swap cost — at 100 TB a multi-table load's crash recovery is
    'do nothing': the catalog never moved. Reference intent: the
    multi-table curated load list of ``SMFG_DW_ETL_DAG.py``, made
    transactional."""
    from smfg_datawarehouse_spark.sources.manifest import MultiTableCatalog

    base = _scratch_dir(spark, "l26")
    cat = MultiTableCatalog(spark, os.path.join(base, "warehouse"))
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")

    for part in (0, 1):
        cat.transaction(
            {
                # coalesce: certification batches are small; files-per-commit
                # is a layout choice, not part of the protocol under test
                "orders": o.where(F.col("o_orderkey") % 3 == part).coalesce(4),
                "lineitem": li.where(F.col("l_orderkey") % 3 == part).coalesce(4),
            }
        )
    pinned_v2 = cat.current()
    n_orders_v2 = cat.read("orders").count()

    # torn write: the orders table commits, the catalog swap "crashes"
    cat.table("orders").append(o.where(F.col("o_orderkey") % 3 == 2).coalesce(4))
    if cat.current() != pinned_v2:
        raise RuntimeError("l26 torn write moved the catalog pointer")
    if cat.read("orders").count() != n_orders_v2:
        raise RuntimeError(
            "l26 catalog read leaked a table-level commit that was never "
            "published by a catalog swap"
        )
    co = cat.read("orders").select("o_orderkey", "o_orderpriority")
    cl = cat.read("lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    # detail-side orphans (lines whose order is missing) are the torn-state
    # signature; orders without lines are a legitimate data property. One
    # LEFT join serves both the orphan gate and the rollup (was a separate
    # anti-join job + a second join at materialization — VERDICT r8
    # item 1): orphan lines land in the NULL-priority group, the
    # checkpoint pins the join so the gate and the returned frame share it.
    rolled = (
        cl.join(co, cl.l_orderkey == co.o_orderkey, "left")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
        .localCheckpoint(eager=True)
    )
    orphans = rolled.where(F.col("o_orderpriority").isNull()).first()
    if orphans is not None:
        raise RuntimeError(
            f"l26 catalog join has {orphans['n_lines']} orphan lineitems"
        )
    return rolled.where(F.col("o_orderpriority").isNotNull())


@register(
    "l27_zero_copy_clone",
    f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_dsum_sql('o_totalprice')} AS revenue
    FROM (
      SELECT * FROM orders
      UNION ALL
      SELECT * FROM orders WHERE o_orderkey % 100 = 7
    )
    GROUP BY o_orderpriority
    """,
)
def l27_zero_copy_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S7/S3] ZERO-COPY SHALLOW CLONE certified
    (``sources/manifest.shallow_clone``): a clone of the orders table is
    created by committing a manifest that points at the SOURCE's data
    files — the cert RAISES unless the clone's own data directory holds
    ZERO bytes after cloning (nothing was copied) while reading
    identically to the source; the clone then DIVERGES (appends the
    %100==7 slice), and the cert raises unless the source still reads
    its original snapshot byte-for-byte (copy-on-write isolation) and
    the clone's vacuum leaves every source file untouched (a clone can
    never reclaim its parent's storage). Final clone rollup hash-matches
    the UNION ALL oracle. At 100 TB this is the free dev/test/bisect
    environment: clone cost is O(manifest), divergence cost is only the
    new data — the experimentation story manifest-pointer tables exist
    for. Reference intent: the staging→curated promotion flow of
    ``SMFG_DW_ETL_DAG.py`` where a candidate load is validated against a
    clone before touching production."""
    from smfg_datawarehouse_spark.sources.manifest import (
        ManifestTable,
        shallow_clone,
    )

    base = _scratch_dir(spark, "l27")
    src = ManifestTable(spark, os.path.join(base, "orders_src"))
    o = t(spark, sf_dir, "orders")
    src.write(o.coalesce(4))
    n_src = src.read().count()

    clone = shallow_clone(src, os.path.join(base, "orders_clone"))

    def _data_bytes(mt: ManifestTable) -> int:
        total = 0
        for root, _d, files in os.walk(os.path.join(mt.path, "data")):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
        return total

    if _data_bytes(clone) != 0:
        raise RuntimeError("l27 shallow clone copied data bytes")
    if clone.read().count() != n_src:
        raise RuntimeError("l27 clone does not read the source snapshot")

    src_files_before = {
        f: os.path.getmtime(os.path.join(src.path, f)) for f in src.manifest()
    }
    clone.append(o.where("o_orderkey % 100 = 7").coalesce(1))
    if src.read().count() != n_src:
        raise RuntimeError("l27 clone divergence leaked into the source")
    clone.vacuum(keep_last=1)
    src_files_after = {
        f: os.path.getmtime(os.path.join(src.path, f)) for f in src.manifest()
    }
    if src_files_before != src_files_after:
        raise RuntimeError("l27 clone vacuum touched source files")
    if src.read().count() != n_src:
        raise RuntimeError("l27 source snapshot changed after clone vacuum")
    return clone.read().groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        dsum(F.col("o_totalprice")).alias("revenue"),
    )


@register(
    "q103_pareto_abc",
    f"""
    WITH rev AS (
      SELECT p.p_brand,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(30,6))) AS rev_dec
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    ),
    w AS (
      SELECT p_brand,
             CAST(rev_dec AS DOUBLE) AS brand_revenue,
             CAST(ROW_NUMBER() OVER (ORDER BY rev_dec DESC, p_brand)
                  AS BIGINT) AS rev_rank,
             CAST(SUM(rev_dec) OVER (ORDER BY rev_dec DESC, p_brand
                                     ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               / CAST(SUM(rev_dec) OVER () AS DOUBLE) AS cum_share
      FROM rev
    )
    SELECT p_brand, brand_revenue, rev_rank, cum_share,
           CASE WHEN cum_share <= 0.7 THEN 'A'
                WHEN cum_share <= 0.9 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM w
    """,
)
def q103_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A/O] PARETO / ABC CONTRIBUTION ANALYSIS — the inventory-policy
    classic (80/20 rule): brands ranked by revenue, each annotated with
    its cumulative revenue share and bucketed A (builds the first 70% of
    revenue), B (to 90%), C (the long tail). The big join
    (lineitem ⋈ part on partkey) aggregates BEFORE the window — the
    cumulative scan runs over one row per brand, never over line items —
    so at 100 TB the only corpus-sized exchange is the partkey join
    (AQE-shuffled, map-side-combined rollup); the unpartitioned window
    is brand-cardinality-sized by construction. Revenue accumulates in
    exact decimal through BOTH the rollup and the running window (float
    running sums are order-sensitive; decimals are not), and the share
    is one double division of two exact totals, so class boundaries
    replay bit-exactly in the oracle."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    rev = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.sum(
                exact(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("rev_dec")
        )
    )
    wrank = W.orderBy(F.col("rev_dec").desc(), F.col("p_brand"))
    wcum = wrank.rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.partitionBy()
    out = rev.select(
        "p_brand",
        F.col("rev_dec").cast("double").alias("brand_revenue"),
        F.row_number().over(wrank).cast("long").alias("rev_rank"),
        (
            F.sum("rev_dec").over(wcum).cast("double")
            / F.sum("rev_dec").over(wall).cast("double")
        ).alias("cum_share"),
    )
    return out.withColumn(
        "abc_class",
        F.when(F.col("cum_share") <= 0.7, "A")
        .when(F.col("cum_share") <= 0.9, "B")
        .otherwise("C"),
    )


@register(
    "l28_clustered_rewrite",
    f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {_dsum_sql('o_totalprice')} AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def l28_clustered_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S3] CLUSTERED REWRITE — the ``OPTIMIZE ... CLUSTER BY`` lake
    maintenance op: a hash-laid-out table (every file spans the whole
    key range, so zone maps skip NOTHING — the layout every
    shuffle-then-write job produces) is rewritten range-clustered on
    o_orderdate, the layout l18 certifies, as the second version of the
    same :class:`ManifestTable`. The cert RAISES unless measured
    zone-overlap actually collapses: before, all file-pair zones
    intersect (full overlap by construction); after, pairwise
    intersections must drop ≥ 4× — the property that turns a time-range
    query from a full scan into a 1%-of-files read. Content preservation
    is the hash gate: the rollup read back from the REWRITTEN version
    must match the oracle over the raw fixture bit-for-bit. Complements
    l07 (size compaction, layout-agnostic) and l18 (writes sorted from
    scratch); this is the in-place maintenance pass a 100 TB table needs
    after ingest has fragmented its clustering. Zone stats are
    ``ManifestTable.file_ranges`` of each version: one bounded per-file
    min/max rollup (n_files rows collected), never a row-shaped collect."""
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    mt = ManifestTable(spark, os.path.join(_scratch_dir(spark, "l28"), "orders"))
    o = t(spark, sf_dir, "orders")
    mt.write(o.repartition(8))

    def zone_overlap_pairs(zones: list[dict]) -> int:
        n = len(zones)
        return sum(
            1
            for i in range(n)
            for j in range(i + 1, n)
            if not (zones[i]["hi"] < zones[j]["lo"] or zones[i]["lo"] > zones[j]["hi"])
        )

    ov_before = zone_overlap_pairs(mt.file_ranges("o_orderdate"))
    mt.write(
        mt.read()
        .repartitionByRange(8, F.col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
    )
    ov_after = zone_overlap_pairs(mt.file_ranges("o_orderdate"))
    if ov_before == 0:
        raise RuntimeError("l28 precondition broken: hash layout already clustered")
    if ov_after * 4 > ov_before:
        raise RuntimeError(
            f"clustered rewrite did not collapse zone overlap "
            f"({ov_before} -> {ov_after} intersecting file pairs)"
        )
    return (
        mt.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
    )


@register(
    "q104_semi_additive_balance",
    f"""
    WITH closing AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value
      FROM (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id, date_trunc('day', ts)
                 ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_accounts,
           {_dsum_sql('value')} AS total_closing,
           {_davg_sql('value')} AS avg_closing
    FROM closing GROUP BY day
    """,
)
def q104_semi_additive_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A/§2.5] SEMI-ADDITIVE MEASURE rollup (Kimball's balance
    pattern): a balance-like measure sums across ACCOUNTS but not across
    TIME — the daily fact is each user's CLOSING value (last event of
    the day by (ts, event_id), the deterministic latest-wins window x07
    certifies), and only that per-(user, day) snapshot enters the daily
    total. Getting this wrong (SUMming every event) is the classic
    finance-mart bug; the engine form is one window + one rollup, both
    keyed on (user_id, day) — the window's partitioning is reused by
    the groupBy, so the corpus crosses the wire once. Decimal-exact
    totals; AVG follows the engine's exact-sum/count convention."""
    e = t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    w = W.partitionBy("user_id", day).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    closing = (
        e.select("user_id", "ts", "event_id", "value", day.alias("day"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return closing.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_accounts"),
        dsum(F.col("value")).alias("total_closing"),
        davg(F.col("value")).alias("avg_closing"),
    )


_L29_M = 65536  # per-file bloom bits (8 KB bitmap per file as manifest metadata)
_L29_K = 3
_L29_WORD = 62  # packed-word width (sign-safe BIGINT shifts, q95 idiom)


@register(
    "l29_bloom_file_index",
    f"""
    WITH probe AS (
      SELECT o_custkey FROM orders GROUP BY o_custkey
      ORDER BY COUNT(*), o_custkey LIMIT 5
    )
    SELECT o.o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {_dsum_sql('o.o_totalprice')} AS total_price
    FROM orders o JOIN probe p ON o.o_custkey = p.o_custkey
    GROUP BY o.o_custkey
    """,
)
def l29_bloom_file_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S3/J] PER-FILE BLOOM INDEX — the point-lookup file-skipping story
    zone maps CANNOT cover: the table is laid out by DATE (the natural
    ingest clustering, l18/l28), so a lookup on the *unclustered*
    high-cardinality key (o_custkey) intersects every file's date zone
    and a zonemap skips nothing. A per-file Bloom bitmap over custkey
    (Kirsch–Mitzenmacher double hashing, q81/x51's portable md5 family;
    m=64 Ki bits ≈ 8 KB per file — manifest-metadata-sized at any scale,
    exactly what Delta/Iceberg attach to file entries) lets the reader
    skip every file whose bitmap cannot contain the probed key. The cert
    probes the 5 rarest customers (deterministic: fewest orders, key
    tie-break), RAISES unless files were actually skipped, re-applies
    the exact predicate after pruning (blooms are conservative: false
    positives read harmlessly, false negatives are impossible by
    construction), and hash-gates the rollup against a plain filtered
    scan of the raw fixture. Bloom build is one column-pruned scan
    rolled up ENTIRELY executor-side to packed 62-bit words (q95's
    ``bit_or(1 << bit)`` idiom, map-side partial combine); the driver
    collects only the ≤ m/62 non-zero (file, word, bits) manifest rows
    per file — never a row-shaped or bit-shaped set. The date layout is
    one :class:`ManifestTable` version; the bloom is keyed by each row's
    ``_metadata.file_name`` and mapped back to its manifest path, and the
    kept files are read with ``ManifestTable.read_files``."""
    import hashlib as _hashlib

    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    mt = ManifestTable(spark, os.path.join(_scratch_dir(spark, "l29"), "orders_by_date"))
    o = t(spark, sf_dir, "orders")
    mt.write(o.repartitionByRange(8, F.col("o_orderdate")).sortWithinPartitions("o_orderdate"))
    by_name = {os.path.basename(f): f for f in mt.manifest()}

    ha = md5_int(F.col("key"))
    hb = md5_int(F.col("key"), 9)
    words = (
        mt.read()
        .select(
            F.col("_metadata.file_name").alias("file"),
            F.col("o_custkey").cast("string").alias("key"),
        )
        .distinct()
        .select(
            "file",
            F.explode(F.array(*[F.lit(j) for j in range(_L29_K)])).alias("j"),
            ha.alias("ha"),
            hb.alias("hb"),
        )
        .select("file", ((F.col("ha") + F.col("j") * F.col("hb")) % _L29_M).alias("bit"))
        .select(
            "file",
            F.expr(f"bit DIV {_L29_WORD}").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(bit % {_L29_WORD} AS INT))"
            ).alias("mask"),
        )
        .groupBy("file", "word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    bloom: dict[str, dict[int, int]] = {}
    for r in words:
        bloom.setdefault(by_name[r["file"]], {})[r["word"]] = r["bits"]
    n_total = len(bloom)

    probe_keys = [
        r["o_custkey"]
        for r in o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("cnt", "o_custkey")
        .limit(5)
        .collect()
    ]

    def key_bits(k: int) -> list[int]:
        h = _hashlib.md5(str(k).encode()).hexdigest()
        a, b = int(h[:8], 16), int(h[8:16], 16)
        return [(a + j * b) % _L29_M for j in range(_L29_K)]

    def has_bit(bs: dict[int, int], bit: int) -> bool:
        return bool(bs.get(bit // _L29_WORD, 0) >> (bit % _L29_WORD) & 1)

    keep = sorted(
        f
        for f, bs in bloom.items()
        if any(all(has_bit(bs, bit) for bit in key_bits(k)) for k in probe_keys)
    )
    if not keep or len(keep) >= n_total:
        raise RuntimeError(
            f"bloom file index skipped nothing ({len(keep)}/{n_total} files read)"
        )
    return (
        mt.read_files(keep)
        .where(F.col("o_custkey").isin(probe_keys))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
    )


@register(
    "l30_binpack_minor_compaction",
    """
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)
def l30_binpack_minor_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S3] MINOR (incremental) COMPACTION — the hourly maintenance pass
    of a continuously-ingesting table: only the small-file backlog is
    rewritten (first-fit-decreasing bin-packing into target-sized
    groups, planned over file sizes only), while files already at target
    size stay in the new manifest under their own paths. The cert stages
    the classic mixed layout in a manifest table (two large base files
    from ``write`` + eight small ingest files from ``append``), runs
    ``ManifestTable.compact``, and RAISES unless (a) the small files
    actually merged (the manifest's file count strictly drops and every
    small file is gone from it), and (b) the large files are bit-level
    UNTOUCHED — same relative path and same inode in the new manifest,
    the zero-copy proof — so the pass's cost provably scaled with the
    backlog, not the table. l07 certifies the full rewrite; this is the
    one you can afford to run every hour at 100 TB. Content preservation
    is the hash gate against the raw-fixture rollup."""
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    base = _scratch_dir(spark, "l30")
    mt = ManifestTable(spark, os.path.join(base, "documents"))
    d = t(spark, sf_dir, "documents")
    # mixed layout: 75% of rows in 2 base files, 25% across 8 small files
    mt.write(d.where(F.col("doc_id") % 4 != 0).repartition(2))
    v0 = mt.append(d.where(F.col("doc_id") % 4 == 0).repartition(8))

    files = mt.manifest(v0)
    sizes = {f: os.path.getsize(os.path.join(mt.path, f)) for f in files}
    target = sum(sizes.values()) // 5  # between small (~3%) and base (~37%) sizes
    big_inodes = {
        f: os.stat(os.path.join(mt.path, f)).st_ino
        for f in files
        if sizes[f] >= target
    }
    if not big_inodes or len(big_inodes) == len(files):
        raise RuntimeError("l30 precondition broken: staged layout not mixed")

    after = mt.manifest(mt.compact(target_file_bytes=int(target)))
    if not len(after) < len(files):
        raise RuntimeError(f"minor compaction did not reduce files: {files} -> {after}")
    kept = sorted(set(after) & set(files))
    if kept != sorted(big_inodes):
        raise RuntimeError(f"minor compaction rewrote a base file: kept {kept}")
    for name, ino in big_inodes.items():
        now = os.stat(os.path.join(mt.path, name)).st_ino
        if now != ino:
            raise RuntimeError(
                f"base file {name} was copied (inode {ino} -> {now}) — "
                "the pass paid table-sized I/O"
            )
    return (
        mt.read()
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


@register(
    "l31_optimistic_commit_conflict",
    """
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)
def l31_optimistic_commit_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S7/L] MULTI-WRITER OPTIMISTIC CONCURRENCY certified
    (``sources/manifest.ManifestTable.append_optimistic``): two appenders
    race on one manifest table — the lost-update scenario every
    concurrent lakehouse load hits. Writer B stages its files, and
    BETWEEN B's staging and B's commit a second writer's append moves
    CURRENT (injected deterministically via a stage() hook). B's first
    conditional commit must be REFUSED (``CommitConflict``: its file
    list was derived from a stale snapshot), and its retry must rebase
    onto the new manifest and publish — appends commute at the file
    level, so the rebase re-reads a pointer, rewrites nothing. The cert
    RAISES unless exactly one conflict was hit and three versions exist;
    the hash gate proves NO LOST UPDATE: the final snapshot carries all
    three writers' rows (the three doc_id%3 slices = the whole fixture).

    At 100 TB the conditional swap is one If-Match PUT on the CURRENT
    object; data staging stays fully parallel per writer — only the O(1)
    pointer swap serializes, which is the entire concurrency cost."""
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    base = _scratch_dir(spark, "l31")
    path = os.path.join(base, "documents_occ")
    d = t(spark, sf_dir, "documents")

    table = ManifestTable(spark, path)
    table.write(d.where(F.col("doc_id") % 3 == 0))  # v1

    class _RacingTable(ManifestTable):
        """Injects a competing append between B's base-snapshot read and
        B's conditional commit — the object-store race window, made
        deterministic for certification."""

        _raced = False

        def manifest(self, version: int | None = None) -> list[str]:
            files = super().manifest(version)
            if not _RacingTable._raced and version is not None:
                _RacingTable._raced = True
                ManifestTable(spark, path).append(
                    d.where(F.col("doc_id") % 3 == 1)
                )
            return files

    version, n_conflicts = _RacingTable(spark, path).append_optimistic(
        d.where(F.col("doc_id") % 3 == 2)
    )
    if n_conflicts != 1:
        raise RuntimeError(
            f"expected exactly one CommitConflict retry, saw {n_conflicts}"
        )
    if version != 3:
        raise RuntimeError(f"expected final version 3, got v{version}")
    return (
        table.read()
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_Q105_ORACLE = """
    WITH p AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_us
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT p.user_id, p.ts AS p_ts, p.event_id AS p_id, p.v_us,
             e.event_type AS channel, e.ts AS t_ts, e.event_id AS t_id
      FROM p JOIN events e
        ON e.user_id = p.user_id
       AND e.event_type IN ('view', 'click')
       AND e.ts >= p.ts - INTERVAL 7 DAY
       AND (e.ts < p.ts OR (e.ts = p.ts AND e.event_id < p.event_id))
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id, p_id
                                ORDER BY t_ts, t_id) AS pos,
             COUNT(*) OVER (PARTITION BY user_id, p_id) AS n
      FROM j
    ),
    credited AS (
      SELECT channel,
             CASE WHEN n = 1 THEN v_us
                  WHEN n = 2 THEN (v_us * 5000) // 10000
                  WHEN pos = 1 OR pos = n THEN (v_us * 4000) // 10000
                  ELSE (v_us * 2000) // (10000 * (n - 2))
             END AS credit_us
      FROM ranked
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(credit_us) AS BIGINT) AS credited_micros,
           CAST(SUM(credit_us) AS DOUBLE) / 1000000.0 AS credited_value
    FROM credited GROUP BY channel
"""


@register("q105_position_attribution", _Q105_ORACLE)
def q105_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5/A4] U-SHAPED (position-based) REVENUE ATTRIBUTION — q90's
    multi-touch sibling: each purchase's value is split across ALL of the
    user's view/click touches in the 7-day lookback — 40% to the first
    touch, 40% to the last, the middle 20% shared evenly — the standard
    position-based model marketing teams run beside last-touch. All
    credits are exact integer micro-unit arithmetic (``v·4000 DIV 10⁴``,
    middles ``v·2000 DIV (10⁴·(n−2))``; single-/two-touch journeys
    degenerate to 100% / 50-50), so rounding is floor-deterministic and
    identical in both engines; only the final display division is float.

    Scale shape: ONE user-keyed equi-join bounded by the 7-day interval
    predicate (state O(rate × window), the q30/q77 asof family's join
    twin), one (user, purchase)-keyed window for position/count, one
    map-side-combined rollup onto ≤2 channel rows. Ties broken by
    event_id everywhere."""
    e = load_events(spark, sf_dir)
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        micro("value").alias("v_us"),
    )
    tch = e.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_id"),
    )
    j = p.join(tch, "user_id").where(
        (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAYS"))
        & (
            (F.col("t_ts") < F.col("p_ts"))
            | ((F.col("t_ts") == F.col("p_ts")) & (F.col("t_id") < F.col("p_id")))
        )
    )
    wp = W.partitionBy("user_id", "p_id")
    ranked = j.select(
        "channel",
        "v_us",
        F.row_number().over(wp.orderBy("t_ts", "t_id")).alias("pos"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, F.col("v_us"))
        .when(F.col("n") == 2, F.expr("(v_us * 5000) DIV 10000"))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("n")),
            F.expr("(v_us * 4000) DIV 10000"),
        )
        .otherwise(F.expr("(v_us * 2000) DIV (10000 * (n - 2))"))
    )
    return ranked.select("channel", credit.alias("credit_us")).groupBy(
        "channel"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_credits"),
        F.sum("credit_us").cast("long").alias("credited_micros"),
        (F.sum("credit_us").cast("double") / 1000000.0).alias("credited_value"),
    )


_L33_ORACLE = """
    WITH bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS dmin FROM events
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(e.value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_micros
    FROM events e CROSS JOIN bounds b
    WHERE CAST(e.ts AS DATE) BETWEEN b.dmin AND b.dmin + INTERVAL 6 DAY
    GROUP BY e.event_type
"""


@register("l33_manifest_tree_pruning", _L33_ORACLE)
def l33_manifest_tree_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S3/S4] TWO-LEVEL MANIFEST TREE certified
    (``sources/manifest.ManifestTree``) — metadata scaling for the
    commit protocol itself: the events fixture lands as one commit per
    week, each writing a branch manifest carrying its day-range stats;
    the root manifest is the O(#commits) branch list. A one-week probe
    resolves the root, prunes every non-overlapping BRANCH before any
    file listing happens, and opens only the surviving branch manifest —
    the cert RAISES unless branch-level pruning actually occurred
    (opened < total with >1 branch committed). Branch stats are
    conservative, so the exact day predicate is re-applied after the
    prune; the hash gate checks the rollup against the raw fixture.

    This is the step from l17 (flat manifest commits) to Iceberg's
    manifest list: at 10⁵ daily commits a point probe touches ~1 branch
    manifest instead of the full file inventory; commit cost stays O(1)
    metadata + an atomic root swap."""
    from smfg_datawarehouse_spark.sources.manifest import ManifestTree

    base = _scratch_dir(spark, "l33")
    path = os.path.join(base, "events_tree")
    e = load_events(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    e = e.withColumn("pday", F.date_format("ts", "yyyy-MM-dd"))

    tree = ManifestTree(spark, path, "pday")
    import datetime as _dt

    # ONE distinct-dates collect (≤ the fixture's day span, ~31 rows)
    # replaces the min-date agg + a per-week emptiness probe action —
    # 7 driver actions become 1 (r9; the commit loop itself stays
    # sequential, root swaps are ordered by protocol)
    days = sorted(
        r["d"] for r in e.select(F.to_date("ts").alias("d")).distinct().collect()
    )
    dmin = days[0]
    weeks_present = {(d - dmin).days // 7 for d in days}

    n_branches = 0
    for w in range(6):  # weekly commits over the fixture's ~1-month span
        if w not in weeks_present:
            continue
        lo = dmin + _dt.timedelta(days=7 * w)
        hi = lo + _dt.timedelta(days=6)
        batch = e.where(
            (F.to_date("ts") >= F.lit(lo)) & (F.to_date("ts") <= F.lit(hi))
        )
        tree.append(batch)
        n_branches += 1
    if n_branches < 2:
        raise RuntimeError(f"fixture produced {n_branches} weekly commits")

    lo_s, hi_s = dmin.strftime("%Y-%m-%d"), (
        dmin + _dt.timedelta(days=6)
    ).strftime("%Y-%m-%d")
    probed, total, opened = tree.read_pruned(lo_s, hi_s)
    if not (0 < opened < total):
        raise RuntimeError(
            f"branch pruning vacuous: opened {opened} of {total} branches"
        )
    return (
        probed.where((F.col("pday") >= lo_s) & (F.col("pday") <= hi_s))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(micro("value"))
            .cast("long")
            .alias("total_micros"),
        )
    )


# ---------------------------------------------------------------------------
# q113: policy-driven row-level security + column masking — the serving
# contract a governed warehouse enforces between the curated zone and
# every consumer: a broadcast policy catalog decides which ROWS a role
# may see (region allow-list) and which COLUMNS arrive masked (the
# customer name redacted to a suffix, balances coarsened to a bucket). The reference's
# metadata-driven column handling (IncludeFlag / TransformationLogic,
# `1. Metadata Creation.sql:88-100`) is exactly this shape one zone
# earlier; x33 masks for egress, this certifies per-ROLE serving.
# ---------------------------------------------------------------------------

#: (role, allowed region key) — 'admin' sees all five regions raw;
#: 'analyst' sees regions 0-2 with masked name + bucketed balance.
_Q113_POLICY = (("admin", 0), ("admin", 1), ("admin", 2), ("admin", 3),
                ("admin", 4), ("analyst", 0), ("analyst", 1), ("analyst", 2))

_Q113_ORACLE = f"""
    WITH policy (role, regionkey, masked) AS (
      VALUES {", ".join(f"('{r}', {k}, {str(r != 'admin').upper()})"
                        for r, k in _Q113_POLICY)}
    )
    SELECT p.role, c.c_custkey,
           CASE WHEN p.masked
                THEN 'XXX-' || substring(c.c_name, length(c.c_name) - 3, 4)
                ELSE c.c_name END AS name_served,
           CASE WHEN p.masked
                THEN CAST(floor(c.c_acctbal / 100.0) * 100 AS DOUBLE)
                ELSE CAST(c.c_acctbal AS DOUBLE) END AS acctbal_served,
           n.n_name AS nation
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN policy p ON p.regionkey = n.n_regionkey
"""


@register("q113_policy_masked_serving", _Q113_ORACLE)
def q113_policy_masked_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[P1/P3/J1] ROW-LEVEL SECURITY + COLUMN MASKING serving view: a
    role-keyed policy catalog (allow-listed region keys + a masked flag)
    is broadcast-joined onto the customer dimension — 'admin' receives
    every row raw, 'analyst' only its allowed regions with the name
    redacted to its last four characters and the account balance coarsened
    to a 100-unit bucket. One governed extract per (role, visible
    customer), the exact contract a warehouse view layer enforces.

    Determinism: masks are pure string/floor arithmetic; the balance
    bucket is floor(x/100)*100 on the raw double (single op, no
    summation); row membership is an equi-join on policy keys.

    Scale shape: the policy catalog is control-plane-small (broadcast —
    J1's config-join shape); nation is a broadcast dim; the customer
    scan is touched ONCE and fans out only to matching (role, region)
    rows. Masking is scan-side expression work — zero extra shuffles."""
    policy = F.broadcast(
        local_rows_df(
            spark,
            [(r, k, r != "admin") for r, k in _Q113_POLICY],
            "role string, regionkey int, masked boolean",
        )
    )
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_regionkey").alias("regionkey"),
        F.col("n_name").alias("nation"),
    )
    joined = c.join(F.broadcast(n), "c_nationkey").join(policy, "regionkey")
    name = F.when(
        F.col("masked"),
        F.concat(
            F.lit("XXX-"),
            F.substring(
                F.col("c_name"), F.length("c_name") - F.lit(3), F.lit(4)
            ),
        ),
    ).otherwise(F.col("c_name"))
    bal = F.when(
        F.col("masked"),
        (F.floor(F.col("c_acctbal") / 100.0) * 100).cast("double"),
    ).otherwise(F.col("c_acctbal").cast("double"))
    return joined.select(
        "role",
        "c_custkey",
        name.alias("name_served"),
        bal.alias("acctbal_served"),
        "nation",
    )


# ---------------------------------------------------------------------------
# x163: shuffle-key skew profile — the PLANNING-side complement to l19's
# salted skew join: before a 100 TB pipeline commits to a partitioning,
# profile every candidate shuffle key for hot-key concentration. The
# decision inputs are exact integers (top-1 key mass, ideal per-key
# share, their ratio in micro-units), so the "salt this key" advisory is
# reproducible — no sampled sketch, one pass per keyed table.
# ---------------------------------------------------------------------------

_X163_KEYS = (
    ("events", "user_id"),
    ("events", "event_type"),
    ("orders", "o_custkey"),
    ("lineitem", "l_orderkey"),
    ("documents", "source"),
)

#: a key whose hottest value carries > 8x its ideal (uniform) share
#: straggles its shuffle partition — the l19 salting trigger
_X163_SKEW_FACTOR = 8

_X163_ORACLE = (
    "\n    UNION ALL\n".join(
        f"""
    SELECT '{tbl}' AS table_name, '{col}' AS key_col,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(c) AS BIGINT) AS top1_count,
           CAST(MAX(c) * 1000000 // SUM(c) AS BIGINT) AS top1_share_micro,
           MAX(c) * CAST(COUNT(*) AS BIGINT)
             > {_X163_SKEW_FACTOR} * SUM(c) AS salting_recommended
    FROM (SELECT {col}, CAST(COUNT(*) AS BIGINT) AS c
          FROM {tbl} GROUP BY {col})"""
        for tbl, col in _X163_KEYS
    )
)


@register("x163_skew_profile", _X163_ORACLE)
def x163_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/§2.3] SHUFFLE-KEY SKEW PROFILE: for every candidate shuffle
    key in the warehouse (join keys, groupBy keys), the exact hot-key
    concentration — row count, distinct keys, the hottest key's mass,
    its corpus share in integer micro-units, and a salting advisory
    (hottest key carries > 8x its uniform share — the threshold at
    which one reducer partition straggles the stage, l19's trigger).
    AQE's skew-join handles the JOIN case at runtime; groupBy/window
    hot keys still need the l19 salt or the q94 bucket decomposition,
    and this profile is how a pipeline finds them BEFORE the straggler.

    Determinism: all decision inputs are exact BIGINTs (share = mass *
    1e6 DIV total; the advisory compares integer cross-products, no
    division at all).

    Scale shape: one map-side-combined keyed agg per profiled column —
    the same shuffle the production query would pay, output 1 row per
    (table, key). Nothing driver-side beyond the 5-row result."""
    out = None
    for tbl, col in _X163_KEYS:
        d = t(spark, sf_dir, tbl)
        per_key = d.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        prof = per_key.agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("c").cast("long").alias("top1_count"),
        ).select(
            F.lit(tbl).alias("table_name"),
            F.lit(col).alias("key_col"),
            "n_rows",
            "n_keys",
            "top1_count",
            F.expr("top1_count * 1000000 DIV n_rows")
            .cast("long")
            .alias("top1_share_micro"),
            (
                F.col("top1_count") * F.col("n_keys")
                > F.lit(_X163_SKEW_FACTOR) * F.col("n_rows")
            ).alias("salting_recommended"),
        )
        out = prof if out is None else out.unionByName(prof)
    return out
