"""Event funnel / retention / sessionization suite (q64-q72): funnel, cohort retention, sessions, rolling actives, important parts, revenue growth, min-cost supplier, profit, histogram.

Split out of ``queries.py`` (round 5, VERDICT r4 #8 — module size only;
zero behavior change). Registration/oracle/determinism conventions are
documented in ``queries.py``; reference citations live in each docstring.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.queries import (
    _dsum_sql,
    dsum,
    load_events,
    micro,
    register,
    t,
)

@register(
    "q64_event_funnel",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
      SELECT 1 AS stage_ord, 'view' AS stage,
             CAST(COUNT(*) AS BIGINT) AS n_users FROM v
      UNION ALL
      SELECT 2, 'view>click', CAST(COUNT(*) AS BIGINT) FROM c
      UNION ALL
      SELECT 3, 'view>click>purchase', CAST(COUNT(*) AS BIGINT) FROM p
    )
    """,
)
def q64_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/T2] Ordered event funnel (view -> click -> purchase): users who
    completed each stage IN TIME ORDER (a click before the first view
    doesn't count), the product-analytics staple the reference's REALTIME
    cadence declares but never builds (1. Metadata Creation.sql:66).

    ONE user-partitioned pass over the events scan: three stacked
    unbounded-frame window MINs (first view; first click after it; first
    purchase after that) share a single hash exchange on user_id, the
    per-user rollup then reuses that partitioning (no second exchange —
    HashPartitioning(user_id) already satisfies the groupBy), and the
    3-row funnel is an unpivot of one global count row. Replaces the
    former 3-scan/2-broadcast-join staged shape (9 exchanges → 3).
    Timestamps compare exactly (micros); counts are BIGINT — nothing to
    drift."""
    e = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = W.partitionBy("user_id")
    staged = (
        e.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.first("t_view").alias("t_view"),
        F.first("t_click").alias("t_click"),
        F.first("t_purchase").alias("t_purchase"),
    )
    stats = per_user.agg(
        F.count("t_view").cast("long").alias("n_view"),
        F.count("t_click").cast("long").alias("n_click"),
        F.count("t_purchase").cast("long").alias("n_purchase"),
    )
    return stats.select(
        F.expr(
            "stack(3, 'view', n_view, 'view>click', n_click, "
            "'view>click>purchase', n_purchase) AS (stage, n_users)"
        )
    )


@register(
    "q65_cohort_retention",
    """
    WITH act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    ), cohort AS (
      SELECT user_id, MIN(wk) AS cohort_wk FROM act GROUP BY user_id
    )
    SELECT c.cohort_wk,
           CAST(date_diff('day', c.cohort_wk, a.wk) / 7 AS BIGINT)
             AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active_users
    FROM act a JOIN cohort c ON c.user_id = a.user_id
    GROUP BY c.cohort_wk, week_offset
    """,
)
def q65_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/T2] Weekly cohort-retention matrix: users grouped by first-seen
    week, counted in each subsequent active week — the warehouse rollup
    behind every retention dashboard. One pass builds the distinct
    (user, week) activity set; the per-user MIN reduces it to a
    |users|-row cohort table that BROADCASTS back onto the activity set,
    so the only big exchanges are the activity distinct and the final
    (cohort, offset) rollup. date_trunc('week') is ISO-Monday in both
    engines; the offset is integer day-arithmetic — bit-stable. (The
    distinct-(user,week) set is already user-partitioned after its
    shuffle, so the cohort agg reuses that partitioning.)"""
    e = t(spark, sf_dir, "events").select("user_id", "ts")
    act = e.select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk")
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        act.join(F.broadcast(cohort), "user_id")
        .groupBy(
            "cohort_wk",
            (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_active_users"))
    )


@register(
    "q66_user_sessions",
    f"""
    WITH ordered AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, user_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {_dsum_sql('value')} AS total_value
    FROM sess GROUP BY user_id, session_no
    """,
)
def q66_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/2.5] Batch sessionization with explicit session IDs: a session
    break is a >30-min silence; the break flags' running sum numbers each
    user's sessions — lag + cumulative-sum, the standard gaps-and-islands
    rewrite that needs NO self-join. Both windows and the final rollup
    share one user_id partitioning, so the whole query is a single
    shuffle; per-user state is a sort within a partition, exactly how it
    scales on a 1000-executor cluster. Complements q22's session_window
    agg (which fuses the numbering away) by materializing the session
    identity a downstream join would need. event_id tie-breaks equal
    timestamps; the micro-precision interval compare and BIGINT counts are
    engine-exact; total_value uses the decimal-sum convention."""
    e = t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_start = F.when(
        prev.isNull()
        | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTE")),
        1,
    ).otherwise(0)
    sess = (
        e.withColumn("is_start", is_start)
        .withColumn(
            "session_no",
            F.sum("is_start")
            .over(w.rowsBetween(W.unboundedPreceding, 0))
            .cast("long"),
        )
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        dsum(F.col("value")).alias("total_value"),
    )


@register(
    "q67_rolling_active_users",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ), covered AS (
      SELECT user_id, CAST(d + INTERVAL (i) DAY AS DATE) AS cover_d
      FROM ud, UNNEST(range(7)) AS u(i)
    )
    SELECT c.cover_d AS d,
           CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau
    FROM covered c
    WHERE c.cover_d IN (SELECT d FROM ud)
    GROUP BY c.cover_d
    """,
)
def q67_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/2.5] Trailing-7-day active users per day (WAU) — the rolling
    DISTINCT that a RANGE window cannot express (count distinct over a
    sliding frame). Rewritten as coverage-explode: each (user, day) row
    covers the 7 days it keeps the user 'active', then one distinct-count
    per day — a LINEAR x7 row blowup and a single keyed shuffle, versus
    the quadratic day-range self-join a naive rewrite does (and versus
    recomputing 7 daily distincts). The observed-day semi filter keeps
    only real days (broadcast, day-cardinality). Date arithmetic and
    BIGINT counts only — engine-exact."""
    e = t(spark, sf_dir, "events").select("user_id", "ts")
    ud = e.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).distinct()
    days = ud.select("d").distinct()
    covered = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("cover_d"),
    )
    return (
        covered.join(
            F.broadcast(days), F.col("cover_d") == F.col("d"), "left_semi"
        )
        .groupBy(F.col("cover_d").alias("d"))
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )


@register(
    "q68_important_parts",
    f"""
    WITH pv AS (
      SELECT l_partkey, {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS part_value
      FROM lineitem GROUP BY l_partkey
    ), tot AS (
      SELECT {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS total_value
      FROM lineitem
    )
    SELECT p.p_partkey, p.p_name, pv.part_value
    FROM pv
    JOIN part p ON p.p_partkey = pv.l_partkey
    CROSS JOIN tot
    WHERE pv.part_value > 0.0005 * tot.total_value
    """,
)
def q68_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/2.10] TPC-H-Q11-shaped 'important stock': parts whose revenue
    exceeds a fixed fraction of TOTAL corpus revenue — the
    aggregate-vs-global-scalar pattern (HAVING > SUM(...) * k). Both the
    per-part rollup and the 1-row total come from the SAME single scan
    pass shape; the scalar broadcasts, so the filter costs nothing extra.
    The comparison is between two decimal-exact sums scaled by one IEEE
    multiply — deterministic on both engines; ties are impossible to
    round differently. Part attributes broadcast on after the filter cuts
    the key set. (SURVEY.md 2.10 scalar subquery, 2.4 A4)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pv = li.groupBy("l_partkey").agg(dsum(rev).alias("part_value"))
    tot = li.agg(dsum(rev).alias("total_value"))
    p = t(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        pv.join(F.broadcast(tot))
        .where(F.col("part_value") > 0.0005 * F.col("total_value"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_name", "part_value")
    )


@register(
    "q69_monthly_revenue_growth",
    f"""
    WITH m AS (
      SELECT n.n_name,
             CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
             {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, month
    )
    SELECT n_name, month, revenue,
           revenue - LAG(revenue) OVER (PARTITION BY n_name ORDER BY month)
             AS revenue_delta
    FROM m
    """,
)
def q69_monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/2.5] Month-over-month revenue delta per nation — the trend
    panel behind every warehouse dashboard: aggregate to (nation, month),
    then a lag window along each nation's month series. The fact stream
    pays ONE shuffle (the fine-grained (nation, month) agg, with map-side
    partials); the window's own exchange re-keys only the ~|nation x
    month| aggregate rows — deliberately NOT pre-partitioned by nation,
    which would shuffle the full fact on 25 keys. Month keys are exact
    (date_trunc to DATE); deltas subtract two decimal-summed doubles, a
    single IEEE op — bit-stable. The first month's delta is NULL on both
    engines."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    m = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "n_name",
            F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("month"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )
    w = W.partitionBy("n_name").orderBy("month")
    return m.select(
        "n_name", "month", "revenue",
        (F.col("revenue") - F.lag("revenue").over(w)).alias("revenue_delta"),
    )


@register(
    "q70_min_cost_supplier",
    """
    WITH costs AS (
      SELECT DISTINCT l.l_partkey, l.l_suppkey,
             s.s_acctbal, s.s_name, s.s_nationkey
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
    ), ranked AS (
      SELECT c.l_partkey, c.l_suppkey, c.s_acctbal, c.s_name, c.s_nationkey,
             ROW_NUMBER() OVER (PARTITION BY c.l_partkey
                                ORDER BY c.s_acctbal, c.l_suppkey) AS rn
      FROM costs c
    )
    SELECT p.p_partkey, p.p_name, p.p_size,
           r.l_suppkey AS s_suppkey, r.s_name, n.n_name, r.s_acctbal
    FROM ranked r
    JOIN part p   ON p.p_partkey = r.l_partkey
    JOIN nation n ON n.n_nationkey = r.s_nationkey
    WHERE r.rn = 1 AND p.p_size <= 10
    """,
)
def q70_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/2.5/2.10] TPC-H-Q2-shaped min-cost supplier per part (the
    fixture has no partsupp, so the supplier relation is derived from
    observed lineitems and account balance stands in for supply cost).
    The canonical correlated MIN-subquery is rewritten as the argmin
    window — ROW_NUMBER over (partkey; cost, suppkey) with a unique
    tie-break — one shuffle on partkey over a DISTINCT-reduced
    (part, supplier) relation, instead of re-scanning for the min and
    joining back. Part (filtered p_size <= 10) and nation broadcast onto
    the |parts|-row argmin output. (SURVEY.md 2.10 correlated subquery
    -> window rewrite, 2.5 ranking window)."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    s = t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_acctbal", "s_name", "s_nationkey"
    )
    costs = (
        li.distinct()
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_partkey", "l_suppkey", "s_acctbal", "s_name", "s_nationkey")
    )
    w = W.partitionBy("l_partkey").orderBy("s_acctbal", "l_suppkey")
    ranked = costs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    p = t(spark, sf_dir, "part").where(F.col("p_size") <= 10).select(
        "p_partkey", "p_name", "p_size"
    )
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        ranked.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey", "p_name", "p_size",
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name", "n_name", "s_acctbal",
        )
    )


@register(
    "q71_profit_by_nation_year",
    f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           {_dsum_sql(
               'l.l_extendedprice * (1 - l.l_discount)'
               ' - 0.1 * p.p_retailprice * l.l_quantity'
           )} AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_type = 'ECONOMY'
    GROUP BY nation, o_year
    """,
)
def q71_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/A4] TPC-H-Q9-shaped product-type profit: revenue minus a supply
    cost modeled as 10% of part retail price x quantity (the fixture has
    no partsupp.ps_supplycost), for one part type, by supplier nation and
    order year. Part (type-filtered), supplier, and nation broadcast; the
    single big-big shuffle is lineitem<->orders. The per-row profit
    expression is fixed-shape IEEE arithmetic; the rollup is
    decimal-exact. The p_type filter semi-reduces the fact stream through
    the part broadcast before the shuffle — the plan scales as
    |lineitem|/|p_type-selectivity|. (SURVEY.md 2.3 J1, 2.4 A4)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    p = t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY").select(
        "p_partkey", "p_retailprice"
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(profit).alias("sum_profit"))
    )


@register(
    "q72_price_histogram",
    f"""
    WITH b AS (
      SELECT LEAST(CAST(floor(o_totalprice / 50000.0) AS BIGINT), 9) AS bin,
             o_totalprice
      FROM orders
    ), h AS (
      SELECT bin,
             CAST(bin * 50000 AS BIGINT) AS lo_edge,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             {_dsum_sql('o_totalprice')} AS total_price
      FROM b GROUP BY bin
    )
    SELECT bin, lo_edge, n_orders, total_price,
           CAST(SUM(n_orders) OVER (ORDER BY bin) AS BIGINT) AS cum_orders
    FROM h
    """,
)
def q72_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4] Fixed-width histogram + cumulative distribution of order value
    (10 x 50k buckets, top bucket open) — the `width_bucket` profiling
    shape used for skew diagnosis and bin-boundary planning. Bucketing is
    a scan-side expression (map-side combine shrinks the shuffle to
    |bins| partials); the CDF is a window cumsum over the 10-row
    aggregate, so the second "pass" is free. At 100 TB the same plan
    holds: the only data movement is |bins| rows."""
    o = t(spark, sf_dir, "orders")
    b = o.select(
        F.least(F.floor(F.col("o_totalprice") / 50000.0).cast("long"), F.lit(9))
        .cast("long")
        .alias("bin"),
        "o_totalprice",
    )
    h = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    ).select(
        "bin",
        (F.col("bin") * 50000).cast("long").alias("lo_edge"),
        "n_orders",
        "total_price",
    )
    wcum = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    return h.withColumn(
        "cum_orders", F.sum("n_orders").over(wcum).cast("long")
    )




_Q106_ORACLE = """
    WITH base AS (
      SELECT user_id,
             CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS monetary_micros,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT *,
             CAST(NTILE(10) OVER (ORDER BY monetary_micros DESC, user_id)
                  AS BIGINT) AS decile
      FROM base
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(CASE WHEN n_purchases > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS conv_all
      FROM base
    ),
    per AS (
      SELECT decile,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CASE WHEN n_purchases > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converters,
             CAST(SUM(monetary_micros) AS BIGINT) AS decile_micros
      FROM ranked GROUP BY decile
    )
    SELECT p.decile, p.n_users, p.n_converters, p.decile_micros,
           CAST(p.n_converters AS DOUBLE) / p.n_users AS conv_rate,
           CAST(p.n_converters * t.n_all AS DOUBLE)
             / (p.n_users * t.conv_all) AS lift,
           CAST(SUM(p.n_converters) OVER (ORDER BY p.decile) AS BIGINT)
             AS cum_converters
    FROM per p CROSS JOIN tot t
"""


@register("q106_decile_gains", _Q106_ORACLE)
def q106_decile_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/§2.5] DECILE GAINS / LIFT TABLE — the campaign-targeting
    classic: users ranked by exact integer monetary value into ten
    equal-count deciles (``distributed_ntile`` — band-partitioned
    ordinals, NO single-partition sort; the oracle keeps a plain NTILE),
    then per decile the converter count, conversion rate, cumulative
    gains, and lift vs the population rate. Lift is a ratio of exact
    integer cross-products with ONE double division, so every row
    replays bit-exactly. Scale shape: one user-keyed rollup, three
    band-partitioned window passes inside the ntile, one 10-row rollup +
    a 10-row cumulative window — the corpus crosses the wire once."""
    from smfg_datawarehouse_spark.functions.ordering import distributed_ntile

    e = load_events(spark, sf_dir)
    base = e.groupBy("user_id").agg(
        F.sum(micro("value"))
        .cast("long")
        .alias("monetary_micros"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases"),
    ).withColumn("neg_monetary", -F.col("monetary_micros"))
    ranked = distributed_ntile(
        base, 10, ["neg_monetary", "user_id"],
        F.expr("neg_monetary DIV 10000000"), "decile",
    )
    per = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("n_purchases") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_converters"),
        F.sum("monetary_micros").cast("long").alias("decile_micros"),
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum(F.when(F.col("n_purchases") > 0, 1).otherwise(0))
        .cast("long")
        .alias("conv_all"),
    )
    wc = W.orderBy("decile")  # 10-row frame: the only unpartitioned window
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            "n_converters",
            "decile_micros",
            (F.col("n_converters").cast("double") / F.col("n_users")).alias(
                "conv_rate"
            ),
            (
                (F.col("n_converters") * F.col("n_all")).cast("double")
                / (F.col("n_users") * F.col("conv_all"))
            ).alias("lift"),
            F.sum("n_converters").over(wc).cast("long").alias("cum_converters"),
        )
    )


_Q108_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT event_type || '>' || t2 || '>' || t3 AS path
      FROM seq WHERE t3 IS NOT NULL
    ),
    counted AS (
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_paths FROM paths GROUP BY path
    )
    SELECT path, n_paths,
           CAST(ROW_NUMBER() OVER (ORDER BY n_paths DESC, path) AS BIGINT)
             AS rank
    FROM counted
    ORDER BY n_paths DESC, path
    LIMIT 25
"""


@register("q108_event_path_trigrams", _Q108_ORACLE)
def q108_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5/§2.4] SEQUENTIAL PATH MINING — the top event-type TRIGRAMS
    across per-user clickstreams (``view>cart>purchase`` beats any
    single-step transition matrix at explaining where journeys convert
    or die). q84 certifies the first-order transition counts; this is
    the third-order sibling every product-analytics warehouse ships as
    its "top paths" report: per user, events ordered by (ts, event_id),
    each 3-step window stitched with two LEADs, counted globally, top 25
    with a total deterministic order (count desc, path asc).

    Scale shape: the LEAD window keys on user_id (millions of small
    partitions — the healthiest window shape there is), path counting is
    a map-side-combined groupBy on a ≤|types|³ key space, and the top-25
    is a TakeOrderedAndProject. No corpus-wide window, no skew exposure:
    at 100 TB the cost is one user-keyed exchange (usually the layout
    the events table is already bucketed by) plus a tiny rollup."""
    e = load_events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t3").isNotNull())
    counted = (
        seq.select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
    )
    wr = W.orderBy(F.col("n_paths").desc(), "path")
    return (
        counted.withColumn("rank", F.row_number().over(wr).cast("long"))
        .orderBy(F.col("n_paths").desc(), "path")
        .limit(25)
    )


_Q109_WINDOW_HOURS = 24

_Q109_ORACLE = f"""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
        AND e.ts <= v.t1 + INTERVAL {_Q109_WINDOW_HOURS} HOUR
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e
      JOIN c ON c.user_id = e.user_id
      JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        AND e.ts <= v.t1 + INTERVAL {_Q109_WINDOW_HOURS} HOUR
      GROUP BY e.user_id
    ), u AS (
      SELECT DISTINCT user_id FROM events
    ), d AS (
      SELECT u.user_id,
             CASE WHEN p.user_id IS NOT NULL THEN 3
                  WHEN c.user_id IS NOT NULL THEN 2
                  WHEN v.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS depth
      FROM u
      LEFT JOIN v ON v.user_id = u.user_id
      LEFT JOIN c ON c.user_id = u.user_id
      LEFT JOIN p ON p.user_id = u.user_id
    )
    SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM d GROUP BY depth
"""


@register("q109_window_funnel", _Q109_ORACLE)
def q109_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5/T2] TIME-CONSTRAINED FUNNEL (ClickHouse ``windowFunnel``
    semantics): per user, the deepest view -> click -> purchase chain
    whose steps all land within 24 HOURS of the user's FIRST view, each
    step strictly after the previous one — q64 certifies the unconstrained
    ordered funnel; real conversion reporting is always windowed ("same
    session/day"), and the constraint changes the answer (a click three
    days after the view no longer converts).

    Output is the depth DISTRIBUTION (depth 0-3 x user count) rather than
    q64's cumulative stage counts, so the two certs cross-check: q109's
    depth>=k sums must bound q64's stage-k counts from below.

    Scale shape: identical to q64's one-pass shape — three stacked
    unbounded-frame window MINs over ONE user_id exchange (the windowed
    time bounds are per-row predicates against already-computed window
    columns, zero extra shuffles), a user-keyed rollup reusing the same
    partitioning, and a ≤4-row depth rollup. Timestamp arithmetic is
    exact micros (+ INTERVAL is integer micro addition); counts BIGINT."""
    e = load_events(spark, sf_dir).select("user_id", "event_type", "ts")
    w = W.partitionBy("user_id")
    deadline = F.col("t1") + F.expr(f"INTERVAL {_Q109_WINDOW_HOURS} HOURS")
    staged = (
        e.withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t1"))
                    & (F.col("ts") <= deadline),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2"))
                    & (F.col("ts") <= deadline),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.first("t1").alias("t1"),
        F.first("t2").alias("t2"),
        F.first("t3").alias("t3"),
    )
    return (
        per_user.select(
            F.when(F.col("t3").isNotNull(), F.lit(3))
            .when(F.col("t2").isNotNull(), F.lit(2))
            .when(F.col("t1").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("depth")
        )
        .groupBy("depth")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
