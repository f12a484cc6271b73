"""Warehouse analytics suite (q48-q63): the TPC-H-derived 13-query band — volume shipping, market share, promo ratio, waiting suppliers et al.

Split out of ``queries.py`` (round 5, VERDICT r4 #8 — module size only;
zero behavior change). Registration/oracle/determinism conventions are
documented in ``queries.py``; reference citations live in each docstring.
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
    register,
    t,
)

@register(
    "q48_volume_shipping",
    f"""
    WITH rev AS (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
    )
    SELECT supp_nation, cust_nation, o_year,
           {_dsum_sql('volume')} AS revenue
    FROM rev GROUP BY supp_nation, cust_nation, o_year
    """,
)
def q48_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/A4] TPC-H-Q7-shaped 6-way join: bilateral trade volume between two
    nations by year. Catalyst plans the three dimension joins (supplier,
    customer, nation x2) as broadcasts; only the lineitem<->orders join is a
    big-big shuffle. The nation filter reaches the supplier/customer scans
    as a semi-join reduction via the broadcast, so at 100 TB the post-join
    stream is ~(2/|nation|)^2 of the raw join. Re-expresses the reference's
    declared analytical surface (SURVEY.md 2.4 A4, dag placeholder
    SMFG_DW_ETL_DAG.py:325-339)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = ["NATION_3", "NATION_7"]
    n1 = n.where(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.where(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@register(
    "q49_market_share",
    """
    WITH alln AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n1.n_regionkey
      JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    )
    SELECT o_year,
           CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_2' THEN volume
                              ELSE 0.0 END AS DECIMAL(30,6))) AS DOUBLE)
             / CAST(SUM(CAST(volume AS DECIMAL(30,6))) AS DOUBLE) AS mkt_share
    FROM alln GROUP BY o_year
    """,
)
def q49_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/A4] TPC-H-Q8-shaped market share: one nation's fraction of a
    region's PROMO-part revenue per year. 8-way join where every dimension
    broadcasts; the conditional-sum / total-sum ratio is two exact-decimal
    sums divided once in double (single IEEE op -- bit-stable). The region
    and part-type filters are pushed below the joins, so the fact stream is
    pre-reduced before the one big shuffle (lineitem x orders)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    p = (
        t(spark, sf_dir, "part")
        .where(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n1 = n.join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    n2 = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("sn_key"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("cn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((dsum(target) / dsum(vol)).alias("mkt_share"))
    )


@register(
    "q50_primary_supplier_parts",
    """
    WITH sp AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(30,6))) AS qty
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), ranked AS (
      SELECT l_partkey, l_suppkey, qty,
             ROW_NUMBER() OVER (PARTITION BY l_partkey
                                ORDER BY qty DESC, l_suppkey) AS rn,
             SUM(qty) OVER (PARTITION BY l_partkey) AS total_qty
      FROM sp
    )
    SELECT l_suppkey AS s_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_primary_parts,
           CAST(SUM(qty) AS DOUBLE) AS primary_qty,
           CAST(SUM(total_qty) AS DOUBLE) AS covered_qty
    FROM ranked WHERE rn = 1
    GROUP BY l_suppkey
    """,
)
def q50_primary_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/A4/2.5] TPC-H-Q20-shaped supply-dominance analysis via two
    aggregation granularities: per-(part, supplier) shipped quantity ranked
    against the per-part total; the rank-1 supplier is each part's primary
    source, rolled up per supplier with its share of covered volume.
    Repartitioning by l_partkey FIRST lets the (partkey, suppkey) groupBy
    AND both per-part windows reuse that single shuffle (hash partitioning
    on a key prefix satisfies the clustered distribution of the wider
    key) -- one fact exchange total where the naive plan pays three.
    Decimal sums keep ranking and totals bit-stable under any partitioning."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    sp = (
        li.repartition(F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(exact("l_quantity")).alias("qty"))
    )
    wr = W.partitionBy("l_partkey").orderBy(F.col("qty").desc(), F.col("l_suppkey"))
    wt = W.partitionBy("l_partkey")
    return (
        sp.withColumn("rn", F.row_number().over(wr))
        .withColumn("total_qty", F.sum("qty").over(wt))
        .where(F.col("rn") == 1)
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(
            F.count(F.lit(1)).alias("n_primary_parts"),
            F.sum("qty").cast("double").alias("primary_qty"),
            F.sum("total_qty").cast("double").alias("covered_qty"),
        )
    )


@register(
    "q51_idle_rich_customers",
    f"""
    WITH avg_bal AS (
      SELECT {_davg_sql('c_acctbal')} AS ab
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
           {_dsum_sql('c_acctbal')} AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F')
    GROUP BY c_mktsegment
    """,
)
def q51_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/A4/2.10] TPC-H-Q22 shape: above-average-balance customers with no
    finished orders, rolled up by market segment. Composes an uncorrelated
    scalar subquery (global positive-balance mean, 1-row broadcast -- never
    a driver-side collect) with a filtered NOT EXISTS anti-join. At scale
    the anti join shuffles customer against the status-filtered order
    custkeys; the balance filter runs FIRST so only above-threshold
    customers shuffle at all."""
    c = t(spark, sf_dir, "customer")
    o = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_custkey")
    )
    thresh = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(davg(F.col("c_acctbal")).alias("ab"))
    )
    return (
        c.join(F.broadcast(thresh))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


@register(
    "q52_unpivot_measures",
    f"""
    SELECT measure,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_dsum_sql('val')} AS total,
           {_davg_sql('val')} AS mean_val
    FROM (
      UNPIVOT lineitem
      ON l_quantity, l_extendedprice, l_discount, l_tax
      INTO NAME measure VALUE val
    )
    GROUP BY measure
    """,
)
def q52_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/P] UNPIVOT (wide -> long melt) of the fact table's measure
    columns with per-measure profiling — the reshape the reference's
    metadata-driven transform stage would need to audit a 74-column wide
    table column-by-column (SURVEY 1.2: guarantee_accounts,
    2. SampleConfigInsert.sql:30-101). Spark's native ``unpivot`` expands
    rows scan-side (no shuffle for the melt itself); the aggregate then
    collapses map-side to 4 groups. Decimal-exact sums keep the profile
    bit-stable."""
    li = t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        [],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("val")).alias("total"),
        davg(F.col("val")).alias("mean_val"),
    )


@register(
    "q53_shipping_priority",
    f"""
    SELECT l.l_orderkey,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def q53_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/A4/O] TPC-H-Q3-shaped shipping-priority query: top-10 unshipped
    orders by revenue for one market segment. The segment filter reaches the
    customer scan, the date filters push into the orders/lineitem scans
    (PushedFilters), and the filtered customer side broadcasts — the only
    big-big shuffle is lineitem<->orders, which AQE can skew-split at scale.
    Top-10 runs as TakeOrderedAndProject (per-partition heap + driver merge
    of 10-row heads, no global sort) with a unique l_orderkey tie-break.
    Re-expresses the reference's declared analytical stage (SURVEY.md 2.4
    A4, dag/SMFG_DW_ETL_DAG.py:325-339)."""
    c = t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q54_order_priority_check",
    """
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    """,
)
def q54_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J2/A4] TPC-H-Q4-shaped order-priority check: orders in one quarter
    with at least one line shipped >60 days after order date (the fixture
    has no commit/receipt dates, so ship-lag stands in for the late-commit
    predicate), counted by priority. EXISTS compiles to a LEFT SEMI join —
    Spark stops probing an order after its first matching line, and the
    quarter filter pushes into the orders scan so the semi join's build side
    is already quarter-pruned. One shuffle pair (orderkey), then a 5-group
    map-side-combined count. Covers the reference's correlated-existence
    audit pattern (J4 orphan checks, 1. Metadata Creation.sql:43-46) on the
    analytical surface (SURVEY.md 2.4 A4)."""
    o = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    matched = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("order_count")
    )


@register(
    "q55_local_supplier_volume",
    f"""
    SELECT n.n_name,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND EXTRACT(year FROM o.o_orderdate) = 1997
    GROUP BY n.n_name
    """,
)
def q55_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/A4] TPC-H-Q5-shaped local-supplier volume: revenue from lineitems
    where customer and supplier share a nation inside one region, by nation.
    The region->nation reduction happens driver-free: region joins nation
    (both tiny, broadcast), and that 5-row filtered dimension broadcasts
    into supplier and customer — so at 100 TB the fact stream is pre-pruned
    to 1/|region| before the one big shuffle (lineitem<->orders). The
    c_nationkey = s_nationkey co-location predicate rides the supplier
    broadcast join, never a second fact shuffle. (SURVEY.md 2.3 J1/2.4 A4,
    dag/SMFG_DW_ETL_DAG.py:325-339)."""
    r = t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = (
        t(spark, sf_dir, "nation")
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    s = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = t(spark, sf_dir, "orders").where(
        F.year("o_orderdate") == 1997
    ).select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@register(
    "q56_forecast_revenue_change",
    f"""
    SELECT {_dsum_sql('l_extendedprice * l_discount')} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q56_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[P4/A4] TPC-H-Q6-shaped forecast-revenue-change: pure scan-filter-
    aggregate, the canonical predicate-pushdown probe. All three range
    predicates (ship year, discount band, quantity cap) appear in
    PushedFilters and prune parquet row groups via min/max stats; the
    4-column ReadSchema is the pruned projection; the global sum is a
    map-side partial + 1-row final — no data ever shuffles beyond 32
    partial rows. At 100 TB this runs at storage-scan speed. Mirrors the
    reference's P4 predicate-injection idiom
    (Staging_Extraction_Metadata_Query.sql:48-52) as a declarative filter."""
    li = t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


@register(
    "q57_returned_item_customers",
    f"""
    SELECT c.c_custkey, c.c_name,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q57_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/A4/O] TPC-H-Q10-shaped returned-item report: top-20 customers by
    revenue lost to returns in one quarter. Return-flag and quarter filters
    push to the lineitem/orders scans; customer and nation broadcast onto
    the fact stream after its single orderkey shuffle; the groupBy keys on
    the customer attributes so no second join is needed to re-attach them.
    Top-20 is TakeOrderedAndProject with c_custkey as the unique tie-break.
    (SURVEY.md 2.4 A4, dag/SMFG_DW_ETL_DAG.py:325-339)."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q58_promo_revenue_ratio",
    f"""
    SELECT 100.0 * {_dsum_sql(
        "CASE WHEN p.p_type = 'PROMO' "
        "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END"
    )}
           / {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')}
             AS promo_revenue_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q58_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/A4] TPC-H-Q14-shaped promotion effect: percent of one month's
    revenue from PROMO-type parts. The month filter pushes into the
    lineitem scan; part broadcasts (dimension) so there is NO shuffle at
    all before the 1-row global aggregate — conditional and total sums
    ride the same pass. Both sums are exact-decimal; the final pct is one
    double divide of two bit-stable operands. (SURVEY.md 2.3 J1 / 2.4 A4)."""
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.lit(100.0) * dsum(promo) / dsum(rev)).alias("promo_revenue_pct"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@register(
    "q59_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey,
             {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, rev.total_revenue
    FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey
    WHERE rev.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q59_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/A4/2.10] TPC-H-Q15-shaped top supplier: supplier(s) whose quarter
    revenue equals the maximum. The CTE aggregates once; the scalar MAX is
    a 1-row broadcast joined back (no second scan of lineitem, the agg
    result is reused), and the equality is exact because both sides come
    from the same decimal-summed values — the classic float-subquery trap
    is defused by construction. Supplier attributes broadcast onto the
    ~|supplier|-row aggregate. (SURVEY.md 2.10 scalar subquery)."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
        .cache()
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q60_parts_supplier_counts",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 9, 19, 29, 39, 49)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q60_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/A4/U] TPC-H-Q16-shaped supplier diversity: distinct supplier count
    per (brand, type, size) for a size/brand slice, excluding suppliers on
    a deny-list (negative balance stands in for the complaints predicate;
    the fixture supplier has no comment column). NOT IN compiles to a
    broadcast LEFT ANTI join (keys are non-null, so the NOT-IN null trap is
    void); the part slice broadcasts; the only shuffle is the distinct-agg
    on (brand, type, size, suppkey) which Spark runs as a two-phase
    partial-distinct + final count. (SURVEY.md 2.3 J4 orphan-exclusion
    idiom, 2.4 A4)."""
    deny = t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    p = t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 9, 19, 29, 39, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(deny), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@register(
    "q61_large_volume_customers",
    f"""
    WITH big AS (
      SELECT l_orderkey, {_dsum_sql('l_quantity')} AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING {_dsum_sql('l_quantity')} > 300.0
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, big.sum_qty
    FROM big
    JOIN orders o   ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q61_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J2/A4/2.10] TPC-H-Q18-shaped large-volume customers: orders whose
    total line quantity exceeds 300, with their customers. The IN-subquery
    of the canonical form is decorrelated into an aggregate-then-join: one
    orderkey shuffle builds the HAVING-filtered order set (at 100 TB the
    partial aggregation combines map-side, and the >300 filter cuts the
    join input to a sliver), which then joins orders on its shuffle-
    partitioned key and broadcasts customer. No row of lineitem is read
    twice. (SURVEY.md 2.10 decorrelated subquery, 2.4 A4)."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"))
        .where(F.col("sum_qty") > 300.0)
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
    )


@register(
    "q62_discounted_brand_revenue",
    f"""
    SELECT {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q62_discounted_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/P4/A4] TPC-H-Q19-shaped OR-of-ANDs revenue: three brand/size/
    quantity conjunct groups unioned by OR, evaluated as a single
    broadcast-hash-join residual predicate — one pass over lineitem, no
    union of three subplans. Catalyst factors the common l_quantity range
    (1..30) OR-envelope into a pushable scan filter while the cross-table
    conjuncts stay as the join condition. (SURVEY.md 2.2 P4 compound
    predicate injection, 2.4 A4)."""
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#7")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#20")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@register(
    "q63_waiting_suppliers",
    """
    WITH late AS (
      SELECT DISTINCT l.l_suppkey, l.l_orderkey
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    ),
    sole AS (
      SELECT late.l_suppkey, late.l_orderkey
      FROM late
      WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = late.l_orderkey
          AND l2.l_suppkey <> late.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM late late2
        WHERE late2.l_orderkey = late.l_orderkey
          AND late2.l_suppkey <> late.l_suppkey
      )
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM sole JOIN supplier s ON s.s_suppkey = sole.l_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 10
    """,
)
def q63_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J2/A4/O] TPC-H-Q21-shaped suppliers-who-kept-orders-waiting: for
    finished multi-supplier orders, the supplier who was the ONLY one to
    ship >90 days late (ship-lag stands in for the fixture's missing
    commit/receipt dates), counted per supplier, top-10. The EXISTS /
    NOT-EXISTS pair compiles to LEFT SEMI + LEFT ANTI joins, all
    co-partitioned on l_orderkey — one shuffle partitioning serves the
    late-set distinct, the semi probe, and the anti probe, so the plan is
    shuffle-reuse-friendly at scale; the `late` set is computed once and
    reused for both sides of the anti self-probe. Top-10 is
    TakeOrderedAndProject with s_name tie-break (names are unique).
    (SURVEY.md 2.3 J4 existence patterns, 2.4 A4)."""
    o = t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
        .select("l_suppkey", "l_orderkey")
        .distinct()
        .cache()
    )
    other = li.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    late2 = late.select(
        F.col("l_orderkey").alias("y_orderkey"), F.col("l_suppkey").alias("y_suppkey")
    )
    sole = (
        late.join(
            other,
            (F.col("x_orderkey") == F.col("l_orderkey"))
            & (F.col("x_suppkey") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            late2,
            (F.col("y_orderkey") == F.col("l_orderkey"))
            & (F.col("y_suppkey") != F.col("l_suppkey")),
            "left_anti",
        )
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )




# x140: sample-based approximate query processing — the interactive-BI
# tier every 100 TB warehouse runs in front of the exact engine: answer
# the aggregate from a small deterministic sample with a confidence
# interval, and let the caller decide whether the error bar is good
# enough before paying for the full scan (BlinkDB's contract).

_X140_NUM = 13  # inclusion: first md5 byte < 0x0d -> p = 13/256 exactly

_X140_ORACLE = f"""
    WITH base AS (
      SELECT l_returnflag,
             l_extendedprice * (1 - l_discount) AS rev,
             md5(CAST(l_orderkey AS VARCHAR) || '-'
                 || CAST(l_linenumber AS VARCHAR)) < '0d' AS in_s
      FROM lineitem
    ), g AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n_exact,
             {_dsum_sql('rev')} AS sum_exact,
             CAST(SUM(CASE WHEN in_s THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sample,
             {_dsum_sql('CASE WHEN in_s THEN rev END')} AS sum_sample,
             {_dsum_sql('CASE WHEN in_s THEN rev * rev END')} AS sumsq_sample
      FROM base GROUP BY l_returnflag
    )
    SELECT l_returnflag, n_exact, n_sample,
           CAST(n_sample AS DOUBLE) * (256.0 / {_X140_NUM}) AS n_est,
           sum_exact,
           sum_sample * (256.0 / {_X140_NUM}) AS sum_est,
           ABS(sum_sample * (256.0 / {_X140_NUM}) - sum_exact) / sum_exact
             AS rel_err,
           1.96 * sqrt(sumsq_sample
                       * ((1.0 - {_X140_NUM} / 256.0)
                          / (({_X140_NUM} / 256.0) * ({_X140_NUM} / 256.0))))
             AS ci95,
           ABS(sum_sample * (256.0 / {_X140_NUM}) - sum_exact)
             <= 1.96 * sqrt(sumsq_sample
                            * ((1.0 - {_X140_NUM} / 256.0)
                               / (({_X140_NUM} / 256.0)
                                  * ({_X140_NUM} / 256.0))))
             AS ci_covered
    FROM g
"""


@register("x140_aqp_sample_estimate", _X140_ORACLE)
def x140_aqp_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[X/A4] APPROXIMATE QUERY PROCESSING over a deterministic hash
    sample — the BlinkDB/interactive-BI contract: per l_returnflag,
    revenue totals estimated from the ~5% of rows whose
    md5(orderkey-linenumber) first byte < 0x0d (inclusion probability
    EXACTLY 13/256 — reproducible under reruns and data growth, unlike
    ``TABLESAMPLE``), Horvitz-Thompson scaled (y/p), with the Poisson-
    sampling 95% CI (Var = Σ_s y²·(1-p)/p²) and the exact answer beside
    it so the cert GATES on the estimator's own guarantee (ci_covered).

    Scale shape: ONE scan computes exact and sample aggregates together
    (conditional aggregation — the sample predicate is a scan-side
    expression, no second pass, no shuffle beyond |groups| partials).
    At 100 TB the sample would be materialized as its own zone and this
    query reads only it; the single-scan form here additionally certifies
    the estimator against ground truth. All sums are decimal-exact
    (``dsum``); the HT scaling, sqrt, and CI are single deterministic
    double ops per group row."""
    p = _X140_NUM / 256.0
    scale = 256.0 / _X140_NUM
    li = t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    in_s = F.md5(
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
    ) < "0d"
    g = (
        li.select(
            "l_returnflag",
            rev.alias("rev"),
            in_s.alias("in_s"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            dsum(F.col("rev")).alias("sum_exact"),
            F.sum(F.when(F.col("in_s"), 1).otherwise(0))
            .cast("long")
            .alias("n_sample"),
            dsum(F.when(F.col("in_s"), F.col("rev"))).alias("sum_sample"),
            dsum(
                F.when(F.col("in_s"), F.col("rev") * F.col("rev"))
            ).alias("sumsq_sample"),
        )
    )
    sum_est = F.col("sum_sample") * F.lit(scale)
    ci95 = F.lit(1.96) * F.sqrt(
        F.col("sumsq_sample") * F.lit((1.0 - p) / (p * p))
    )
    return g.select(
        "l_returnflag",
        "n_exact",
        "n_sample",
        (F.col("n_sample").cast("double") * F.lit(scale)).alias("n_est"),
        "sum_exact",
        sum_est.alias("sum_est"),
        (F.abs(sum_est - F.col("sum_exact")) / F.col("sum_exact")).alias(
            "rel_err"
        ),
        ci95.alias("ci95"),
        (F.abs(sum_est - F.col("sum_exact")) <= ci95).alias("ci_covered"),
    )


# q111: market-basket analysis over order lines — which parts are
# ordered TOGETHER more than chance predicts. The association-rule
# staple (support / confidence-free lift form) every retail warehouse
# ships; pair space is per-order C(lines,2) with lines bounded by order
# size, never |parts|².

_Q111_TOPK = 20

_Q111_ORACLE = f"""
    WITH pp AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM pp
    ), per_part AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_part FROM pp
      GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM pp a JOIN pp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY part_a, part_b
    ), scored AS (
      SELECT p.part_a, p.part_b, p.n_both,
             pa.n_part AS n_a, pb.n_part AS n_b,
             CAST(p.n_both AS DOUBLE) / n.n_orders AS support,
             CAST(p.n_both * n.n_orders AS DOUBLE)
               / CAST(pa.n_part * pb.n_part AS DOUBLE) AS lift
      FROM pairs p
      JOIN per_part pa ON pa.l_partkey = p.part_a
      JOIN per_part pb ON pb.l_partkey = p.part_b
      CROSS JOIN n
    )
    SELECT part_a, part_b, n_both, n_a, n_b, support, lift,
           CAST(rnk AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY n_both DESC, part_a, part_b)
                  AS rnk
      FROM scored
    ) WHERE rnk <= {_Q111_TOPK}
"""


@register("q111_market_basket_lift", _Q111_ORACLE)
def q111_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.4/§2.3] MARKET-BASKET PAIR LIFT — the top co-ordered part
    pairs with their support and lift (observed co-occurrence over the
    independence expectation), i.e. one-hop association-rule mining on
    order lines. The lift form is kept RATIONAL (n_both·N / (n_a·n_b) —
    one double division of exact BIGINT products, the repo's
    transcendental-free convention; a log-lift would drift).

    Scale shape: baskets dedup to DISTINCT (order, part) first, then the
    pair space is Σ_orders C(lines,2) — bounded by real basket sizes
    (TPC-H ≤7 lines), structurally immune to hot parts exploding the
    join because pairing keys on ORDER, not part. Part marginals join
    back broadcast (|parts|-sized), the global top-20 is a
    TakeOrderedAndProject. At 100 TB: one order-keyed shuffle of the
    deduped basket lines, one pair-keyed rollup. The deduped basket is
    localCheckpointed — four consumers (both pair sides, part marginals,
    the order count) would otherwise re-run the distinct each
    (measured 5.0 s → ~1.6 s at sf0.1)."""
    li = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_orders = li.agg(
        F.count_distinct("l_orderkey").cast("long").alias("n_orders")
    )
    per_part = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_part")
    )
    a = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    scored = (
        pairs.join(
            F.broadcast(
                per_part.select(
                    F.col("l_partkey").alias("part_a"),
                    F.col("n_part").alias("n_a"),
                )
            ),
            "part_a",
        )
        .join(
            F.broadcast(
                per_part.select(
                    F.col("l_partkey").alias("part_b"),
                    F.col("n_part").alias("n_b"),
                )
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            (F.col("n_both").cast("double") / F.col("n_orders")).alias(
                "support"
            ),
            (
                (F.col("n_both") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )
    # top-k FIRST (TakeOrderedAndProject — per-partition partial top-20,
    # never a global sort), THEN rank the 20 survivors: a row_number over
    # the full pair table would drag every pair through one task
    top = scored.orderBy(
        F.col("n_both").desc(), "part_a", "part_b"
    ).limit(_Q111_TOPK)
    wr = W.orderBy(F.col("n_both").desc(), "part_a", "part_b")
    return top.withColumn("rank", F.row_number().over(wr).cast("long"))


# q112: ABC (Pareto) inventory classification — parts ranked by revenue,
# classified A/B/C at the 80% / 95% cumulative-share cuts. The heavy
# intermediate is a GLOBAL cumulative revenue in rank order — done here
# with band-partitioned DECIMAL prefix sums (the global_ordinals recipe
# extended from counts to sums), so no single-partition corpus window.

_Q112_ORACLE = """
    WITH pr AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)))
               AS rev
      FROM lineitem GROUP BY l_partkey
    ), c AS (
      SELECT l_partkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey) AS cum,
             SUM(rev) OVER () AS total
      FROM pr
    ), cls AS (
      SELECT l_partkey, rev,
             CASE WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.80
                    THEN 'A'
                  WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95
                    THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM c
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev) AS DOUBLE) AS class_revenue
    FROM cls GROUP BY abc_class
"""


@register("q112_abc_classification", _Q112_ORACLE)
def q112_abc_classification(
    spark: SparkSession, sf_dir: str, band_width: float = 10000.0
) -> DataFrame:
    """[§2.5/A4] ABC / PARETO CLASSIFICATION of parts by revenue — the
    inventory-management classic: rank parts by revenue, class A until
    80% of cumulative revenue, B until 95%, C after. The interesting
    operator is the GLOBAL running total in rank order: a plain
    ``SUM OVER (ORDER BY rev DESC)`` drags every part through ONE task
    (the q38 anti-pattern), so the prefix sum is decomposed exactly like
    ``global_ordinals`` decomposes ROW_NUMBER — monotone revenue BANDS,
    per-band DECIMAL sums rolled to band offsets (a |bands|-row window),
    and a band-partitioned running DECIMAL sum inside each band; offset +
    within-band = the global cumulative, every coordinate decimal-exact
    so the band route is BIT-IDENTICAL to the oracle's one-window form.

    Scale shape: one part-keyed rollup of lineitem, then |parts|-sized
    band-partitioned windows; the only global object is the |bands|-row
    offset table (broadcast). Share thresholds are two double compares
    per part; the output is the 3-row class summary whose counts pin the
    entire cumsum. ``band_width`` only changes the DECOMPOSITION, never
    the result — tests/test_plans pins width-invariance."""
    li = t(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(exact(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev")
    )
    # band monotone non-decreasing in (rev DESC): floor(-rev / width).
    # the double cast only buckets — order inside a band is exact decimal
    banded = pr.withColumn(
        "_band",
        F.floor((-F.col("rev")).cast("double") / F.lit(float(band_width))),
    )
    offsets = (
        banded.groupBy("_band")
        .agg(F.sum("rev").alias("_bsum"))
        .withColumn(
            "_off",
            F.sum("_bsum").over(
                W.orderBy("_band").rowsBetween(W.unboundedPreceding, -1)
            ),
        )
        .select("_band", "_off")
    )
    wb = W.partitionBy("_band").orderBy(F.col("rev").desc(), "l_partkey")
    total = pr.agg(F.sum("rev").alias("_total"))
    c = (
        banded.join(F.broadcast(offsets), "_band")
        .withColumn("_run", F.sum("rev").over(wb))
        .crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            "rev",
            (
                F.coalesce(F.col("_off"), exact(F.lit(0)))
                + F.col("_run")
            ).alias("cum"),
            "_total",
        )
    )
    share = F.col("cum").cast("double") / F.col("_total").cast("double")
    cls = c.select(
        "l_partkey",
        "rev",
        F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C")
        .alias("abc_class"),
    )
    return cls.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("rev").cast("double").alias("class_revenue"),
    )
