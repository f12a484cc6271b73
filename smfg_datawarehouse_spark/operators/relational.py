"""Reference-parity relational queries (q01-q15, q31-q47 band): projection/filter/join/agg/window/set-op surface over the TPC-H-ish fixtures, one registered query per SURVEY §2 operator family.

Split out of ``queries.py`` (round 5, VERDICT r4 #8 — module size only;
zero behavior change). Registration/oracle/determinism conventions are
documented in ``queries.py``; reference citations live in each docstring.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.functions import ordered_concat_ws
from smfg_datawarehouse_spark.queries import (
    _davg_sql,
    _dsum_sql,
    davg,
    dsum,
    exact,
    register,
    t,
)

# ---------------------------------------------------------------------------
# Reference-parity analytical queries
# ---------------------------------------------------------------------------


@register(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum_sql('l_quantity')} AS sum_qty,
           {_dsum_sql('l_extendedprice')} AS sum_base_price,
           {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {_dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {_davg_sql('l_quantity')} AS avg_qty,
           {_davg_sql('l_extendedprice')} AS avg_price,
           {_davg_sql('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4] TPC-H-Q1-shaped grouped aggregation — the flagship analytical agg.

    Single scan, partial (map-side) aggregation before the shuffle; at 100 TB
    this is one shuffle of |groups| rows per partition — optimal.
    """
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q02_projection_rename_filter",
    """
    SELECT l_orderkey AS order_key,
           l_linenumber AS line_no,
           l_quantity AS qty,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
      AND l_quantity > 45
    """,
)
def q02_projection_rename_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[P1/P2/P3/P4] Include-flag pruning + alias map + expression transform +
    incremental predicate — the compiled-extraction shape of the reference
    (``Staging_Extraction_Metadata_Query.sql:20-52``) on a fact table.

    Catalyst pushes both the projection and the predicates into the parquet
    scan (verify: PushedFilters + ReadSchema in `.explain`).
    """
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1995-06-01 00:00:00")))
            & (F.col("l_quantity") > 45)
        )
        .select(
            F.col("l_orderkey").alias("order_key"),
            F.col("l_linenumber").alias("line_no"),
            F.col("l_quantity").alias("qty"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        )
    )


@register(
    "q03_join_customer_orders",
    f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS order_cnt,
           {_dsum_sql('o.o_totalprice')} AS total_revenue,
           {_davg_sql('o.o_totalprice')} AS avg_order_value
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q03_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/A4] Inner equi-join + grouped agg. Customer is the small side —
    broadcast (no shuffle of orders); at 100 TB customer would exceed the
    threshold and AQE falls back to sort-merge, which is correct.
    """
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            dsum(F.col("o_totalprice")).alias("total_revenue"),
            davg(F.col("o_totalprice")).alias("avg_order_value"),
        )
    )


@register(
    "q04_revenue_by_nation",
    f"""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS line_cnt
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def q04_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/J2/A4] 5-table star join. Dim tables broadcast; the only shuffle
    is lineitem⋈orders (both big at scale — sort-merge on orderkey) plus the
    final small agg shuffle.
    """
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("line_cnt"),
        )
    )


@register(
    "q05_ordered_group_concat",
    """
    SELECT r.r_name AS region_name,
           string_agg(n.n_name, ', ' ORDER BY n.n_nationkey) AS nations,
           COUNT(*) AS nation_cnt
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q05_ordered_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A1] Ordered GROUP_CONCAT — the reference's core compiler aggregate
    (``Staging_Extraction_Metadata_Query.sql:33-40``), deterministic via
    sort-inside-array (collect_list order is partition-dependent; the struct
    sort makes it stable under any partitioning).
    """
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            ordered_concat_ws(", ", "n_nationkey", "n_name").alias("nations"),
            F.count(F.lit(1)).alias("nation_cnt"),
        )
    )


@register(
    "q06_window_top_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q06_window_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5] Window function: top-3 orders per customer. One shuffle on the
    partition key; unique o_orderkey tie-break keeps it deterministic.
    """
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "q07_topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def q07_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[O] Top-k: Spark plans TakeOrderedAndProject (per-partition heap +
    driver merge — no global sort shuffle even at 100 TB).
    """
    o = t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


@register(
    "q08_except_customers_without_orders",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def q08_except_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U] Set difference (EXCEPT DISTINCT)."""
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.subtract(o)


@register(
    "q09_anti_join_integrity",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q09_anti_join_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J4] Referential-integrity check as a left-anti join — the engine's
    replacement for the reference's FK constraints
    (``1. Metadata Creation.sql:43-46,98-99,137-139``).
    """
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "q10_rollup_returns",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum_sql('l_quantity')} AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q10_rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4] ROLLUP hierarchy totals (subtotal + grand-total rows)."""
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "q31_grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum_sql('l_quantity')} AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def q31_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4] Non-hierarchical GROUPING SETS — two independent groupings in
    one pass (Catalyst expands then aggregates once), not expressible as
    rollup/cube."""
    li = t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("v_lineitem_gs")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               {_dsum_sql('l_quantity')} AS sum_qty,
               COUNT(*) AS cnt
        FROM v_lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


@register(
    "q11_case_bucketing",
    f"""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                WHEN o_totalprice < 200000 THEN 'medium'
                ELSE 'large' END AS bucket,
           COUNT(*) AS cnt,
           {_dsum_sql('o_totalprice')} AS total
    FROM orders
    GROUP BY 1
    """,
)
def q11_case_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[P3/§2.10] CASE WHEN expression transform (the metadata
    ``TransformationLogic`` pattern) + aggregation."""
    o = t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"), dsum(F.col("o_totalprice")).alias("total"))
    )


@register(
    "q12_string_functions",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           p_name || '/' || p_type AS full_name,
           substring(p_name, 1, 8) AS name_prefix,
           replace(p_type, ' ', '_') AS type_slug,
           CAST(length(p_name) AS BIGINT) AS name_len,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad
    FROM part
    """,
)
def q12_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.10] Scalar string surface (concat/upper/substring/replace/length/
    lpad) — the function family metadata expressions draw from."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.concat(F.col("p_name"), F.lit("/"), F.col("p_type")).alias("full_name"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_slug"),
        F.length("p_name").cast("long").alias("name_len"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
    )


@register(
    "q13_date_functions",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(month(o_orderdate) AS BIGINT) AS order_month,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '1999-01-01 00:00:00') AS BIGINT)
             AS days_to_1999
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def q13_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.10] Date/time surface: year/month/trunc/diff with pushdown filter."""
    o = t(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01 00:00:00")))
        .select(
            "o_orderkey",
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
            F.datediff(F.lit("1999-01-01").cast("date"), F.col("o_orderdate").cast("date"))
            .cast("long")
            .alias("days_to_1999"),
        )
    )


@register(
    "q14_union_priority_classes",
    f"""
    SELECT 'urgent' AS class, COUNT(*) AS cnt, {_dsum_sql('o_totalprice')} AS total
    FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT 'high' AS class, COUNT(*) AS cnt, {_dsum_sql('o_totalprice')} AS total
    FROM orders WHERE o_orderpriority = '2-HIGH'
    """,
)
def q14_union_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U1] UNION ALL of two aggregate branches (the reference's config-seeding
    idiom, ``2. SampleConfigInsert.sql:30-101``)."""
    o = t(spark, sf_dir, "orders")

    def branch(prio: str, label: str) -> DataFrame:
        return (
            o.where(F.col("o_orderpriority") == prio)
            .agg(F.count(F.lit(1)).alias("cnt"), dsum(F.col("o_totalprice")).alias("total"))
            .select(F.lit(label).alias("class"), "cnt", "total")
        )

    return branch("1-URGENT", "urgent").unionByName(branch("2-HIGH", "high"))


@register(
    "q15_semi_join_active_parts",
    """
    SELECT p.p_partkey, p.p_name
    FROM part p
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 49
    )
    """,
)
def q15_semi_join_active_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J] Left-semi join (EXISTS): parts with at least one big-quantity sale."""
    p = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 49)
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select("p_partkey", "p_name")


@register(
    "q33_intersect_nations",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def q33_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U] INTERSECT (distinct set semantics): nations present on both the
    customer and supplier side — completes the set-op family (union q14,
    except q08, semi q15, anti q09)."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "q34_top_suppliers_by_revenue",
    f"""
    SELECT s.s_suppkey, s.s_name,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY revenue DESC, s_suppkey
    LIMIT 10
    """,
)
def q34_top_suppliers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/A4/O] Fact-dimension join + agg + top-k: supplier broadcast,
    lineitem aggregated map-side first, TakeOrderedAndProject caps the
    result driver-side — no full sort at any scale."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_suppkey", "s_name")
        .agg(dsum(rev).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
        .orderBy(F.col("revenue").desc(), "s_suppkey")
        .limit(10)
    )


@register(
    "q36_above_average_orders",
    f"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (
      SELECT {_davg_sql('o_totalprice')} FROM orders
    )
    """,
)
def q36_above_average_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/§2.10] Scalar-subquery predicate: orders above the global mean.
    Catalyst plans the subquery as a separate tiny job whose result folds
    into the main scan's filter — two passes total, no join. The mean uses
    the exact-decimal convention so the comparison boundary is bit-stable."""
    o = t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("v_orders_q36")
    return spark.sql(
        f"""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM v_orders_q36
        WHERE o_totalprice > (
          SELECT {_davg_sql('o_totalprice')} FROM v_orders_q36
        )
        """
    )


@register(
    "q37_part_brand_revenue",
    f"""
    SELECT p.p_brand,
           COUNT(*) AS n_lines,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           {_dsum_sql('l.l_quantity')} AS total_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size >= 20
    GROUP BY p.p_brand
    """,
)
def q37_part_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/P4/A4] Fact-dimension join with a dimension-side filter: the
    p_size predicate prunes the broadcast side BEFORE the join (filter
    pushdown into the dimension scan), shrinking the hash table every
    executor holds."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").where(F.col("p_size") >= 20)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(rev).alias("revenue"),
            dsum(F.col("l_quantity")).alias("total_qty"),
        )
    )


@register(
    "q39_customer_order_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q39_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/A4] LEFT OUTER join + two-level aggregation (TPC-H-Q13 shape):
    customers keep a row even with zero orders (COUNT over the null-extended
    side counts matches only). The first groupBy key equals the join key, so
    the sort-merge join's partitioning is reused — one shuffle for join+agg,
    then a tiny shuffle on |distinct counts| rows."""
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "q40_small_quantity_revenue",
    """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(30,6))) AS DOUBLE)
                      / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def q40_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/A4/§2.10] Correlated scalar subquery (TPC-H-Q17 shape), manually
    decorrelated the way Catalyst would: the per-part average joins back as
    an aggregate, computed ONLY for the brand's parts (p_partkey determines
    p_brand, so pre-filtering lineitem by the brand's partkeys yields the
    identical per-part mean). At 100 TB the brand filter keeps the avg table
    ~|part|/1000 rows — broadcastable — so lineitem is scanned once and
    never shuffled. The mean uses the exact-decimal convention so the 0.2×
    comparison boundary is bit-stable."""
    pk = (
        t(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .join(F.broadcast(pk), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    avgs = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        davg(F.col("l_quantity")).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(avgs), F.col("l_partkey") == F.col("avg_partkey"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((dsum(F.col("l_extendedprice")) / 7.0).alias("avg_yearly"))
    )


@register(
    "q41_nation_presence_full_outer",
    """
    WITH cn AS (
      SELECT c_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust
      FROM customer GROUP BY 1
    ),
    sn AS (
      SELECT s_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_supp
      FROM supplier GROUP BY 1
    )
    SELECT COALESCE(cn.nationkey, sn.nationkey) AS nationkey,
           COALESCE(cn.n_cust, 0) AS n_cust,
           COALESCE(sn.n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nationkey = sn.nationkey
    """,
)
def q41_nation_presence_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/U] FULL OUTER join of two aggregated sides: nations with customers
    but no suppliers (and vice versa) survive null-extended. Aggregating
    BEFORE the join shrinks both sides to |nation| rows — the outer join is
    trivial at any scale, where outer-joining the raw tables then
    aggregating would shuffle everything."""
    cn = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    sn = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cn.join(sn, ["nationkey"], "full").select(
        "nationkey",
        F.coalesce("n_cust", F.lit(0)).cast("long").alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).cast("long").alias("n_supp"),
    )


@register(
    "q43_except_all_open_vs_finished",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q43_except_all_open_vs_finished(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U] EXCEPT ALL (multiset difference): each customer key survives
    max(open_count − finished_count, 0) times — bag semantics q08's
    EXCEPT DISTINCT can't express. Spark plans this as a single
    count-differencing aggregation on the key (one shuffle), not a join."""
    o = t(spark, sf_dir, "orders")
    open_ = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    finished = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_.exceptAll(finished)


@register(
    "q44_salted_event_type_totals",
    f"""
    SELECT event_type,
           {_dsum_sql('value')} AS total_value,
           COUNT(*) AS cnt
    FROM events
    GROUP BY event_type
    """,
)
def q44_salted_event_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/skew] Skew-safe two-stage aggregation, oracle-checked against
    the plain GROUP BY: events has only 5 event types, so every key is hot
    — the worst case for a single-stage shuffle at scale. Stage 1
    aggregates on (key, salt) bounding any task to 1/16 of a hot key;
    stage 2 merges partials. Decimal partials are associative, so the
    two-stage result is bit-identical to the one-stage plan."""
    from smfg_datawarehouse_spark.functions.skew import salted_two_stage_agg

    e = t(spark, sf_dir, "events")
    return salted_two_stage_agg(
        e,
        keys=["event_type"],
        salt_from=F.col("event_id"),
        partial_aggs=[
            F.sum(exact("value")).alias("_s"),
            F.count(F.lit(1)).alias("_c"),
        ],
        final_aggs=[
            F.sum("_s").cast("double").alias("total_value"),
            F.sum("_c").cast("long").alias("cnt"),
        ],
    )


@register(
    "q46_stratified_systematic_sample",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_orderkey) AS rn
      FROM orders
    ) WHERE rn % 10 = 1
    """,
)
def q46_stratified_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5/X] Stratified systematic sampling: every 10th row per stratum
    in key order — reproducible (unlike ``df.sample``, whose output depends
    on partitioning) and exactly proportional per stratum. One shuffle on
    the stratum key. At 100 TB prefer the shuffle-free hash variant
    (``pmod(hash(key), 10) = 0``) when per-stratum exactness isn't
    required; both are deterministic."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy("o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") % 10 == 1)
        .drop("rn")
    )


@register(
    "q47_ranking_variants",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           CUME_DIST() OVER w AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q47_ranking_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5] The remaining ranking-window family in one pass: RANK (gaps on
    ties), DENSE_RANK (no gaps), CUME_DIST (rows ≤ current / total — a
    ratio of exact ints, bit-stable). Per-customer partitions: one shuffle,
    parallel across keys — the scalable window shape (contrast q38's
    global window)."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.cume_dist().over(w).alias("cdist"),
    )


@register(
    "q38_customer_order_quartiles",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           PERCENT_RANK() OVER w AS pct_rank
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    """,
)
def q38_customer_order_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[§2.5] Ranking windows over the whole relation: NTILE quartiles +
    PERCENT_RANK ((rank-1)/(n-1) — rational, bit-stable). A single-partition
    global window is the one shape that does NOT scale (all rows through
    one task); at 100 TB you bucket by a partition key first or use
    approx quantiles — flagged here deliberately as the contrast case to
    q24's per-entity windows."""
    o = t(spark, sf_dir, "orders")
    w = W.orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
    )




_Q107_ORACLE = """
    WITH rev AS (
      SELECT r.r_name AS region_name, n.n_name AS nation_name,
             CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(30,6))) AS DECIMAL(38,6)) AS rev_dec
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    )
    SELECT region_name, nation_name,
           CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(rev_dec AS DOUBLE)
             / CAST(SUM(rev_dec) OVER (PARTITION BY region_name) AS DOUBLE)
             AS share_of_region,
           CAST(rev_dec AS DOUBLE)
             / CAST(SUM(rev_dec) OVER () AS DOUBLE) AS share_of_total
    FROM rev
"""


@register("q107_ratio_to_parent", _Q107_ORACLE)
def q107_ratio_to_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/§2.5] RATIO-TO-PARENT REPORT — the standard BI rollup view:
    each nation's revenue beside its share of its region and of the
    grand total. One star-join rollup (q04's shape: dims broadcast, one
    fact shuffle) to a |nations|-sized frame; the parent totals come
    from windows over THAT aggregated frame, so the corpus never crosses
    the wire twice. Shares divide EXACT DECIMAL sums (region/grand
    totals are decimal sums of decimal row values — associative,
    partition-order-free) with one double division per share — the same
    decimal-exact discipline as the engine's dsum, extended through the
    window. The unpartitioned grand-total window sees ≤|nations| rows."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            F.sum(
                exact(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("rev_dec")
        )
    )
    wr = W.partitionBy("region_name")
    wt = W.partitionBy()
    return rev.select(
        "region_name",
        "nation_name",
        F.col("rev_dec").cast("double").alias("revenue"),
        (
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(wr).cast("double")
        ).alias("share_of_region"),
        (
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(wt).cast("double")
        ).alias("share_of_total"),
    )
