"""Skew utilities + determinism-under-repartition properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from smfg_datawarehouse_spark.functions import ordered_concat_ws
from smfg_datawarehouse_spark.functions.skew import (
    salted_join,
    salted_two_stage_agg,
)


def _skewed(spark):
    # one hot key (90%) + a uniform tail — the shape AQE alone can't split
    # past a single reducer for the hot key's matches
    return spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        (F.col("id") * 3).alias("v"),
        F.col("id").alias("uid"),
    )


def test_salted_join_equals_plain_join(spark):
    big = _skewed(spark)
    small = spark.range(0, 100).select(
        F.col("id").alias("k"), F.concat(F.lit("dim_"), F.col("id")).alias("name")
    )
    plain = big.join(small, "k").select("k", "v", "name")
    salted = salted_join(big, small, ["k"], salt_from=F.col("uid")).select(
        "k", "v", "name"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_two_stage_agg_equals_direct(spark):
    df = _skewed(spark)
    direct = df.groupBy("k").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")
    )
    two_stage = salted_two_stage_agg(
        df,
        ["k"],
        salt_from=F.col("uid"),
        partial_aggs=[F.sum("v").alias("ps"), F.count(F.lit(1)).alias("pc")],
        final_aggs=[F.sum("ps").alias("s"), F.sum("pc").cast("long").alias("c")],
        buckets=8,
    )
    assert sorted(map(tuple, two_stage.collect())) == sorted(map(tuple, direct.collect()))


def test_ordered_concat_deterministic_under_repartition(spark):
    """A1's hard requirement (SURVEY §7 risks): the ordered GROUP_CONCAT
    must not depend on partition layout — collect_list order is
    partition-dependent, the in-array sort must fully absorb it."""
    base = spark.range(0, 1000).select(
        (F.col("id") % 13).alias("g"),
        F.col("id").alias("ord"),
        F.concat(F.lit("item_"), F.col("id")).alias("val"),
    )
    results = []
    for parts in (1, 7, 32):
        agg = (
            base.repartition(parts)
            .groupBy("g")
            .agg(ordered_concat_ws(", ", F.col("ord"), F.col("val")).alias("joined"))
        )
        results.append(sorted(map(tuple, agg.collect())))
    assert results[0] == results[1] == results[2]


def test_shingle_table_kernel_df_window_and_parity(spark):
    """VERDICT r7 item 7: the named corpus-shingling kernel. (a) The
    exploded rows are each document's distinct word 3-grams; (b)
    with_df must attach the exact per-shingle document frequency; (c)
    the df attachment must be a WINDOW in the plan, never a broadcast
    of the vocabulary (the x139 lesson — vocab grows with the corpus)."""
    from pyspark.sql import functions as F

    from smfg_datawarehouse_spark.functions import shingle_table

    docs = spark.createDataFrame(
        [
            (0, "a b c d"),
            (1, "a b c e"),
            (2, "x y"),  # under k=3 tokens: contributes nothing
            (3, "a b c d"),
        ],
        "doc_id long, text string",
    )
    base = sorted(
        (r.doc_id, r.shingle) for r in shingle_table(docs).collect()
    )
    assert base == [  # docs 0,1,3 x 2 shingles
        (0, "a b c"), (0, "b c d"),
        (1, "a b c"), (1, "b c e"),
        (3, "a b c"), (3, "b c d"),
    ]
    with_df = shingle_table(docs, with_df=True)
    got = {(r.doc_id, r.shingle): r.df for r in with_df.collect()}
    assert got[(0, "a b c")] == 3 and got[(1, "b c e")] == 1
    plan = with_df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "BroadcastExchange" not in plan
    # checkpoint=True must hand back a runnable frame with the same rows
    ck = shingle_table(docs, checkpoint=True)
    assert sorted(map(tuple, ck.collect())) == base


def test_local_rows_df_is_arrow_local_relation(spark):
    """session.local_rows_df must plan as a LocalTableScan (Arrow local
    relation) — NOT Scan ExistingRDD, whose every action pays a
    ~5s Python-runner round trip in this container (round-8 finding; the
    s11 heartbeat write alone was 4.8s). Schema stays authoritative:
    Nones survive as NULLs, timestamps keep their values, arrays and
    empty inputs work, and values match the legacy createDataFrame path
    exactly."""
    import datetime

    from smfg_datawarehouse_spark.session import local_rows_df

    mx = datetime.datetime(2025, 5, 1, 12, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    rows = [(-1, mx, -1, "heartbeat", 0.0, None)]
    df = local_rows_df(spark, rows, schema)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    legacy = spark.createDataFrame(rows, schema)
    assert df.schema == legacy.schema
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, legacy.collect())
    )
    # arrays + empty input
    arr = local_rows_df(spark, [(1, [1.0, 2.5])], "id long, v array<double>")
    assert arr.collect()[0]["v"] == [1.0, 2.5]
    empty = local_rows_df(spark, [], "a long, b string")
    assert empty.count() == 0 and [f.name for f in empty.schema] == ["a", "b"]
