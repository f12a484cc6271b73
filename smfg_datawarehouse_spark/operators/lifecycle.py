"""Lake lifecycle certifications l04-l19 (+ q81 bloom join, q86 order-consistency audit): bucketed joins, partition pruning, dispatch, compaction, schema evolution, time travel, vacuum, JDBC extraction, snapshot diff, changelog replay, manifest commits, zonemaps, salted skew joins.

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
    _scratch_path,
    _dsum_sql,
    _scratch_dir,
    dsum,
    exact,
    load_events,
    md5_int,
    micro,
    register,
    t,
)
from smfg_datawarehouse_spark.session import local_rows_df

_L04_ORACLE = f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
"""


@register("l04_bucketed_colocated_join", _L04_ORACLE)
def l04_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S2/J] Bucketed-table co-located join lifecycle: fact and dimension
    are written as BUCKETED parquet tables (8 buckets, hash(l_orderkey) /
    hash(o_orderkey), sorted within buckets), read back through the
    catalog, and joined WITHOUT a shuffle — Spark's answer to the
    pre-partitioned co-located joins a 100 TB warehouse lives on. At that
    scale both writes happen once at load time and every subsequent join
    on the bucketing key skips its exchange entirely; the plan pin asserts
    the join contributes ZERO exchanges (only the final per-priority
    aggregation shuffles — 5 rows) and that the merge join needs no sort
    (buckets are written pre-sorted). The oracle computes the same
    join+agg straight from the raw parquet, so a value drift anywhere in
    the bucketed write/read/join path hash-fails.

    Reference parity: the reference's DW star schema loads into keyed
    MySQL tables whose joins ride InnoDB PK order
    (`source_code/sql/1. Metadata Creation.sql`); bucketing is the lake
    equivalent of that physical key layout."""
    import os as _os

    from smfg_datawarehouse_spark.queries import _scratch_dir

    base = _scratch_dir(spark, "l04")
    app = spark.sparkContext.applicationId.replace("-", "_").replace(".", "_")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    od = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    for name, df, key in [("lineitem", li, "l_orderkey"), ("orders", od, "o_orderkey")]:
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .option("path", _os.path.join(base, name))
            .format("parquet")
            .saveAsTable(f"l04_{name}_{app}")
        )
    lb = spark.table(f"l04_lineitem_{app}")
    ob = spark.table(f"l04_orders_{app}")
    joined = lb.hint("merge").join(ob, lb.l_orderkey == ob.o_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


_L05_ORACLE = """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE source = 'src0'
    GROUP BY lang
"""


@register("l05_partition_pruned_lake", _L05_ORACLE)
def l05_partition_pruned_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S2/S3/P4] Partition-pruned lake lifecycle: the documents corpus is
    written Hive-partitioned by ``source`` (the lake layout a 100 TB
    curated zone uses for its dominant filter key), read back through the
    partition directory structure, and a per-source query proves PARTITION
    PRUNING — the ``source = 'src0'`` predicate is resolved against
    directory names at planning time, so only 1/|sources| of the files is
    ever opened (the plan's scan node lists it under PartitionFilters;
    tests/test_plans pins that). The oracle computes the same rollup from
    the unpartitioned fixture, so a row lost or duplicated anywhere in the
    partitioned write/read path hash-fails.

    At scale this is the difference between scanning 100 TB and scanning
    one partition: pruning happens before I/O, unlike a data filter which
    still reads every file's pages. Reference parity: the staging-zone
    per-table directory layout (`staging_data_extraction.py:94` writes
    `{table}_part_*.parquet` per table dir) generalizes to value-partitioned
    directories; the partition column is recovered from directory names on
    read (Spark partition discovery), not stored in the files."""
    base = _scratch_dir(spark, "l05")
    d = t(spark, sf_dir, "documents")
    d.write.mode("overwrite").partitionBy("source").parquet(base)
    rd = spark.read.parquet(base).where(F.col("source") == "src0")
    return rd.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


_Q81_M = 262144  # bloom bits — sized so |urgent keys|·k/m stays ≈0.5 at sf0.1
_Q81_K = 4
_Q81_BIT = (
    "(('0x' || substring(md5(key), 1, 8))::BIGINT"
    f" + j * ('0x' || substring(md5(key), 9, 8))::BIGINT) % {_Q81_M}"
)

_Q81_ORACLE = f"""
    WITH urgent AS (
      SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS key
      FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    js AS (SELECT unnest(range({_Q81_K})) AS j),
    bits AS (
      SELECT DISTINCT {_Q81_BIT} AS bit FROM urgent CROSS JOIN js
    ),
    dkeys AS (SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS key FROM lineitem),
    kb AS (SELECT key, {_Q81_BIT} AS bit FROM dkeys CROSS JOIN js),
    verd AS (
      SELECT kb.key,
             CASE WHEN COUNT(b.bit) = {_Q81_K} THEN 1 ELSE 0 END AS pass
      FROM kb LEFT JOIN bits b ON kb.bit = b.bit
      GROUP BY kb.key
    ),
    rows_ AS (
      SELECT v.pass,
             CASE WHEN u.key IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM lineitem l
      JOIN verd v ON CAST(l.l_orderkey AS VARCHAR) = v.key
      LEFT JOIN urgent u ON v.key = u.key
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitem,
           CAST(SUM(pass) AS BIGINT) AS n_candidates,
           CAST(SUM(hit) AS BIGINT) AS n_joined,
           CAST(SUM(pass) - SUM(hit) AS BIGINT) AS false_pos_rows,
           CAST(SUM(pass) AS DOUBLE) / COUNT(*) AS candidate_ratio
    FROM rows_
"""


@register("q81_bloom_join_pushdown", _Q81_ORACLE)
def q81_bloom_join_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J/§2.3/X] RUNTIME-FILTER join pushdown, made explicit and
    measurable: the dimension side's join keys (urgent orders) compress
    into an m-bit Bloom filter (Kirsch–Mitzenmacher double hashing — one
    md5, k derived positions; the same portable family as x51), and the
    FACT scan probes the filter as k scalar broadcast lookups BEFORE any
    join shuffle would run — candidate_ratio is exactly the fraction of
    fact rows that would survive into the shuffle. The exact-match count
    rides along (one more broadcast marker join), so the oracle
    re-asserts the defining invariants: no false negatives
    (n_candidates ≥ n_joined, every true match passes) and the measured
    false_pos_rows at this m/k operating point.

    Why it matters at 100 TB: when the dim's key set is too big to
    broadcast as a hash relation, its Bloom bitmap (m bits — here 32 KB
    of set-bit rows, independent of key count) still broadcasts, and
    pre-filtering the fact to candidate_ratio before a sort-merge join
    cuts the dominant shuffle by 1/ratio. This is what Spark's AQE
    runtime bloom filter does internally; expressed explicitly it is
    oracle-checkable and tunable (m sizes to |dim keys|·k/ln2). The whole
    plan is scan-side: k+2 broadcast joins, one single-row aggregate,
    ZERO fact shuffles."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey")
    urgent = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").cast("string").alias("key"))
        .distinct()
    )
    key = F.col("key")
    h1 = md5_int(key)
    h2 = md5_int(key, 9)
    bit_exprs = [((h1 + F.lit(j) * h2) % _Q81_M).alias(f"b{j}") for j in range(_Q81_K)]
    bits = (
        urgent.select(F.explode(F.array(*[(h1 + F.lit(j) * h2) % _Q81_M for j in range(_Q81_K)])).alias("bit"))
        .distinct()
    )
    probe = li.select(F.col("l_orderkey").cast("string").alias("key")).select(
        "key", *bit_exprs
    )
    for j in range(_Q81_K):
        marker = bits.select(F.col("bit").alias(f"bit{j}")).withColumn(
            f"m{j}", F.lit(1)
        )
        probe = probe.join(
            F.broadcast(marker), probe[f"b{j}"] == marker[f"bit{j}"], "left"
        )
    passed = F.when(
        sum(F.col(f"m{j}").isNotNull().cast("int") for j in range(_Q81_K)) == _Q81_K, 1
    ).otherwise(0)
    probe = probe.join(
        F.broadcast(urgent.withColumn("_hit", F.lit(1))), "key", "left"
    )
    return probe.agg(
        F.count(F.lit(1)).cast("long").alias("n_lineitem"),
        F.sum(passed).cast("long").alias("n_candidates"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_joined"),
        (F.sum(passed) - F.sum(F.coalesce(F.col("_hit"), F.lit(0))))
        .cast("long")
        .alias("false_pos_rows"),
        (F.sum(passed).cast("double") / F.count(F.lit(1))).alias("candidate_ratio"),
    )


@register(
    "l06_realtime_dispatch_lifecycle",
    """
    SELECT 'tpch.orders' AS TableName, 'SUCCESS' AS Status,
           CAST(COUNT(*) AS BIGINT) AS RowCount
    FROM orders
    UNION ALL
    SELECT 'tpch.orders@staging', 'SUCCESS', CAST(COUNT(*) AS BIGINT)
    FROM orders
    """,
)
def l06_realtime_dispatch_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/L1-L6/S2] The metadata-driven REALTIME path as a checkable
    lifecycle (l01's streaming sibling): ``RefreshFrequency='REALTIME'``
    in table metadata dispatches a Structured Streaming query through the
    SAME compiled ExtractionPlan as the batch path — readStream over the
    raw zone → foreachBatch → staging zone appends + per-micro-batch
    audit rows → SUCCESS/PARTIAL/FAILED rollup. The returned rows
    reconcile BOTH ledgers the reference's audit model demands
    (`1. Metadata Creation.sql:35-39`): the table-level REALTIME_STAGING
    audit row's RowCount, and an independent count read back from the
    staged parquet itself — each must equal the raw source count, or the
    hash fails. Checkpoints live inside the per-invocation scratch dir,
    so every run drains from offset zero (the incremental
    second-run-only-new-files behavior is pinned by
    tests/test_streaming.py::test_metadata_realtime_dispatch_end_to_end)."""
    import os

    from smfg_datawarehouse_spark.audit import AuditLedger
    from smfg_datawarehouse_spark.catalog import seed_fixture_catalog
    from smfg_datawarehouse_spark.runner import run_realtime_staging
    from smfg_datawarehouse_spark.sources.lake import LakeZones

    tmp = _scratch_dir(spark, "l06")
    zones = LakeZones(os.path.join(tmp, "lake"))
    audit = AuditLedger(spark, os.path.join(tmp, "audit"))
    t(spark, sf_dir, "orders").repartition(2).write.mode("overwrite").parquet(
        os.path.join(zones.raw, "tpch", "orders")
    )
    cat = seed_fixture_catalog(spark)
    for row in cat.table_config:
        if row["TableName"] == "orders":
            row["RefreshFrequency"] = "REALTIME"
    pid, _results = run_realtime_staging(spark, cat, zones, audit)
    audit_rows = (
        audit.stage_detail()
        .where(
            (F.col("ProcessID") == pid)
            & (F.col("StageName") == "REALTIME_STAGING")
        )
        .select(
            "TableName", "Status", F.col("RowCount").cast("long").alias("RowCount")
        )
    )
    landed = spark.read.parquet(zones.staging_table_dir("tpch", "orders"))
    landed_row = landed.agg(
        F.lit("tpch.orders@staging").alias("TableName"),
        F.lit("SUCCESS").alias("Status"),
        F.count(F.lit(1)).cast("long").alias("RowCount"),
    )
    return audit_rows.unionByName(landed_row)


@register(
    "l07_compaction_lifecycle",
    """
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)
def l07_compaction_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S3] The reference's chunk-consolidation step
    (`staging_data_extraction.py:30-80`: glob part files → concat → one
    snappy file) as a certified lake-maintenance lifecycle: the corpus is
    written into a manifest table as MANY small part files (the real
    small-files problem a chunked/streaming ingest creates),
    `ManifestTable.compact` rewrites them into size-targeted files and
    commits the new file list with one atomic CURRENT swap, and the
    per-source rollup read back from the compacted snapshot must
    hash-match the oracle's rollup over the original fixture — compaction
    must be byte-for-byte content-preserving. The small-files reduction
    itself is asserted structurally in-query (fail loudly, not hash-fail
    mysteriously): the manifest's file count must strictly drop to 1 at
    this scale.

    At 100 TB `target_file_bytes` sizes output files to the cluster's
    scan sweet spot (Spark default 128 MB splits) instead of the
    reference's force-one-file concat, which cannot scale past a single
    worker's memory."""
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    tmp = _scratch_dir(spark, "l07")
    mt = ManifestTable(spark, os.path.join(tmp, "documents"))
    v0 = mt.write(t(spark, sf_dir, "documents").repartition(24))
    v1 = mt.compact(target_file_bytes=10 * 1024 * 1024 * 1024)
    n_before, n_after = len(mt.manifest(v0)), len(mt.manifest(v1))
    if not (n_after < n_before and n_after == 1):
        raise RuntimeError(
            f"compaction did not reduce part files: {n_before} -> {n_after}"
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
    "l08_partial_failure_rollup",
    """
    SELECT 'tpch.lineitem' AS Name, 'SUCCESS' AS Status,
           CAST(COUNT(*) AS BIGINT) AS RowCount
    FROM lineitem WHERE l_shipdate >= DATE '1995-06-01'
    UNION ALL
    SELECT 'tpch.orders', 'FAILED', CAST(-1 AS BIGINT)
    UNION ALL
    SELECT 'RUN', 'PARTIAL', CAST(-1 AS BIGINT)
    """,
)
def l08_partial_failure_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[L6] The FAILURE side of the audit ledger certified (l01 proves the
    happy path): one table's source reader raises mid-run (injected
    outage on orders), the runner isolates the failure — lineitem still
    extracts and audits SUCCESS with its incremental row count — the
    failed table gets a FAILED stage row, and the master rolls up
    **PARTIAL** exactly as the reference's status enum declares
    (`1. Metadata Creation.sql:12`; finalizer shape
    `dag/SMFG_DW_ETL_DAG.py:294-308`). The oracle pins all three ledger
    facts; RowCount for non-count rows is -1 (sentinel, not NULL — a
    nullable int column would surface as float through pandas and break
    the hash)."""
    import os

    from smfg_datawarehouse_spark.audit import AuditLedger
    from smfg_datawarehouse_spark.catalog import seed_fixture_catalog
    from smfg_datawarehouse_spark.runner import run_staging_extraction
    from smfg_datawarehouse_spark.sources.lake import LakeZones

    tmp = _scratch_dir(spark, "l08")
    zones = LakeZones(os.path.join(tmp, "lake"))
    audit = AuditLedger(spark, os.path.join(tmp, "audit"))
    cat = seed_fixture_catalog(spark)

    def reader(s: SparkSession, plan) -> DataFrame:
        if plan.table_name == "orders":
            raise RuntimeError("injected source outage")
        return t(s, sf_dir, plan.table_name)

    pid, _results = run_staging_extraction(
        spark, cat, zones, audit, source_reader=reader
    )
    stage_rows = (
        audit.stage_detail()
        .where(F.col("ProcessID") == pid)
        .select(
            F.col("TableName").alias("Name"),
            "Status",
            F.coalesce(F.col("RowCount").cast("long"), F.lit(-1)).alias("RowCount"),
        )
    )
    master_row = (
        audit.process_master()
        .where(F.col("ProcessID") == pid)
        .select(
            F.lit("RUN").alias("Name"),
            "Status",
            F.lit(-1).cast("long").alias("RowCount"),
        )
    )
    return stage_rows.unionByName(master_row)


@register(
    "l09_schema_evolution_lifecycle",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_quality,
           CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN n_chars ELSE 0 END) AS BIGINT)
             AS quality_chars
    FROM documents
    GROUP BY source
    """,
)
def l09_schema_evolution_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S2/P7] SCHEMA EVOLUTION on the lake certified: an old batch lands
    WITHOUT the ``quality`` column, a later batch lands WITH it (the
    column-added-to-``DW_Column_Config`` scenario — the reference's
    mutable column configs imply exactly this drift), and the merged
    read (``mergeSchema``) must surface old rows with NULL quality while
    new rows keep theirs — no rewrite of already-landed data. The
    certified rollup counts per source how many docs carry the evolved
    column and their char mass, which the oracle replays from the
    batch-membership rule (doc_id % 3 = 0 → evolved batch), so a row
    lost, duplicated, or mis-NULLed by the merge path hash-fails.

    At 100 TB this is the difference between an O(new-batch) append and
    an O(corpus) backfill: evolution must be metadata-only. Spark's
    mergeSchema unions footers at planning time; per-file projection
    fills the missing column with NULL at scan."""
    import os

    tmp = _scratch_dir(spark, "l09")
    path = os.path.join(tmp, "documents")
    d = t(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 3 != 0).select("doc_id", "source", "n_chars")
    new = d.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", "source", "n_chars", F.col("n_chars").cast("long").alias("quality")
    )
    old.write.parquet(path)
    new.write.mode("append").parquet(path)
    from smfg_datawarehouse_spark.sources.lake import read_evolved_parquet

    merged = read_evolved_parquet(spark, path)
    return merged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("quality").isNotNull().cast("long")).cast("long").alias("n_with_quality"),
        F.sum(F.coalesce(F.col("quality"), F.lit(0))).cast("long").alias("quality_chars"),
    )


@register(
    "l10_incremental_agg_maintenance",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    """,
)
def l10_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[A4/T1] INCREMENTAL VIEW MAINTENANCE certified: a per-source
    rollup materialized from the base corpus is refreshed when a delta
    batch arrives by merging the STORED aggregate with the DELTA's
    aggregate — the base rows are never rescanned. Counts and sums are
    self-mergeable (the same partial-aggregate algebra Spark uses
    map-side), so refresh cost is O(delta) + O(|view|) instead of
    O(corpus): at 100 TB that's the difference between a minute and a
    day for every arriving batch. The refreshed view must hash-match the
    oracle's full recompute over the complete corpus — merge drift
    (double counting, lost rows, wrong null handling) fails loudly.

    The same pattern maintains any commutative-monoid aggregate
    (count/sum/min/max, sketches like x47's HLL or x52's quantile
    digests — all mergeable); AVG-style ratios are maintained as
    (sum, count) pairs and divided at read time."""
    import os

    tmp = _scratch_dir(spark, "l10")
    mv_path = os.path.join(tmp, "mv_source_stats")
    d = t(spark, sf_dir, "documents")
    base = d.where(F.col("doc_id") % 3 != 0)
    delta = d.where(F.col("doc_id") % 3 == 0)

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )

    rollup(base).write.parquet(mv_path)  # the standing materialized view
    stored = spark.read.parquet(mv_path)  # refresh reads the VIEW, not base
    return (
        stored.unionByName(rollup(delta))
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_chars").cast("long").alias("total_chars"),
        )
    )


_L11_ORACLE = f"""
    WITH base AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, value FROM events
    ), m AS (SELECT MIN(day) AS d0 FROM base)
    SELECT day, CAST(COUNT(*) AS BIGINT) AS cnt,
           {_dsum_sql("CASE WHEN day = m.d0 THEN value * 2 ELSE value END")}
             AS total_value
    FROM base CROSS JOIN m
    GROUP BY day
"""


@register("l11_dynamic_partition_overwrite", _L11_ORACLE)
def l11_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S2/S7/J3] PARTITION-SCOPED UPDATE via dynamic partition
    overwrite: the events table lands day-partitioned; a restatement
    batch for ONE day (values doubled — a late-correction scenario)
    overwrites in ``partitionOverwriteMode=dynamic``, which replaces
    ONLY the partitions present in the incoming batch. A structural gate
    asserts an untouched partition's file set is byte-name-identical
    after the overwrite (static mode would have truncated the whole
    table — THE classic lake data-loss failure this mode exists to
    prevent), and the per-day rollup read back must hash-match the
    oracle's restated expectation.

    At 100 TB this is how daily restatements ship: O(one partition)
    rewritten, every other partition physically untouched — the
    partition-level complement to l02's row-level MERGE."""
    import os

    tmp = _scratch_dir(spark, "l11")
    path = os.path.join(tmp, "events_by_day")
    e = t(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "value"
    )
    e.write.partitionBy("day").parquet(path)
    days = sorted(
        d.split("=", 1)[1] for d in os.listdir(path) if d.startswith("day=")
    )
    target, untouched = days[0], days[1]
    before = sorted(os.listdir(os.path.join(path, f"day={untouched}")))
    upd = e.where(F.col("day") == target).withColumn("value", F.col("value") * 2)
    (
        upd.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(path)
    )
    after = sorted(os.listdir(os.path.join(path, f"day={untouched}")))
    if before != after:
        raise RuntimeError(
            f"dynamic overwrite touched partition day={untouched}: "
            f"{before} -> {after}"
        )
    return (
        spark.read.parquet(path)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            dsum(F.col("value")).alias("total_value"),
        )
    )


@register(
    "l12_time_travel_read",
    """
    WITH target AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      FROM orders WHERE o_orderdate < DATE '1997-01-01'
    ),
    updates AS (
      SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice, o_orderdate
      FROM orders WHERE o_orderdate >= DATE '1996-01-01'
    ),
    v1 AS (
      SELECT * FROM updates
      UNION ALL
      SELECT * FROM target
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
    )
    SELECT CAST(0 AS BIGINT) AS version, * FROM target
    UNION ALL
    SELECT CAST(1 AS BIGINT) AS version, * FROM v1
    """,
)
def l12_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J3/S7] TIME TRAVEL certification: l02's merge lifecycle, then
    BOTH snapshots are read back from storage — ``read(version=base)``
    (the version ``write`` returned) must still return the exact
    pre-merge state after the merge has swapped CURRENT to the next
    manifest, and ``read()`` must return the merged state. The union
    (tagged 0 = pre-merge, 1 = merged) hash-checks both reads in one
    oracle: a merge that mutated the base files in place, or a version
    pointer that resolves wrongly, fails the hash. This is the
    audit/debugging contract a versioned lake exists for (reproduce
    yesterday's training mix exactly); the reference declares the same
    intent with its
    RecordAdded/RecordUpdated bookkeeping
    (reference/source_code/sql/1. Metadata Creation.sql:133,146).

    Scale shape: each snapshot is a manifest of immutable parquet files
    — each read is a plain pruned scan of exactly that file list; no log
    replay, no copy-on-read. The merge itself is l02's single
    key-shuffle."""
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    o = t(spark, sf_dir, "orders")
    target = o.where("o_orderdate < DATE '1997-01-01'").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    updates = o.where("o_orderdate >= DATE '1996-01-01'").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        "o_orderdate",
    )
    vt = ManifestTable(spark, _scratch_dir(spark, "l12"))
    base = vt.write(target)
    vt.merge(updates, ["o_orderkey"])
    v0 = vt.read(version=base).select(F.lit(0).cast("long").alias("version"), "*")
    v1 = vt.read().select(F.lit(1).cast("long").alias("version"), "*")
    return v0.unionByName(v1)


@register(
    "l13_vacuum_lifecycle",
    """
    WITH target AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      FROM orders WHERE o_orderdate < DATE '1997-01-01'
    ),
    updates AS (
      SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice, o_orderdate
      FROM orders WHERE o_orderdate >= DATE '1996-01-01'
    )
    SELECT * FROM updates
    UNION ALL
    SELECT * FROM target
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
    """,
)
def l13_vacuum_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J3/S7] RETENTION/VACUUM certification, the storage-cost half of
    the versioned-lake contract (l12 proves old versions stay readable;
    this proves they can be RECLAIMED without touching the current one):
    write (version b) → merge (version m) → ``vacuum(keep_last=1)``.
    Structural gates (:func:`_vacuum_certified`) raise if vacuum kept the
    wrong set (``versions()`` must be exactly ``[m]``), if the files only
    b referenced are not exactly the ones vacuum reports removed and
    physically gone, or if b is still readable (time travel to it must
    now fail) — then the surviving current snapshot is read back from
    storage and hash-checked against the same MERGE oracle as l02: a
    vacuum that deleted files out from under m hash-fails, a vacuum
    that missed b raises.

    At 100 TB vacuum IS the cost model — snapshots-forever doubles
    storage every restatement cycle; this certifies eviction is exact
    (newest-k survive, everything else physically gone)."""
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    o = t(spark, sf_dir, "orders")
    target = o.where("o_orderdate < DATE '1997-01-01'").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    updates = o.where("o_orderdate >= DATE '1996-01-01'").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        "o_orderdate",
    )
    vt = ManifestTable(spark, _scratch_dir(spark, "l13"))
    base = vt.write(target)
    merged = vt.merge(updates, ["o_orderkey"])
    _vacuum_certified(vt, evicted=base, keep=[merged])
    return vt.read()


def _vacuum_certified(mt, evicted: int, keep: list[int]) -> None:
    """The retention gate l13 and l21 share: ``vacuum(keep_last=len(keep))``
    must leave exactly the versions ``keep``, report as removed exactly the
    files only ``evicted`` referenced, leave none of them on disk, and make
    time travel to ``evicted`` raise FileNotFoundError."""
    only_evicted = set(mt.manifest(evicted)).difference(*(mt.manifest(v) for v in keep))
    removed = set(mt.vacuum(keep_last=len(keep)))
    on_disk = [f for f in only_evicted if os.path.exists(os.path.join(mt.path, f))]
    if mt.versions() != keep or removed != only_evicted or on_disk:
        raise RuntimeError(
            f"vacuum kept wrong versions or files: left={mt.versions()}, removed "
            f"{len(removed)} files, {len(only_evicted)} evicted, {len(on_disk)} still on disk"
        )
    try:
        mt.read(version=evicted)
    except FileNotFoundError:
        return
    raise RuntimeError(f"vacuumed version {evicted} is still readable")


@register(
    "q86_order_consistency_audit",
    """
    WITH li AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                           AS DECIMAL(30,6))) AS DOUBLE) AS charge
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey, o.o_totalprice, li.charge,
             CASE WHEN li.charge IS NULL THEN CAST(-1 AS BIGINT)
                  ELSE CAST(LEAST(CAST(FLOOR(
                         ABS(o.o_totalprice - li.charge) / o.o_totalprice * 10.0
                       ) AS BIGINT), 10) AS BIGINT) END AS band
      FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS total_declared,
           CAST(SUM(CAST(COALESCE(charge, 0.0) AS DECIMAL(30,6))) AS DOUBLE)
             AS total_derived
    FROM j GROUP BY band
    """,
)
def q86_order_consistency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J4/A4/§2.7] FINANCIAL CONSISTENCY AUDIT between the order header
    and its lines: each order's declared o_totalprice vs the
    lineitem-derived charge (Σ extprice·(1−disc)·(1+tax), exact decimal
    accumulation), bucketed by relative-discrepancy decile (band 10 =
    ≥100% off, band −1 = orders with NO lineitems — the referential
    orphans J4's anti-join would flag). A warehouse load that drifted a
    discount sign, dropped lines, or double-applied tax shows up as mass
    outside band 0 — the aggregate-level data-quality gate that
    complements row-level FK checks (q09), certified against the same
    bands computed by the oracle.

    Determinism: per-order charge is a decimal exact sum cast double;
    the band arithmetic is the identical double expression in both
    engines; totals are decimal sums. Scale shape: ONE key shuffle
    (groupBy l_orderkey) + one join on the same key (co-partitioned —
    AQE plans it without a second lineitem shuffle), then a
    map-side-combined rollup onto ≤ 12 bands."""
    li = t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        dsum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).alias("charge")
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    band = F.when(F.col("charge").isNull(), F.lit(-1).cast("long")).otherwise(
        F.least(
            F.floor(
                F.abs(F.col("o_totalprice") - F.col("charge"))
                / F.col("o_totalprice")
                * 10.0
            ).cast("long"),
            F.lit(10).cast("long"),
        )
    )
    return j.select(band.alias("band"), "o_totalprice", "charge").groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("total_declared"),
        dsum(F.coalesce(F.col("charge"), F.lit(0.0))).alias("total_derived"),
    )


@register(
    "l14_jdbc_extraction_lifecycle",
    f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {_dsum_sql('o_totalprice')} AS total_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_orderdate >= DATE '1997-01-01'
    GROUP BY EXTRACT(year FROM o_orderdate)
    """,
)
def l14_jdbc_extraction_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S1/§2.1] The chunked JDBC extraction certified END-TO-END against
    a REAL database: an orders slice is LOADED into embedded Apache
    Derby through Spark's JDBC sink (4 concurrent insert streams,
    batched prepared statements — the DW-load direction), then EXTRACTED
    back through the engine's range-partitioned JDBC scan
    (``sources/jdbc.py``: 8 bounded slices on o_orderkey, bounded
    fetchsize — the Spark-parallel replacement for the reference's
    serial 100k-row cursor loop,
    reference/source_code/python/airflow_utility/staging_data_extraction.py:83-106),
    and the extracted rows are aggregated and hash-checked against the
    oracle computed straight from parquet. Any drift in the JDBC type
    round-trip (DOUBLE, DATE, BIGINT), partition-slice union, or
    pushdown surfaces as a hash mismatch. Derby is in Spark's JVM by
    default (the Hive-metastore store), so this runs the SAME
    DriverManager code path a MySQL/Postgres URL takes on a production
    cluster — only the URL differs.

    Scale shape: the partitioned read opens N bounded cursors
    concurrently (memory per connection bounded by fetchsize); the
    rollup is a map-side-combined groupBy onto |years| rows."""
    import os

    from smfg_datawarehouse_spark.sources.jdbc import jdbc_reader_options, read_jdbc

    jvm = spark._jvm
    # Embedded Derby keeps a booted database pinned in the JVM; clearing
    # the scratch dir under a booted DB leaves the engine pointing at
    # deleted files ("ERROR 08003: No current connection" on the next
    # invocation). Shut the previous invocation's DB down FIRST — a
    # successful shutdown itself raises (SQLState 08006, by Derby design).
    prev = os.path.join(_scratch_path(spark, "l14"), "db")
    try:
        jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{prev};shutdown=true")
    except Exception:
        pass  # 08006 on success; also lands here if nothing was booted

    db_path = os.path.join(_scratch_dir(spark, "l14"), "db")
    url = f"jdbc:derby:{db_path}"
    try:
        jvm.java.sql.DriverManager.getConnection(url + ";create=true").close()
    except Exception:  # driver not auto-registered in this JVM yet
        jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
        jvm.java.sql.DriverManager.getConnection(url + ";create=true").close()

    o = t(spark, sf_dir, "orders").where(
        "o_orderdate >= DATE '1997-01-01'"
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    (
        o.repartition(4)
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", "orders_stage")
        .option("batchsize", "5000")
        .mode("overwrite")
        .save()
    )
    bounds = o.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).collect()[0]
    opts = jdbc_reader_options(
        url,
        "orders_stage",
        is_query=False,
        partition_column="o_orderkey",
        lower_bound=int(bounds["lo"]),
        upper_bound=int(bounds["hi"]) + 1,
        num_partitions=8,
        fetch_size=100_000,
    )
    back = read_jdbc(spark, opts)
    return back.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("total_price"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )


@register(
    "l15_snapshot_diff",
    """
    WITH v0 AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
      FROM orders WHERE o_orderdate < DATE '1997-01-01'
    ),
    v1 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderdate >= DATE '1996-06-01'
                  THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
             o_orderdate
      FROM orders WHERE o_orderdate >= DATE '1995-01-01'
    )
    SELECT CASE WHEN v0.o_orderkey IS NULL THEN 'insert'
                WHEN v1.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           COALESCE(v0.o_orderkey, v1.o_orderkey) AS o_orderkey,
           v0.o_custkey AS old_o_custkey, v1.o_custkey AS new_o_custkey,
           v0.o_totalprice AS old_o_totalprice,
           v1.o_totalprice AS new_o_totalprice,
           v0.o_orderdate AS old_o_orderdate, v1.o_orderdate AS new_o_orderdate
    FROM v0 FULL OUTER JOIN v1 ON v0.o_orderkey = v1.o_orderkey
    WHERE NOT (v0.o_orderkey IS NOT NULL AND v1.o_orderkey IS NOT NULL
               AND v0.o_custkey IS NOT DISTINCT FROM v1.o_custkey
               AND v0.o_totalprice IS NOT DISTINCT FROM v1.o_totalprice
               AND v0.o_orderdate IS NOT DISTINCT FROM v1.o_orderdate)
    """,
)
def l15_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J3/S7] CDC SNAPSHOT DIFF certified — the changelog half of the
    versioned-lake contract (l12 proves old versions stay READABLE; this
    proves the change set BETWEEN two versions is derivable exactly):
    v0 = pre-1997 orders; v1 = a restatement that PURGES pre-1995 rows
    (retention), DOUBLES totals from 1996-06 on (correction), and lands
    the 1997+ rows (new data). ``ManifestTable.diff`` classifies every
    key as insert/delete/update/unchanged via ONE full outer join with
    null-safe column comparison; the emitted change rows (unchanged
    excluded — this is what a downstream consumer replays) hash-check
    against a literal FULL OUTER JOIN oracle. This is the Delta
    CDF / Iceberg-changelog capability on manifest-committed parquet —
    no log, works between ANY two committed versions.

    Scale shape: one key-partitioned shuffle per side feeding a single
    sort-merge full outer join; column comparison is codegen'd per row.
    At 100 TB the diff of two snapshots costs the same as one big join —
    no per-merge log replay, and bucketing both snapshots by the merge
    keys would eliminate even that shuffle."""
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    o = t(spark, sf_dir, "orders")
    v0 = o.where("o_orderdate < DATE '1997-01-01'").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    v1 = o.where("o_orderdate >= DATE '1995-01-01'").select(
        "o_orderkey",
        "o_custkey",
        F.when(
            F.col("o_orderdate") >= F.to_date(F.lit("1996-06-01")),
            F.col("o_totalprice") * 2,
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderdate",
    )
    vt = ManifestTable(spark, _scratch_dir(spark, "l15"))
    old, new = vt.write(v0), vt.write(v1)
    return (
        vt.diff(old, new, ["o_orderkey"])
        .where("change_type <> 'unchanged'")
        .select(
            "change_type",
            "o_orderkey",
            "old_o_custkey",
            "new_o_custkey",
            "old_o_totalprice",
            "new_o_totalprice",
            "old_o_orderdate",
            "new_o_orderdate",
        )
    )


@register(
    "l16_changelog_replay",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderdate >= DATE '1996-06-01'
                THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
           o_orderdate
    FROM orders WHERE o_orderdate >= DATE '1995-01-01'
    """,
)
def l16_changelog_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J3/S7] CHANGELOG REPLAY certified — the CONSUMER side of l15's
    CDC contract: ``apply_changeset(v0, diff(v0, v1)) == v1``. A replica
    holding only v0 plus the change rows reconstructs v1 exactly —
    deletes anti-joined out, inserts/updates merged in — and the
    reconstruction is (a) gated in-engine against the stored v1
    (count + exceptAll must both agree; a lossy diff or a wrong apply
    raises here) and (b) hash-checked against the restatement oracle.
    Together l15+l16 prove the changelog is complete AND sufficient:
    nothing the diff emits is wrong, and nothing it omits is needed.

    Scale shape: replay costs O(base + changes) — one anti-join shuffle
    and one merge shuffle, both on the table key; the replica never
    rescans the source table. This is the snapshot-replication pattern
    (Delta CDF consumers, cross-region replicas) on manifest-committed
    parquet."""
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable
    from smfg_datawarehouse_spark.transform import apply_changeset

    o = t(spark, sf_dir, "orders")
    v0 = o.where("o_orderdate < DATE '1997-01-01'").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    v1 = o.where("o_orderdate >= DATE '1995-01-01'").select(
        "o_orderkey",
        "o_custkey",
        F.when(
            F.col("o_orderdate") >= F.to_date(F.lit("1996-06-01")),
            F.col("o_totalprice") * 2,
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderdate",
    )
    vt = ManifestTable(spark, _scratch_dir(spark, "l16"))
    old, new = vt.write(v0), vt.write(v1)
    changes = vt.diff(old, new, ["o_orderkey"]).where("change_type <> 'unchanged'")
    rec = apply_changeset(vt.read(old), changes, ["o_orderkey"]).persist()
    try:
        stored = vt.read(new)
        n_rec, n_v1 = rec.count(), stored.count()
        n_extra = rec.exceptAll(stored).count()
        if n_rec != n_v1 or n_extra:
            raise RuntimeError(
                f"changelog replay diverged: reconstructed {n_rec} rows vs "
                f"stored {n_v1}, {n_extra} rows not in v1"
            )
    finally:
        # the persist only serves the two-count replay gate; release the
        # cached partitions so repeated invocations in a long-lived app
        # don't accumulate executor memory (the returned plan recomputes,
        # which is fine — callers materialize once)
        rec.unpersist()
    return rec


@register(
    "l17_manifest_commit_lifecycle",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def l17_manifest_commit_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S3/S7] MANIFEST-COMMIT table lifecycle — the object-store-safe
    commit protocol (Delta/Iceberg's core on plain parquet;
    ``sources/manifest.py``), certifying the answer to the compaction race
    of a directory swap (a reader that listed the files before the swap
    loses them): data files are immutable, a commit is an atomic
    single-object CURRENT swap, and compaction never deletes what a
    reader might hold.

    Lifecycle, each transition gated in-engine (raise loudly, never
    hash-fail mysteriously):

    1. ``write`` (orders before 1996) → ``append`` (the rest): manifest
       v2 must reference both batches' files.
    2. ``compact()`` → v3 with strictly fewer files; the PRE-compaction
       snapshot ``read(2)`` must still return identical counts AFTER the
       compaction commit — snapshot isolation, the property a directory
       swap cannot give.
    3. ``vacuum(keep_last=1)`` must remove exactly the files v3 does not
       reference, after which ``read(2)`` must fail (retention expired)
       while ``read()`` still serves v3.

    The returned priority rollup over the post-vacuum table hash-matches
    the oracle over the raw fixture — the whole commit/compact/vacuum
    chain is content-preserving."""
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    tmp = _scratch_dir(spark, "l17")
    mt = ManifestTable(spark, os.path.join(tmp, "orders_mt"))
    o = t(spark, sf_dir, "orders")
    mt.write(o.where("o_orderdate < DATE '1996-01-01'").repartition(4))
    v2 = mt.append(o.where("o_orderdate >= DATE '1996-01-01'").repartition(4))
    files_v2 = set(mt.manifest(v2))
    if len(files_v2) < 8:
        raise RuntimeError(f"append manifest lists {len(files_v2)} files, expected >=8")
    n_v2 = mt.read(v2).count()
    v3 = mt.compact(target_file_bytes=10 * 1024 * 1024 * 1024)
    files_v3 = set(mt.manifest(v3))
    if not (len(files_v3) == 1 and files_v3.isdisjoint(files_v2)):
        raise RuntimeError("compaction must commit one fresh file, touching none")
    # snapshot isolation: the pre-compaction manifest still fully readable
    if mt.read(v2).count() != n_v2:
        raise RuntimeError("pre-compaction snapshot changed under compaction")
    removed = set(mt.vacuum(keep_last=1))
    if removed != files_v2:
        raise RuntimeError(f"vacuum removed {removed ^ files_v2} unexpectedly")
    try:
        mt.read(v2).count()
        raise RuntimeError("expired snapshot v2 still readable after vacuum")
    except Exception as exc:
        if isinstance(exc, RuntimeError):
            raise
        pass  # expected: v2's files are gone
    return (
        mt.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
    )


@register(
    "l18_zonemap_pruned_scan",
    f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {_dsum_sql('o_totalprice')} AS total_price
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
    GROUP BY o_orderpriority
    """,
)
def l18_zonemap_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S2/S3] Sorted layout with a per-file ZONE MAP, then a pruned
    range scan: orders are range-partitioned and sorted by o_orderdate
    into 8 files and committed as one :class:`ManifestTable` version;
    ``ManifestTable.file_ranges`` gives each file's min/max zone, and a
    one-year predicate then reads (``read_files``) ONLY the files whose
    zone intersects it. The engine RAISES unless pruning actually skipped
    files (the property being certified — a zone map that never skips is
    a no-op), the exact predicate is re-applied after pruning (zone maps
    are conservative), and the rollup hash-matches a plain filtered scan
    of the raw fixture. This is the file-granularity layout/skipping
    discipline that turns a 100 TB time-range query into a 1% read;
    within each chosen file, parquet row-group stats (tight, because
    sorted) let Spark's reader skip further. Reference intent: the
    consolidated ordered extract of ``staging_data_extraction.py:30-80``,
    re-done so the ordering pays off at read time."""
    import datetime

    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    mt = ManifestTable(spark, os.path.join(_scratch_dir(spark, "l18"), "orders_sorted"))
    o = t(spark, sf_dir, "orders")
    mt.write(o.repartitionByRange(8, F.col("o_orderdate")).sortWithinPartitions("o_orderdate"))
    zones = mt.file_ranges("o_orderdate")

    # fixture o_orderdate is parquet timestamp — bound with the same type
    lo = datetime.datetime(1996, 1, 1)
    end = datetime.datetime(1997, 1, 1)
    keep = [z["file"] for z in zones if z["lo"] < end and z["hi"] >= lo]
    if len(keep) >= len(zones):
        raise RuntimeError(
            f"zone map skipped nothing ({len(keep)}/{len(zones)} files read)"
        )
    return (
        mt.read_files(keep)
        .where(
            (F.col("o_orderdate") >= F.lit(lo)) & (F.col("o_orderdate") < F.lit(end))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
    )


@register(
    "l19_salted_skew_join",
    f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {_dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def l19_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J1/J2 skew tier] SALTED equi-join certified identical to the
    plain join (``functions/skew.salted_join``): the fact side salts each
    row into one of 8 sub-keys by deterministic ``xxhash64`` (replay- and
    partition-invariant — retries salt identically), the dim side is
    exploded ×8, and the join runs on (key, salt) so one hot key's rows
    spread across 8 tasks instead of stalling one straggler. The oracle
    is the UNSALTED join — the whole point is bit-identical results with
    a bounded per-task key volume. This is the manual fallback tier for
    the skew AQE can't fix (e.g. a downstream groupBy on the hot key, or
    engines/stages where AQE skew-split doesn't apply); the engine's
    default path stays plain + AQE. Uniform fixture keys don't exercise
    the *imbalance*, so ``tests/test_skew.py`` additionally pins behavior
    under a forced hot key; this query certifies end-to-end value
    equality through the driver contract."""
    from smfg_datawarehouse_spark.functions.skew import salted_join

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_partkey"
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, o, ["l_orderkey"], salt_from=F.col("l_partkey"))
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
    )


_L32_ORACLE = f"""
    WITH bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS dmin, MAX(CAST(ts AS DATE)) AS dmax
      FROM events
    )
    SELECT CAST(e.ts AS DATE) AS probe_day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(e.value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_micros
    FROM events e CROSS JOIN bounds b
    WHERE CAST(e.ts AS DATE) = b.dmin OR CAST(e.ts AS DATE) = b.dmax
    GROUP BY 1
"""


@register("l32_partition_evolution", _L32_ORACLE)
def l32_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S2/S5] PARTITION-SPEC EVOLUTION certified — the Iceberg capability
    plain Hive layouts lack: a table's partitioning changes (week → day)
    WITHOUT rewriting history. Old data stays week-partitioned, data
    after the cutoff lands day-partitioned in its own root, and a reader
    is the union of both roots with the probe predicate rewritten to each
    root's OWN partition column (the spec-aware predicate rewrite an
    evolution-capable catalog performs). The cert probes one day in each
    era and RAISES unless file-level pruning matched each era's
    granularity exactly: the old-era probe must touch ONLY its week
    directory (and the pre-cutoff era must span >1 week, so pruning is
    non-trivial), the new-era probe ONLY its day directory. The hash gate
    re-checks content against the raw fixture.

    At 100 TB this is how a table migrates to finer partitioning as it
    grows: O(0) rewrite at evolution time; queries pay coarse-granularity
    reads only on pre-cutoff history, which ages out with retention
    (l24). Driver-side work is two bounded scalar reads (date bounds,
    file lists)."""
    import os

    from smfg_datawarehouse_spark.sources.lake import write_partitioned

    base = _scratch_dir(spark, "l32")
    e = load_events(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    dmin, dmax = e.agg(
        F.min(F.to_date("ts")), F.max(F.to_date("ts"))
    ).first()
    cutoff = dmin + (dmax - dmin) / 2

    old_root = os.path.join(base, "events_by_week")
    new_root = os.path.join(base, "events_by_day")
    write_partitioned(
        e.where(F.to_date("ts") <= F.lit(cutoff)).withColumn(
            "pweek", F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd")
        ),
        old_root,
        ["pweek"],
    )
    write_partitioned(
        e.where(F.to_date("ts") > F.lit(cutoff)).withColumn(
            "pday", F.date_format("ts", "yyyy-MM-dd")
        ),
        new_root,
        ["pday"],
    )
    n_weeks = sum(1 for d in os.listdir(old_root) if d.startswith("pweek="))
    if n_weeks < 2:
        raise RuntimeError(
            f"pre-cutoff era spans {n_weeks} week(s) — coarse pruning "
            "would be vacuous; widen the fixture or lower the cutoff"
        )

    def probe(root, pcol, pval, day):
        r = (
            spark.read.parquet(root)
            .where(F.col(pcol) == pval)  # the spec-aware pruning predicate
            .where(F.to_date("ts") == F.lit(day))  # exactness within it
        )
        dirs = {
            row[0].split(f"{pcol}=")[1].split("/")[0]
            for row in r.select(F.input_file_name()).distinct().collect()
        }
        if dirs != {pval}:
            raise RuntimeError(
                f"probe of {pcol}={pval} read partitions {sorted(dirs)} — "
                "pruning did not hold at the era's granularity"
            )
        return r

    import datetime as _dt

    wk = dmin - _dt.timedelta(days=dmin.weekday())  # Monday of dmin's ISO week
    old_probe = probe(old_root, "pweek", wk.strftime("%Y-%m-%d"), dmin)
    new_probe = probe(new_root, "pday", dmax.strftime("%Y-%m-%d"), dmax)
    both = old_probe.drop("pweek").unionByName(new_probe.drop("pday"))
    return both.groupBy(F.to_date("ts").alias("probe_day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(micro("value"))
        .cast("long")
        .alias("total_micros"),
    )


_L34_ORACLE = """
    WITH bounds AS (SELECT MIN(CAST(ts AS DATE)) AS dmin FROM events)
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(e.value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_micros
    FROM events e CROSS JOIN bounds b
    WHERE CAST(e.ts AS DATE) BETWEEN b.dmin AND b.dmin + INTERVAL 2 DAY
    GROUP BY e.event_type
"""


@register("l34_sorted_compaction", _L34_ORACLE)
def l34_sorted_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S3] CLUSTERING-PRESERVING COMPACTION certified
    (``sources/manifest.ManifestTable.compact_sorted``): the events table
    lands in a manifest table TIME-SORTED across 12 small files with
    disjoint per-file ranges (zone maps at full selectivity), then
    compacts 12 → 4 by merging only ADJACENT files in key order, committed
    by one CURRENT swap. The cert RAISES unless (a) the manifest's file
    count actually dropped to target, (b) the compacted zone maps are still
    PAIRWISE DISJOINT — a size-only compaction interleaves ranges and
    silently destroys file skipping, the exact regression this pass
    prevents (l30 certifies zero-copy cost; this certifies preserved
    SELECTIVITY), and (c) a 3-day probe over the compacted layout still
    prunes files. The zone maps come from ``ManifestTable.file_ranges``
    and the probe reads the kept files with ``read_files``. The hash gate
    checks the probed rollup against the raw fixture.

    At 100 TB this is the nightly OPTIMIZE of a time-series table: plan
    over per-file min/max metadata only, rewrite cost O(table/target),
    and the reader's skip rate survives the rewrite."""
    import datetime as _dt
    import os

    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    base = _scratch_dir(spark, "l34")
    mt = ManifestTable(spark, os.path.join(base, "events_sorted"))
    e = load_events(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    v0 = mt.write(e.repartitionByRange(12, F.col("ts")).sortWithinPartitions("ts"))

    v1 = mt.compact_sorted("ts", target_files=4)
    n_before, n_after = len(mt.manifest(v0)), len(mt.manifest(v1))
    if (n_before, n_after) != (12, 4):
        raise RuntimeError(f"compaction layout unexpected: {n_before} -> {n_after}")

    zs = sorted(mt.file_ranges("ts"), key=lambda z: z["lo"])
    for a, b in zip(zs, zs[1:]):
        if b["lo"] <= a["hi"]:
            raise RuntimeError(
                "sorted compaction interleaved key ranges: "
                f"[{a['lo']}, {a['hi']}] overlaps [{b['lo']}, {b['hi']}]"
            )

    (dmin,) = e.agg(F.min(F.to_date("ts"))).first()
    lo = _dt.datetime.combine(dmin, _dt.time.min)
    hi = _dt.datetime.combine(dmin + _dt.timedelta(days=2), _dt.time.max)
    keep = [z["file"] for z in zs if z["lo"] <= hi and z["hi"] >= lo]
    if not 0 < len(keep) < len(zs):
        raise RuntimeError(f"zone pruning vacuous after compaction: {len(keep)}/{len(zs)}")
    return (
        mt.read_files(keep)
        .where(
            (F.to_date("ts") >= F.lit(dmin))
            & (F.to_date("ts") <= F.lit(dmin + _dt.timedelta(days=2)))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(micro("value"))
            .cast("long")
            .alias("total_micros"),
        )
    )


#: (column, MIN/MAX cast) — timestamps go through a DATE cast so the
#: min/max strings format identically in both engines (portable only
#: because the fixture's o_orderdate is day-aligned; a sub-day value
#: would be truncated identically on both sides either way).
_L35_COLS = [
    ("o_orderkey", None),
    ("o_custkey", None),
    ("o_orderstatus", None),
    ("o_orderpriority", None),
    ("o_orderdate", "date"),
]

_L35_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST({f"CAST(MIN({c}) AS DATE)" if cast == "date" else f"MIN({c})"}
                AS VARCHAR) AS min_val,
           CAST({f"CAST(MAX({c}) AS DATE)" if cast == "date" else f"MAX({c})"}
                AS VARCHAR) AS max_val,
           CAST(COUNT(DISTINCT {c}) AS DOUBLE) / COUNT(*) AS ndv_ratio
    FROM orders
    """
    for c, cast in _L35_COLS
)


@register("l35_column_stats_analyze", _L35_ORACLE)
def l35_column_stats_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S4/L] ANALYZE-TABLE STATISTICS lifecycle — the catalog-side
    column statistics every cost-based planner consumes (exact NDV,
    null count, min/max, NDV ratio) computed for the orders table's
    key/dimension columns, PERSISTED as a stats artifact beside the
    table (the lakehouse ``ANALYZE TABLE ... COMPUTE STATISTICS FOR
    COLUMNS`` layout), then RELOADED and served from the artifact — the
    round-trip a catalog does between planning sessions. The reference's
    metadata catalog drives extraction from exactly this kind of
    per-column registry (SURVEY §2.1 S4; `Metadata_Master` fields at
    `Staging_Extraction_Metadata_Query.sql:4-19`); this adds the
    statistics layer Spark's CBO reads (`spark.sql.cbo.enabled` joins
    reorder off these NDVs, and a dimension whose ndv_ratio ~ 1 on a
    small n_rows is the broadcast-join candidate).

    Scale shape: one scan computing all five columns' aggregates
    (Spark pipelines the five unioned aggregates over one exchange
    each; production would fuse them into one pass — at sf the fixture
    cost is identical), each map-side combined; the artifact is
    |columns| rows regardless of table size. Exact NDV, not HLL — the
    certifiable form; x47 certifies the sketch path where exactness is
    traded away."""
    src = _scratch_dir(spark, "l35")
    orders = t(spark, sf_dir, "orders")
    outs = []
    for c, cast in _L35_COLS:
        mn, mx = F.min(F.col(c)), F.max(F.col(c))
        if cast == "date":
            mn, mx = mn.cast("date"), mx.cast("date")
        outs.append(
            orders.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_nulls"),
                F.countDistinct(F.col(c)).cast("long").alias("n_distinct"),
                mn.cast("string").alias("min_val"),
                mx.cast("string").alias("max_val"),
                (
                    F.countDistinct(F.col(c)).cast("double") / F.count(F.lit(1))
                ).alias("ndv_ratio"),
            ).select(F.lit(c).alias("column_name"), "*")
        )
    stats = outs[0]
    for o in outs[1:]:
        stats = stats.unionByName(o)
    path = os.path.join(src, "stats")
    stats.write.mode("overwrite").parquet(path)
    reloaded = spark.read.parquet(path)
    if reloaded.count() != len(_L35_COLS):
        raise RuntimeError("l35: stats artifact row count drifted")
    return reloaded


_L36_ORACLE = f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {_dsum_sql('o_totalprice')} AS revenue
    FROM orders GROUP BY 1
"""


@register("l36_mv_tail_serving", _L36_ORACLE)
def l36_mv_tail_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S7/A4/T1] MATERIALIZED-VIEW + TAIL SERVING lifecycle — the
    lambda-serving shape every warehouse ends up running: the monthly
    revenue rollup is MATERIALIZED to parquet for all history before a
    refresh cutover (the MV's high-water mark, the same T1 watermark
    contract ``incremental.py`` tracks), and a query is answered by
    COMBINING the reloaded MV with an at-query-time rollup of only the
    raw tail (rows at/after the cutover) — so serving cost is
    |MV groups| + |tail scan|, never a full-history rescan, and the MV
    refresh cadence is decoupled from data arrival. Certified against
    the full recompute oracle: MV ⊎ tail must be indistinguishable from
    scanning everything.

    Exactness across the seam: the MV persists DECIMAL(30,6) partial
    sums (never doubles — summing doubles twice would drift vs the
    one-pass oracle); the combine re-SUMs decimal partials and casts to
    double once at the end, bit-identical to ``_dsum_sql`` over the
    whole table. RAISE-gated on both sides contributing groups, so the
    cert can't pass with an empty MV or an empty tail.

    Scale shape: the MV build is one month-keyed map-combined agg over
    history (run once per refresh, not per query); serving scans ONLY
    tail files (at 100 TB: a partition-pruned read of the current month)
    plus the group-count-sized MV; the combine shuffles |groups| rows."""
    scratch = _scratch_dir(spark, "l36")
    mv_path = os.path.join(scratch, "mv_monthly_revenue")
    orders = t(spark, sf_dir, "orders")
    # Cutover = the LATEST month in the data (tail = current month, MV =
    # all history before it) — the production high-water mark a refresh
    # ledger records, derived instead of hardcoded so a regenerated
    # fixture with a different date range can never make the split
    # vacuous (ADVICE r6). One bounded scalar agg (the refresh-time
    # metadata read); the oracle is the cutover-independent full
    # recompute, so the derivation can't affect parity.
    cut_ts = orders.agg(
        F.date_trunc("month", F.max("o_orderdate")).alias("cut")
    ).first()["cut"]
    cut = F.lit(cut_ts).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("month")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(exact("o_totalprice")).alias("rev_partial"),
        )

    # refresh: materialize history below the cutover, with the decimal
    # partials preserved in the artifact
    partial(orders.where(F.col("o_orderdate") < cut)).write.mode(
        "overwrite"
    ).parquet(mv_path)

    mv = spark.read.parquet(mv_path)
    tail = partial(orders.where(F.col("o_orderdate") >= cut))
    n_mv, n_tail = mv.count(), tail.count()
    if n_mv == 0 or n_tail == 0:
        raise RuntimeError(
            f"MV/tail split is vacuous: mv_groups={n_mv} tail_groups={n_tail}"
        )
    return (
        mv.unionByName(tail)
        .groupBy("month")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("rev_partial").cast("double").alias("revenue"),
        )
    )


_L37_ORACLE = """
    SELECT event_id, user_id, ts, event_type, value
    FROM (
      SELECT event_id, user_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
"""


@register("l37_changelog_replay", _L37_ORACLE)
def l37_changelog_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J3/S7/T1] CHANGELOG REPLAY RECONSTRUCTION — the consumer side of
    CDC: a downstream system that never sees the table, only the v0
    snapshot plus the per-version change sets (``ManifestTable.diff`` —
    the Delta CDF / Iceberg changelog equivalent), must reconstruct the
    current state EXACTLY. The dimension is built as three precedence
    merges (latest event per user over three event-time thirds), then
    REPLAYED: start from the first committed snapshot, apply the diff
    of each consecutive pair of ``versions()`` (delete keys dropped,
    insert/update new-images upserted), RAISE if the replay differs from
    the newest snapshot in either direction, and return
    the replayed frame hash-checked against the batch latest-per-user
    oracle. l15 certifies the diff's row classification; this certifies
    the diff's COMPLETENESS — any change the diff misses or duplicates
    breaks the reconstruction, which is the property CDC consumers
    actually rely on.

    Scale shape: each replay step is key-shuffled set algebra (one
    anti-join + one union per diff) — the cost a real CDC consumer pays;
    diffs come from one full-outer join per version pair; nothing
    corpus²."""
    src = _scratch_dir(spark, "l37")
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    ev = load_events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    t1 = lo + (hi - lo) / 3
    t2 = lo + 2 * (hi - lo) / 3

    def latest(df: DataFrame) -> DataFrame:
        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1")
            .drop("_rn")
        )

    vt = ManifestTable(spark, os.path.join(src, "dim"))
    vt.write(latest(ev.where(F.col("ts") < F.lit(t1))))
    vt.merge(
        latest(ev.where((F.col("ts") >= F.lit(t1)) & (F.col("ts") < F.lit(t2)))),
        ["user_id"],
        precedence=["ts", "event_id"],
    )
    vt.merge(
        latest(ev.where(F.col("ts") >= F.lit(t2))),
        ["user_id"],
        precedence=["ts", "event_id"],
    )
    versions = vt.versions()
    if len(versions) != 3:
        raise RuntimeError(f"expected 3 committed versions, got {versions}")

    cols = ["event_id", "user_id", "ts", "event_type", "value"]
    state = vt.read(versions[0])
    for v_from, v_to in zip(versions, versions[1:]):
        d = vt.diff(v_from, v_to, ["user_id"])
        new_images = d.where(
            F.col("change_type").isin("insert", "update")
        ).select(
            "user_id",
            *[F.col(f"new_{c}").alias(c) for c in cols if c != "user_id"],
        ).select(*cols)
        gone_keys = d.where(
            F.col("change_type").isin("delete", "insert", "update")
        ).select("user_id")
        state = (
            state.join(gone_keys, "user_id", "left_anti")
            .select(*cols)
            .unionByName(new_images)
        )

    # The replay chain is consumed by every gate below AND the returned
    # frame: checkpoint it so the 2-diff lineage runs once, not per action.
    state = state.localCheckpoint(eager=True)
    direct = vt.read(versions[-1]).select(*cols)
    # Both-direction equality, paid as ONE exceptAll: with |state| ==
    # |direct| (cheap counts), empty state∖direct implies empty
    # direct∖state for multisets — the second exceptAll only ever ran to
    # re-prove the count check (VERDICT r8 item 1).
    n_state, n_direct = state.count(), direct.count()
    if n_state != n_direct:
        raise RuntimeError(
            f"replay drifted from direct read: {n_state} vs {n_direct} rows"
        )
    drift = state.exceptAll(direct).count()
    if drift != 0:
        raise RuntimeError(f"replay drifted from direct read: {drift} rows")
    return state


# ---------------------------------------------------------------------------
# l38: orphan-file audit — the table-maintenance sweep every manifest
# lakehouse schedules (Iceberg's remove_orphan_files / Delta's FSCK):
# reconcile what the manifest CLAIMS against what the filesystem HOLDS,
# in both directions. Orphans (on disk, never committed — a failed
# writer's leftovers) silently leak storage; referenced-but-missing
# files (manifest points at nothing) break every future reader, and the
# audit must find them BEFORE a query does.
# ---------------------------------------------------------------------------

_L38_ORACLE = """
    SELECT 'orphan' AS status, CAST(1 AS BIGINT) AS n_files
    UNION ALL
    SELECT 'referenced_missing', CAST(1 AS BIGINT)
    UNION ALL
    SELECT 'referenced_present',
           CAST(COUNT(DISTINCT r_regionkey) - 1 AS BIGINT)
    FROM region
"""


@register("l38_orphan_file_audit", _L38_ORACLE)
def l38_orphan_file_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S3/S4/L] ORPHAN-FILE AUDIT lifecycle: build a manifest table with
    one committed file per region (|regions| append commits through the
    real ManifestTable protocol), then inject BOTH failure modes a
    maintenance sweep exists to catch — an uncommitted leftover data
    file (simulated failed writer: bytes on disk, no manifest row) and a
    referenced file deleted out from under the manifest (external
    interference) — and reconcile directory listing vs manifest in both
    directions. Returns the audit rollup (status × file count); the
    oracle derives the present count from the region table, so a
    commit-protocol change that alters file counts cannot silently pass.

    Scale shape: the audit is METADATA work — manifest read is
    O(committed files), the listing is the storage inventory every
    lakehouse maintenance job already pays (parallelizable by prefix at
    100 TB), and the reconciliation is one set difference each way on
    relative paths; no data file is opened. The engine-side listing here
    is a bounded driver walk over the scratch table dir."""
    import shutil

    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    scratch = _scratch_dir(spark, "l38")
    mt = ManifestTable(spark, os.path.join(scratch, "tbl"))
    orders = t(spark, sf_dir, "orders")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    keys = sorted(
        r["r_regionkey"] for r in region.select("r_regionkey").collect()
    )
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("n_nationkey")
    )
    per_region = (
        orders.select("o_custkey", "o_totalprice")
        .join(cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
        .join(
            F.broadcast(
                nation.select("n_nationkey", F.col("n_regionkey").alias("rk"))
            ),
            "n_nationkey",
        )
        .groupBy("rk")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    ).localCheckpoint(eager=False)  # |regions| rows; appended per key
    for k in keys:
        mt.append(per_region.where(F.col("rk") == k).coalesce(1))
    manifest = set(mt.manifest())
    if len(manifest) != len(keys):
        raise RuntimeError(
            f"l38 expected {len(keys)} committed files, got {len(manifest)}"
        )
    data_root = os.path.join(mt.path, "data")
    # failure mode 1: a failed writer's uncommitted leftover
    any_file = os.path.join(mt.path, sorted(manifest)[-1])
    orphan_rel = os.path.join("data", "batch-1", "leftover-uncommitted.parquet")
    shutil.copyfile(any_file, os.path.join(mt.path, orphan_rel))
    # failure mode 2: a referenced file deleted externally
    os.remove(os.path.join(mt.path, sorted(manifest)[0]))

    on_disk = set()
    for root, _dirs, files in os.walk(data_root):
        for f in files:
            if f.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(root, f), mt.path)
                on_disk.add(rel)
    orphans = on_disk - manifest
    missing = manifest - on_disk
    present = manifest & on_disk
    return local_rows_df(
        spark,
        [
            ("orphan", len(orphans)),
            ("referenced_missing", len(missing)),
            ("referenced_present", len(present)),
        ],
        "status string, n_files long",
    )


# ---------------------------------------------------------------------------
# l39: sorted-run overlap-depth audit — the read-amplification metric
# that DRIVES compaction scheduling (Iceberg/Delta "clustering depth",
# LSM level-0 run count): for a time-filtered probe, how many files can
# one timestamp force a reader to open? l34 certifies the compaction
# that fixes deep overlap; this certifies the MEASUREMENT that decides
# when to run it, contrasting a hash-appended layout (every run spans
# the whole time range — depth = run count) against a time-clustered
# layout (depth 1) built from the same rows.
# ---------------------------------------------------------------------------

_L39_RUNS = 4

_L39_ORACLE = f"""
    WITH ev AS (
      SELECT user_id % {_L39_RUNS} AS run_id,
             epoch_us(ts) AS tsu, event_id,
             NTILE({_L39_RUNS}) OVER (ORDER BY ts, event_id) AS quartile
      FROM events
    ),
    hash_runs AS (
      SELECT run_id, MIN(tsu) AS lo, MAX(tsu) AS hi FROM ev GROUP BY run_id
    ),
    time_runs AS (
      SELECT quartile, MIN(tsu) AS lo, MAX(tsu) AS hi FROM ev GROUP BY quartile
    ),
    pts AS (
      SELECT 'hash_appended' AS layout, lo AS pos, 1 AS delta FROM hash_runs
      UNION ALL
      SELECT 'hash_appended', hi, -1 FROM hash_runs
      UNION ALL
      SELECT 'time_clustered', lo, 1 FROM time_runs
      UNION ALL
      SELECT 'time_clustered', hi, -1 FROM time_runs
    ),
    depth AS (
      SELECT layout,
             SUM(delta) OVER (PARTITION BY layout
                              ORDER BY pos, delta DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS d
      FROM pts
    )
    SELECT p.layout,
           CAST({_L39_RUNS} AS BIGINT) AS n_runs,
           CAST(MAX(d.d) AS BIGINT) AS max_overlap_depth
    FROM (SELECT DISTINCT layout FROM pts) p
    JOIN depth d ON d.layout = p.layout
    GROUP BY p.layout
"""


@register("l39_overlap_depth_audit", _L39_ORACLE)
def l39_overlap_depth_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S3/S4] SORTED-RUN OVERLAP-DEPTH AUDIT: the events table is
    written twice through real file layouts — (a) 4 hash-keyed
    append runs (each internally time-sorted but spanning the whole
    range: the arrival-order layout every streaming ingest produces)
    and (b) 4 time-quartile clustered runs — then per-FILE
    [min_ts, max_ts] ranges are read back from the actual written files
    (input_file_name grouping, the footer-stats view a manifest keeps)
    and the MAX STABBING DEPTH (how many files one probe timestamp can
    force open) is computed via the +1/−1 interval sweep. Hash layout
    must audit at depth = run count, clustered at 1 — the number that
    tells a compaction scheduler which tables are worth an l34 pass.

    Determinism: the quartile split uses NTILE over (ts, event_id) —
    total order, both engines agree; depths are integer prefix sums
    over ≤2·runs interval endpoints (inclusive ranges: +1 sorts before
    −1 at equal position).

    Scale shape: file stats are metadata (|files| rows — a manifest
    read at 100 TB, never a data scan; here re-derived from the real
    files to certify the write path); the sweep is a |files|-row
    window. The two writes are the fixture's cost of staging both
    layouts."""
    from smfg_datawarehouse_spark.functions.ordering import distributed_ntile

    scratch = _scratch_dir(spark, "l39")
    base = load_events(spark, sf_dir).select(
        "event_id", "user_id", "ts",
        (F.col("user_id") % _L39_RUNS).alias("run_id"),
    )
    # band-partitioned NTILE (exact SQL bucket split, no one-task global
    # sort — the q38 anti-pattern this repo reserves as a contrast case);
    # day bucket is monotone in the (ts, event_id) order
    ev = distributed_ntile(
        base,
        _L39_RUNS,
        ["ts", "event_id"],
        band=F.expr("unix_micros(ts) DIV 86400000000"),
        out_col="quartile",
    )
    hash_dir = os.path.join(scratch, "hash_appended")
    time_dir = os.path.join(scratch, "time_clustered")
    # one job per layout: partitionBy on the run key guarantees one file
    # per run (a task holding two hash-colliding runs still writes one
    # file per partition directory) — same physical layout as 4
    # sequential coalesce(1) appends at a quarter of the job count
    ev.repartition(_L39_RUNS, "run_id").sortWithinPartitions(
        "run_id", "ts"
    ).write.partitionBy("run_id").mode("overwrite").parquet(hash_dir)
    ev.repartition(_L39_RUNS, "quartile").sortWithinPartitions(
        "quartile", "ts"
    ).write.partitionBy("quartile").mode("overwrite").parquet(time_dir)

    def run_ranges(path: str, layout: str) -> DataFrame:
        return (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                F.min(F.unix_micros("ts")).alias("lo"),
                F.max(F.unix_micros("ts")).alias("hi"),
            )
            .select(F.lit(layout).alias("layout"), "lo", "hi")
        )

    runs = run_ranges(hash_dir, "hash_appended").unionByName(
        run_ranges(time_dir, "time_clustered")
    )
    pts = runs.select(
        "layout", F.col("lo").alias("pos"), F.lit(1).alias("delta")
    ).unionByName(
        runs.select("layout", F.col("hi").alias("pos"), F.lit(-1).alias("delta"))
    )
    wd = (
        W.partitionBy("layout")
        .orderBy(F.col("pos"), F.col("delta").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    depth = pts.withColumn("d", F.sum("delta").over(wd))
    return depth.groupBy("layout").agg(
        F.lit(_L39_RUNS).cast("long").alias("n_runs"),
        F.max("d").cast("long").alias("max_overlap_depth"),
    )


# ---------------------------------------------------------------------------
# l40: end-to-end curation-run lifecycle — x40's curation pipeline staged
# through l23's write-audit-publish gate with an x65-style per-source
# datacard as the audit artifact (the reference's full-run model,
# reference/dag/SMFG_DW_ETL_DAG.py:60-69 extract→audit→load, replayed at
# corpus scale on the storage commit protocol itself)
# ---------------------------------------------------------------------------


def _l40_oracle() -> str:
    """x40's curation oracle with (a) doc_id carried through the kept
    CTE and (b) the repaired-publish filter applied — the poisoned batch
    rows (doc_id % 5 = 0 AND % 13 = 0) never reach the published table,
    so the replay simply excludes them. Built by splice so the scoring /
    dedup / lang-gate expressions stay shared VERBATIM with x40; both
    anchors are raise-guarded (x105's convention) so an x40 oracle edit
    fails loudly here instead of silently diverging."""
    from smfg_datawarehouse_spark.operators.text_analysis import _CURATION_ORACLE

    kept_anchor = "SELECT source, n_tokens, quality_score"
    pub_anchor = "FROM kept\n"
    if _CURATION_ORACLE.count(kept_anchor) != 1 or _CURATION_ORACLE.count(
        pub_anchor
    ) != 1:
        raise RuntimeError(
            "x40 oracle anchors moved: re-align the l40 splice before "
            "re-certifying"
        )
    return _CURATION_ORACLE.replace(
        kept_anchor, "SELECT doc_id, source, n_tokens, quality_score"
    ).replace(
        pub_anchor,
        "FROM kept\n      WHERE NOT (doc_id % 5 = 0 AND doc_id % 13 = 0)\n",
    )


@register("l40_curation_run_lifecycle", _l40_oracle())
def l40_curation_run_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S6/S7/L6/§2.12] CURATION-RUN LIFECYCLE certified — the full
    training-data run as ONE governed commit sequence: x40's curation
    pipeline (exact dedup → quality scoring → language ID) produces the
    per-doc curated corpus; it lands through l23's write-audit-publish
    protocol; and the audit artifact gating every publish is an
    x65-style per-source DATACARD (docs, tokens, min/mean quality) —
    the sign-off report a data owner reviews before a source enters a
    training mix, here promoted from documentation to the commit gate.

    The certified sequence: (1) the standing curated corpus (non-%5
    doc_ids) publishes as v1; (2) an incoming batch (%5 doc_ids)
    arrives with a corrupted scoring run (quality negated for %13 keys
    — l23's corruption shape at the curation grain), its staged
    datacard shows min_quality < 0.5, the audit REFUSES publish, and
    the RAISE-checked invariant is that readers still see v1 exactly
    (staged files on disk, manifest unmoved); (3) the repaired batch
    (poisoned rows dropped) audits clean and append-publishes as v2.
    The final per-source rollup of the PUBLISHED table hash-matches an
    oracle that replays curation and never saw the poison.

    Scale shape: curation is x40's two-shuffle plan (content-hash
    window + source rollup); audit cost is one scan of the STAGED
    BATCH (never the standing table); publish is one manifest CAS;
    failed-audit rollback costs nothing. This is the reference's
    extract→audit→load DAG posture (SMFG_DW_ETL_DAG.py:60-69, the
    FAILED/PARTIAL ledger gating of audit.py) carried to 100 TB as a
    delete-free storage protocol."""
    from smfg_datawarehouse_spark.operators.dedup import exact_dedup
    from smfg_datawarehouse_spark.operators.text_analysis import (
        lang_id,
        quality_features,
    )
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    d = t(spark, sf_dir, "documents")
    curated = lang_id(quality_features(exact_dedup(d, ["text"], "doc_id")))
    # checkpoint the curated frame: standing/batch/repaired and both
    # staged audits all derive from it, and without the pin each action
    # replays the full curation plan (content-hash window + scoring)
    # against the corpus — the run is a COMMIT-protocol cert, its cost
    # should be the protocol's, not five curation recomputes
    kept = (
        curated.where(
            (F.col("quality_score") >= 0.5) & (F.col("pred_lang") == "en")
        )
        .select("doc_id", "source", "n_tokens", "quality_score")
        .localCheckpoint(eager=True)
    )

    base = _scratch_dir(spark, "l40")
    mt = ManifestTable(spark, os.path.join(base, "curated_wap"))
    standing = kept.where("doc_id % 5 != 0")
    mt.write(standing)
    v1 = mt.current_version()
    n_v1 = mt.read().count()

    batch = kept.where("doc_id % 5 = 0").withColumn(
        "quality_score",
        F.when(
            F.col("doc_id") % 13 == 0, -F.col("quality_score")
        ).otherwise(F.col("quality_score")),
    )

    def datacard_violations(df: DataFrame) -> list:
        """x65-style per-source admission card over a staged snapshot;
        a source violates when its quality floor breaks 0.5 or a doc
        arrives tokenless (the curation gates, re-checked at commit)."""
        card = df.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("quality_score").alias("min_quality"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
        )
        return [
            r
            for r in card.collect()
            if r["min_quality"] < 0.5 or r["min_tokens"] < 1 or r["n_docs"] == 0
        ]

    staged = mt.stage(batch)
    bad = datacard_violations(mt.read_files(staged))
    if not bad:
        raise RuntimeError("l40 expected the poisoned batch to fail its datacard")
    if mt.current_version() != v1 or mt.read().count() != n_v1:
        raise RuntimeError(
            "l40 WAP isolation broken: a failed datacard must leave the "
            "published curated corpus untouched"
        )

    repaired = mt.stage(batch.where(F.col("quality_score") >= 0.5))
    if datacard_violations(mt.read_files(repaired)):
        raise RuntimeError("l40 repaired batch still fails its datacard")
    mt.publish_append(repaired)
    if mt.current_version() == v1:
        raise RuntimeError("l40 passing datacard must publish a new version")

    return mt.read().groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (
            F.sum(micro("quality_score")).cast("double")
            / 1e6
            / F.count(F.lit(1))
        ).alias("avg_quality"),
    )
