"""Metadata-driven ETL core (SURVEY §3 — the reference's defining capability): compiler/extraction/output-mapping/merge queries q16-q19 and the runner/versioned/multiformat lifecycles l01-l03.

Split out of ``queries.py`` (round 5, VERDICT r4 #8 — module size only;
zero behavior change). Registration/oracle/determinism conventions are
documented in ``queries.py``; reference citations live in each docstring.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.queries import (
    fixture_plans,
    _scratch_dir,
    dsum,
    register,
    t,
)

# ---------------------------------------------------------------------------
# Metadata-driven ETL core (the reference's defining capability, SURVEY §3)
# ---------------------------------------------------------------------------

_COMPILER_ORACLE = """
    WITH table_config(TableID, SchemaName, TableName, ActiveFlag, LoadType, IncrementalFilter) AS (
      VALUES (1,'tpch','lineitem',true,'INCREMENTAL','l_shipdate >= ''1995-06-01'''),
             (2,'tpch','orders',true,'FULL',NULL),
             (3,'tpch','customer',false,'FULL',NULL)
    ),
    column_config(ColumnID, TableID, ColumnName, AliasName, IncludeFlag, TransformationLogic) AS (
      VALUES
       (1,1,'l_orderkey','Order_Key',true,NULL),
       (2,1,'l_linenumber',NULL,true,NULL),
       (3,1,'l_quantity','Qty',true,NULL),
       (4,1,'l_extendedprice','Net_Price',true,'l_extendedprice * (1 - l_discount)'),
       (5,1,'l_returnflag','Return_Flag',true,'   '),
       (6,1,'l_comment',NULL,false,NULL),
       (7,2,'o_orderkey',NULL,true,NULL),
       (8,2,'o_totalprice','Total_Price',true,NULL),
       (9,2,'o_orderstatus','Status_Code',true,'CASE WHEN o_orderstatus = ''O'' THEN ''OPEN'' ELSE o_orderstatus END'),
       (10,3,'c_custkey',NULL,true,NULL)
    ),
    tableDetail AS (SELECT * FROM table_config WHERE ActiveFlag),
    columnDetail AS (
      SELECT t.TableID, t.SchemaName, t.TableName, c.ColumnID,
        (CASE WHEN c.TransformationLogic IS NULL OR TRIM(c.TransformationLogic) = ''
              THEN c.ColumnName ELSE c.TransformationLogic END)
        || ' AS ' || COALESCE(c.AliasName, c.ColumnName) AS modifiedColumns
      FROM tableDetail t JOIN column_config c ON t.TableID = c.TableID
      WHERE c.IncludeFlag
    ),
    finalColumnList AS (
      SELECT cd.TableID, cd.SchemaName || '.' || cd.TableName AS FullTableName,
             string_agg(cd.modifiedColumns, ', ' ORDER BY cd.ColumnID) AS FinalColumns
      FROM columnDetail cd GROUP BY cd.TableID, cd.SchemaName || '.' || cd.TableName
    )
    SELECT CAST(f.TableID AS BIGINT) AS TableID, f.FullTableName,
           'SELECT ' || f.FinalColumns || ' FROM ' || f.FullTableName ||
           (CASE WHEN td.LoadType = 'INCREMENTAL' AND td.IncrementalFilter IS NOT NULL
                 THEN ' WHERE ' || td.IncrementalFilter ELSE '' END) AS DataExtractQuery
    FROM finalColumnList f JOIN tableDetail td ON f.TableID = td.TableID
"""


@register("q16_metadata_compiler", _COMPILER_ORACLE)
def q16_metadata_compiler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S4/P1-P5/A1/O1] The metadata→SQL compiler itself, differentially
    checked: the engine compiles the seeded config catalog into per-table
    DataExtractQuery strings; the oracle replicates the reference's 5-CTE
    pipeline (``Staging_Extraction_Metadata_Query.sql``) over the same
    inline config rows. Exercises ActiveFlag/IncludeFlag filtering,
    NULL-alias and whitespace-only-logic fallbacks, and ColumnID-ordered
    deterministic concat."""
    from smfg_datawarehouse_spark.compiler import compile_extraction_queries

    cat = fixture_plans(spark)[0]
    return compile_extraction_queries(cat).select(
        F.col("TableID").cast("long").alias("TableID"),
        "FullTableName",
        "DataExtractQuery",
    )


@register(
    "q17_config_driven_extraction",
    """
    SELECT l_orderkey AS Order_Key,
           l_linenumber,
           l_quantity AS Qty,
           l_extendedprice * (1 - l_discount) AS Net_Price,
           l_returnflag AS Return_Flag
    FROM lineitem
    WHERE l_shipdate >= '1995-06-01'
    """,
)
def q17_config_driven_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S1/P1-P4] A compiled ExtractionPlan executed end-to-end against the
    lineitem source — the engine's config-driven projection/rename/transform/
    incremental-filter path (the reference's extract_table_data consuming a
    generated query, ``staging_data_extraction.py:220-272``)."""
    _cat, plans, _omp = fixture_plans(spark)
    return plans["tpch.lineitem"].apply(t(spark, sf_dir, "lineitem"))


@register(
    "q18_output_mapping_load",
    """
    SELECT CAST(l_orderkey AS BIGINT) AS order_key,
           CAST(l_linenumber AS INT) AS line_no,
           CAST(CAST(l_quantity * 1.0 AS DECIMAL(18,2)) AS DOUBLE) AS quantity,
           CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS DOUBLE)
             AS net_price
    FROM lineitem
    WHERE l_shipdate >= '1995-06-01'
    """,
)
def q18_output_mapping_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[P7/O3/J3-prep] The DW-load output mapping (the reference's declared
    transformation stage): AdditionalTransform → cast(TargetDataType) →
    TargetPosition ordering, from DW_Output_Column_Config metadata.

    The mapping itself casts to the configured DECIMAL target types; this
    query's *final output* casts those decimals back to double so the hash
    representation is engine-independent (Python Decimal('23.00') vs DuckDB
    float64 — values identical, repr not; the repo's dsum convention)."""
    from pyspark.sql.types import DecimalType

    from smfg_datawarehouse_spark.transform import apply_output_mapping

    _cat, plans, (_target, mapping, _keys) = fixture_plans(spark)
    staged = plans["tpch.lineitem"].apply(t(spark, sf_dir, "lineitem"))
    mapped = apply_output_mapping(staged, mapping)
    return mapped.select(
        *[
            F.col(f.name).cast("double").alias(f.name)
            if isinstance(f.dataType, DecimalType)
            else F.col(f.name)
            for f in mapped.schema.fields
        ]
    )


@register(
    "q19_merge_upsert",
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
def q19_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J3] Key-based MERGE (the reference's declared DW-load upsert,
    ``DW_Output_Column_Config.IsKey`` — `1. Metadata Creation.sql:133`):
    a 1996+ update batch (prices restated ×2) merged into a pre-1997
    snapshot on o_orderkey. Updates win on match, unmatched target rows
    survive, new keys insert — one shuffle on the key via the union +
    latest-wins window (Delta ``MERGE INTO`` on a real lake)."""
    from smfg_datawarehouse_spark.transform import merge_upsert

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
    return merge_upsert(target, updates, ["o_orderkey"])


@register(
    "l01_runner_audit_end_to_end",
    """
    SELECT 'tpch.lineitem' AS TableName, 'SUCCESS' AS Status,
           CAST(COUNT(*) AS BIGINT) AS RowCount
    FROM lineitem WHERE l_shipdate >= DATE '1995-06-01'
    UNION ALL
    SELECT 'tpch.orders', 'SUCCESS', CAST(COUNT(*) AS BIGINT)
    FROM orders
    """,
)
def l01_runner_audit_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[L1-L6/S2/P1-P5] The whole extraction lifecycle as a checkable query:
    compile the fixture catalog, run the staging extraction (FAIR-pooled
    per-table jobs, per-table failure isolation), land parquet in the
    staging zone, audit every stage — then return the audit ledger's
    (table, status, rowcount) view. The oracle states what the ledger MUST
    record: the incremental lineitem slice count and the full orders count,
    both SUCCESS — reconciling audit metadata against source truth exactly
    like the reference's RowCount columns (`1. Metadata Creation.sql:35-39`)."""
    import os

    from smfg_datawarehouse_spark.audit import AuditLedger
    from smfg_datawarehouse_spark.catalog import seed_fixture_catalog
    from smfg_datawarehouse_spark.runner import run_staging_extraction
    from smfg_datawarehouse_spark.sources.lake import LakeZones

    tmp = _scratch_dir(spark, "run")
    zones = LakeZones(os.path.join(tmp, "lake"))
    audit = AuditLedger(spark, os.path.join(tmp, "audit"))
    cat = seed_fixture_catalog(spark)

    def reader(s: SparkSession, plan) -> DataFrame:
        return t(s, sf_dir, plan.table_name)

    pid, _results = run_staging_extraction(
        spark, cat, zones, audit, source_reader=reader
    )
    return (
        audit.stage_detail()
        .where(F.col("ProcessID") == pid)
        .select("TableName", "Status", F.col("RowCount").cast("long").alias("RowCount"))
    )


@register(
    "l02_versioned_merge_lifecycle",
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
def l02_versioned_merge_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[J3/S7] q19's MERGE scenario run through the durable path: the
    target snapshot lands as ``ManifestTable`` version 1, the update
    batch merges into version 2 through one conditional CURRENT swap
    (version 1 stays intact for time travel), and the returned state is
    read back FROM STORAGE — the declared DW-load upsert with
    Delta-style visibility semantics on plain parquet. Same oracle as
    q19: durability must not change MERGE semantics."""
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
    vt = ManifestTable(spark, _scratch_dir(spark, "vt"))
    vt.write(target)
    vt.merge(updates, ["o_orderkey"])
    return vt.read()


_L03_FMT_SQL = """
    SELECT '{fmt}' AS fmt,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_key
    FROM lineitem WHERE l_shipdate >= DATE '1997-01-01'
"""


@register(
    "l03_multiformat_roundtrip",
    " UNION ALL ".join(_L03_FMT_SQL.format(fmt=f) for f in ["csv", "json", "orc"]),
)
def l03_multiformat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[S2/§2.2] Format-agnostic source/sink certification: a lineitem
    slice is written through ``write_sink`` to csv, json, and orc, read
    back through ``read_source`` with an explicit schema (no inference
    pass — the only scale-safe way to read schemaless formats), and each
    round-trip is summarized (count + exact-decimal quantity sum + key
    range). The oracle computes the same summaries straight from parquet:
    a value drift in ANY format's writer/reader/schema handling
    hash-fails. Covers the reference's format surface (MySQL+parquet,
    ``staging_data_extraction.py:30-80``) extended to Spark's DataSource
    formats."""
    import os

    from pyspark.sql import types as T

    from smfg_datawarehouse_spark.sources.lake import read_source, write_sink

    li = (
        t(spark, sf_dir, "lineitem")
        .where("l_shipdate >= DATE '1997-01-01'")
        .select("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
    )
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_shipdate", T.DateType()),
        ]
    )
    base = _scratch_dir(spark, "l03")
    opts = {"csv": {"header": "true"}, "json": {}, "orc": {}}
    # the three format sinks are independent — overlap them (guide §2.6:
    # actions are only sequential because driver code calls them
    # sequentially); measured ~1.4 s of serial writer-init/save cost
    # collapses to the slowest single format
    from concurrent.futures import ThreadPoolExecutor

    def _write(fmt: str) -> None:
        write_sink(li, fmt, os.path.join(base, fmt), options=opts[fmt])

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(_write, ["csv", "json", "orc"]))
    parts = []
    for fmt in ["csv", "json", "orc"]:
        path = os.path.join(base, fmt)
        back = read_source(spark, fmt, path, schema=schema, options=opts[fmt])
        parts.append(
            back.agg(
                F.lit(fmt).alias("fmt"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                dsum(F.col("l_quantity")).alias("sum_qty"),
                F.min("l_orderkey").cast("long").alias("min_key"),
                F.max("l_orderkey").cast("long").alias("max_key"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


