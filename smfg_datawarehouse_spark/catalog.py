"""Config catalog: the metadata tables that drive the engine.

Re-expresses the reference's six-table metadata catalog
(``source_code/sql/1. Metadata Creation.sql``) as schemas + a
``ConfigCatalog`` facade. Schema authority lives in metadata, not files:
which columns exist downstream is decided by ``DW_Column_Config.IncludeFlag``,
names by ``AliasName``, target ordering by
``DW_Output_Column_Config.TargetPosition`` (reference lines 88-100, 124-146).

The config tables are a few kilobytes, so the catalog holds them as plain
dict rows on the driver: every metadata join (compiler, output mapping,
realtime dispatch) is a dict lookup, and none costs a Spark job. The
schemas below document the reference DDL and name the columns each row is
filled with.

Without a database there is no FK/ENUM/UNIQUE enforcement, so
:meth:`ConfigCatalog.validate` re-implements the reference's constraints as
driver-side checks over the rows (SURVEY §2.3 J4).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import types as T

# --- schemas (1:1 with the reference DDL, MySQL types mapped per SURVEY §1.2)

TABLE_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("TableID", T.IntegerType(), False),
        T.StructField("SchemaName", T.StringType(), False),
        T.StructField("TableName", T.StringType(), False),
        T.StructField("ActiveFlag", T.BooleanType(), False),
        T.StructField("LoadType", T.StringType(), False),  # ENUM FULL|INCREMENTAL
        T.StructField("RefreshFrequency", T.StringType(), False),  # EOD|HOURLY|REALTIME
        T.StructField("IncrementalFilter", T.StringType(), True),
        T.StructField("BatchSize", T.IntegerType(), False),
        T.StructField("Comments", T.StringType(), True),
        T.StructField("StagingZonePath", T.StringType(), True),
        T.StructField("CuratedZonePath", T.StringType(), True),
    ]
)

COLUMN_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("ColumnID", T.IntegerType(), False),
        T.StructField("TableID", T.IntegerType(), False),
        T.StructField("ColumnName", T.StringType(), False),
        T.StructField("AliasName", T.StringType(), True),
        T.StructField("IncludeFlag", T.BooleanType(), False),
        T.StructField("TransformationLogic", T.StringType(), True),
    ]
)

OUTPUT_TABLE_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("OutputTableID", T.IntegerType(), False),
        T.StructField("TargetSchema", T.StringType(), False),
        T.StructField("TargetTable", T.StringType(), False),
    ]
)

OUTPUT_COLUMN_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("OutputColumnID", T.IntegerType(), False),
        T.StructField("OutputTableID", T.IntegerType(), False),
        T.StructField("SourceTableID", T.IntegerType(), False),
        T.StructField("SourceColumnID", T.IntegerType(), False),
        T.StructField("TargetColumnName", T.StringType(), False),
        T.StructField("TargetDataType", T.StringType(), False),  # DDL string
        T.StructField("TargetPosition", T.IntegerType(), False),
        T.StructField("AdditionalTransform", T.StringType(), True),
        T.StructField("IsKey", T.BooleanType(), False),
    ]
)

LOAD_TYPES = {"FULL", "INCREMENTAL"}
REFRESH_FREQUENCIES = {"EOD", "HOURLY", "REALTIME"}


@dataclass
class ConfigCatalog:
    """The four config tables as filled dict rows, one dict per row keyed
    by the schema's column names (audit tables live in audit.py).

    ``spark`` is kept only so the string-form compile can return a
    DataFrame; nothing else here touches Spark."""

    spark: SparkSession
    table_config: list[dict]
    column_config: list[dict]
    output_table_config: list[dict] | None = None
    output_column_config: list[dict] | None = None

    def active_tables(self) -> list[dict]:
        """ActiveFlag=1 — the reference's tableDetail CTE filter."""
        return [r for r in self.table_config if r["ActiveFlag"]]

    def validate(self) -> list[str]:
        """Constraint checks the reference delegates to MySQL (ENUM domains,
        UNIQUE keys, FK integrity). Returns human-readable violations
        (empty = valid).

        Config tables are control-plane-small by contract (the reference's
        whole catalog is 6 InnoDB tables), so the checks run over the rows
        in Python. The equivalent anti-join formulation stays the right
        shape for *data*-scale integrity checks (see q09_anti_join_integrity).
        """
        errors: list[str] = []
        trows, crows = self.table_config, self.column_config

        # ENUM domains
        bad_lt = sum(1 for r in trows if r["LoadType"] not in LOAD_TYPES)
        if bad_lt:
            errors.append(f"{bad_lt} table_config rows with invalid LoadType")
        bad_rf = sum(
            1 for r in trows if r["RefreshFrequency"] not in REFRESH_FREQUENCIES
        )
        if bad_rf:
            errors.append(f"{bad_rf} table_config rows with invalid RefreshFrequency")

        # UNIQUE (SchemaName, TableName)
        dup_tbl = sum(
            1
            for n in Counter(
                (r["SchemaName"], r["TableName"]) for r in trows
            ).values()
            if n > 1
        )
        if dup_tbl:
            errors.append(f"{dup_tbl} duplicate (SchemaName, TableName) pairs")

        # FK: column_config.TableID → table_config
        tids = {r["TableID"] for r in trows}
        orphans = sum(1 for r in crows if r["TableID"] not in tids)
        if orphans:
            errors.append(f"{orphans} column_config rows with orphan TableID")

        if self.output_column_config is not None:
            orows = self.output_column_config
            for col, label in [
                ("TargetColumnName", "name"),
                ("TargetPosition", "position"),
            ]:
                dups = sum(
                    1
                    for n in Counter(
                        (r["OutputTableID"], r[col]) for r in orows
                    ).values()
                    if n > 1
                )
                if dups:
                    errors.append(
                        f"{dups} duplicate (OutputTableID, Target{label}) pairs"
                    )
            if self.output_table_config is not None:
                otids = {r["OutputTableID"] for r in self.output_table_config}
                o_orph = sum(1 for r in orows if r["OutputTableID"] not in otids)
                if o_orph:
                    errors.append(
                        f"{o_orph} output_column rows with orphan OutputTableID"
                    )
            cids = {r["ColumnID"] for r in crows}
            c_orph = sum(1 for r in orows if r["SourceColumnID"] not in cids)
            if c_orph:
                errors.append(f"{c_orph} output_column rows with orphan SourceColumnID")
        return errors


def catalog_from_rows(
    spark: SparkSession,
    table_rows: list[dict],
    column_rows: list[dict],
    output_table_rows: list[dict] | None = None,
    output_column_rows: list[dict] | None = None,
) -> ConfigCatalog:
    """Build a catalog from plain dict rows (tests, fixtures, JSON configs).

    Each row is copied and filled to its schema's columns. Missing optional
    fields default like the reference DDL (ActiveFlag=1, IncludeFlag=1,
    BatchSize=0, IsKey=0).
    """

    def fill(rows, schema: T.StructType, defaults: dict) -> list[dict] | None:
        if rows is None:
            return None
        return [{**{f.name: None for f in schema.fields}, **defaults, **r} for r in rows]

    return ConfigCatalog(
        spark,
        table_config=fill(
            table_rows, TABLE_CONFIG_SCHEMA, {"ActiveFlag": True, "BatchSize": 0}
        ),
        column_config=fill(column_rows, COLUMN_CONFIG_SCHEMA, {"IncludeFlag": True}),
        output_table_config=fill(output_table_rows, OUTPUT_TABLE_CONFIG_SCHEMA, {}),
        output_column_config=fill(
            output_column_rows, OUTPUT_COLUMN_CONFIG_SCHEMA, {"IsKey": False}
        ),
    )


def seed_fixture_catalog(spark: SparkSession) -> ConfigCatalog:
    """Deterministic catalog fixture in the shape of the reference's sample
    config (``2. SampleConfigInsert.sql``: one wide table, mixed include
    flags, aliases, transform expressions) — but pointing at the testdata
    star schema so compiled plans can actually run.
    """
    table_rows = [
        dict(
            TableID=1,
            SchemaName="tpch",
            TableName="lineitem",
            LoadType="INCREMENTAL",
            RefreshFrequency="EOD",
            IncrementalFilter="l_shipdate >= '1995-06-01'",
        ),
        dict(
            TableID=2,
            SchemaName="tpch",
            TableName="orders",
            LoadType="FULL",
            RefreshFrequency="EOD",
        ),
        dict(
            TableID=3,
            SchemaName="tpch",
            TableName="customer",
            LoadType="FULL",
            RefreshFrequency="HOURLY",
            ActiveFlag=False,  # inactive → must NOT be compiled (P5)
        ),
    ]
    column_rows = [
        # lineitem: prune, rename, transform — exercising P1/P2/P3
        dict(ColumnID=1, TableID=1, ColumnName="l_orderkey", AliasName="Order_Key"),
        dict(ColumnID=2, TableID=1, ColumnName="l_linenumber", AliasName=None),
        dict(ColumnID=3, TableID=1, ColumnName="l_quantity", AliasName="Qty"),
        dict(
            ColumnID=4,
            TableID=1,
            ColumnName="l_extendedprice",
            AliasName="Net_Price",
            TransformationLogic="l_extendedprice * (1 - l_discount)",
        ),
        dict(
            ColumnID=5,
            TableID=1,
            ColumnName="l_returnflag",
            AliasName="Return_Flag",
            TransformationLogic="   ",  # whitespace-only → falls back to column
        ),
        dict(ColumnID=6, TableID=1, ColumnName="l_comment", IncludeFlag=False),
        # orders
        dict(ColumnID=7, TableID=2, ColumnName="o_orderkey", AliasName=None),
        dict(
            ColumnID=8,
            TableID=2,
            ColumnName="o_totalprice",
            AliasName="Total_Price",
        ),
        dict(
            ColumnID=9,
            TableID=2,
            ColumnName="o_orderstatus",
            AliasName="Status_Code",
            TransformationLogic="CASE WHEN o_orderstatus = 'O' THEN 'OPEN' ELSE o_orderstatus END",
        ),
        # customer (inactive table — ignored by compiler)
        dict(ColumnID=10, TableID=3, ColumnName="c_custkey"),
    ]
    output_table_rows = [dict(OutputTableID=1, TargetSchema="dw", TargetTable="fact_lineitem")]
    output_column_rows = [
        dict(
            OutputColumnID=1,
            OutputTableID=1,
            SourceTableID=1,
            SourceColumnID=1,
            TargetColumnName="order_key",
            TargetDataType="BIGINT",
            TargetPosition=1,
            IsKey=True,
        ),
        dict(
            OutputColumnID=2,
            OutputTableID=1,
            SourceTableID=1,
            SourceColumnID=2,
            TargetColumnName="line_no",
            TargetDataType="INT",
            TargetPosition=2,
            IsKey=True,
        ),
        dict(
            OutputColumnID=3,
            OutputTableID=1,
            SourceTableID=1,
            SourceColumnID=4,
            TargetColumnName="net_price",
            # scale 4: price×(1-discount) has ≤4 decimal digits, so the cast
            # is tie-free and deterministic across engines (scale 2 would hit
            # half-cent ties where Spark HALF_UP ≠ DuckDB rounding)
            TargetDataType="DECIMAL(18,4)",
            TargetPosition=4,
        ),
        dict(
            OutputColumnID=4,
            OutputTableID=1,
            SourceTableID=1,
            SourceColumnID=3,
            TargetColumnName="quantity",
            TargetDataType="DECIMAL(18,2)",
            TargetPosition=3,
            AdditionalTransform="Qty * 1.0",
        ),
    ]
    return catalog_from_rows(
        spark, table_rows, column_rows, output_table_rows, output_column_rows
    )
