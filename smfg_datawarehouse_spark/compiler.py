"""Metadata → plan compiler.

Re-expresses the reference's 5-CTE compiler query
(``source_code/sql/Staging_Extraction_Metadata_Query.sql:1-57``). The
config is a few kilobytes of driver-side rows, so the CTEs' joins are dict
lookups in one helper, :func:`_table_entries`, which groups the active
tables with their included columns in ColumnID order and applies the
reference's fallbacks exactly once: NULL/whitespace-only
``TransformationLogic`` → bare column, NULL ``AliasName`` → column name,
WHERE only for ``LoadType='INCREMENTAL' AND IncrementalFilter IS NOT NULL``.
Two forms are rendered from it:

1. :func:`compile_extraction_queries` — the *string* form: a DataFrame of
   ``(TableID, FullTableName, DataExtractQuery)``, byte-compatible with the
   reference's output, with no ``group_concat_max_len`` cap to work around.

2. :func:`compile_extraction_plans` — the *structural* form: per-table
   :class:`ExtractionPlan` holding ``(expr, alias)`` pairs + optional filter,
   dialect-translated and parse-validated, applied to a DataFrame with
   ``selectExpr``-style Columns so Catalyst sees a declarative plan
   (projection/predicate pushdown for free, SURVEY §4).
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from smfg_datawarehouse_spark import dialect
from smfg_datawarehouse_spark.catalog import ConfigCatalog
from smfg_datawarehouse_spark.session import local_rows_df


def staging_column(column_row: dict) -> str:
    """A column's name in the staging zone: its AliasName, else its
    ColumnName (the reference's ``COALESCE(AliasName, ColumnName)``)."""
    alias = column_row["AliasName"]
    return alias if alias is not None else column_row["ColumnName"]


def _table_entries(
    catalog: ConfigCatalog,
) -> list[tuple[dict, list[tuple[str, str]], str | None]]:
    """The tableDetail/columnDetail CTEs: ``(table_row, [(source_expr,
    alias)], filter)`` per active table with at least one included column,
    in TableID order, its columns in ColumnID order. ``source_expr`` and
    ``filter`` are the metadata's own (untranslated) SQL."""
    columns: dict[int, list[tuple[str, str]]] = defaultdict(list)
    for c in sorted(catalog.column_config, key=lambda c: c["ColumnID"]):
        if c["IncludeFlag"]:
            logic = c["TransformationLogic"]
            use_logic = logic is not None and logic.strip() != ""
            columns[c["TableID"]].append(
                (logic if use_logic else c["ColumnName"], staging_column(c))
            )
    entries = []
    for t in sorted(catalog.active_tables(), key=lambda t: t["TableID"]):
        if t["TableID"] in columns:
            incremental = t["LoadType"] == "INCREMENTAL"
            filter_sql = t["IncrementalFilter"] if incremental else None
            entries.append((t, columns[t["TableID"]], filter_sql))
    return entries


def compile_extraction_queries(catalog: ConfigCatalog) -> DataFrame:
    """(TableID, FullTableName, DataExtractQuery) — string-form compile."""
    rows = []
    for t, columns, filter_sql in _table_entries(catalog):
        full_name = f"{t['SchemaName']}.{t['TableName']}"
        cols = ", ".join(f"{expr} AS {alias}" for expr, alias in columns)
        where = f" WHERE {filter_sql}" if filter_sql is not None else ""
        rows.append((t["TableID"], full_name, f"SELECT {cols} FROM {full_name}{where}"))
    return local_rows_df(
        catalog.spark,
        rows,
        "TableID INT, FullTableName STRING, DataExtractQuery STRING",
    )


@dataclass
class ExtractionPlan:
    """Structural twin of one DataExtractQuery."""

    table_id: int
    schema_name: str
    table_name: str
    load_type: str
    projections: list[tuple[str, str]] = field(default_factory=list)  # (spark_sql_expr, alias)
    filter_sql: str | None = None  # Spark SQL predicate (dialect-translated)

    @property
    def full_table_name(self) -> str:
        return f"{self.schema_name}.{self.table_name}"

    def columns(self) -> list[Column]:
        return [F.expr(expr).alias(alias) for expr, alias in self.projections]

    def apply(self, df: DataFrame) -> DataFrame:
        """Execute the plan against a source DataFrame. Filter first (on
        source columns, Catalyst pushes it into the scan), then project."""
        out = df
        if self.filter_sql:
            out = out.where(F.expr(self.filter_sql))
        return out.select(*self.columns())


def compile_extraction_plans(catalog: ConfigCatalog) -> list[ExtractionPlan]:
    """Structural compile: active tables → validated ExtractionPlans.

    Dialect translation + parse validation happen here (compile time), so a
    bad metadata expression fails fast with the table/column named — the
    reference only failed at runtime inside MySQL. The plans mirror the
    reference's ``list[{TableID, FullTableName, DataExtractQuery}]`` IR
    (``staging_data_extraction.py:276-327``).
    """
    plans: list[ExtractionPlan] = []
    for t, columns, filter_sql in _table_entries(catalog):
        projections = []
        for expr, alias in columns:
            try:
                projections.append((dialect.validate(expr), alias))
            except dialect.DialectError as exc:
                raise dialect.DialectError(
                    f"table {t['SchemaName']}.{t['TableName']} column {alias}: {exc}"
                ) from exc
        plans.append(
            ExtractionPlan(
                table_id=t["TableID"],
                schema_name=t["SchemaName"],
                table_name=t["TableName"],
                load_type=t["LoadType"],
                projections=projections,
                filter_sql=dialect.validate(filter_sql) if filter_sql is not None else None,
            )
        )
    return plans
