"""Compiler golden tests — semantics must match
``Staging_Extraction_Metadata_Query.sql`` exactly (NULL-alias fallback,
whitespace-only-logic fallback, ColumnID ordering, ActiveFlag/IncludeFlag
filters, INCREMENTAL-only WHERE)."""

from __future__ import annotations

import pytest

from smfg_datawarehouse_spark.catalog import catalog_from_rows, seed_fixture_catalog
from smfg_datawarehouse_spark.compiler import (
    compile_extraction_plans,
    compile_extraction_queries,
)
from smfg_datawarehouse_spark import dialect


def test_string_compile_golden(spark):
    cat = seed_fixture_catalog(spark)
    rows = {r["FullTableName"]: r["DataExtractQuery"] for r in compile_extraction_queries(cat).collect()}
    # inactive customer table must not be compiled (P5)
    assert set(rows) == {"tpch.lineitem", "tpch.orders"}
    assert rows["tpch.lineitem"] == (
        "SELECT l_orderkey AS Order_Key, l_linenumber AS l_linenumber, "
        "l_quantity AS Qty, l_extendedprice * (1 - l_discount) AS Net_Price, "
        "l_returnflag AS Return_Flag "
        "FROM tpch.lineitem WHERE l_shipdate >= '1995-06-01'"
    )
    # FULL table: no WHERE even though filter column is NULL
    assert rows["tpch.orders"] == (
        "SELECT o_orderkey AS o_orderkey, o_totalprice AS Total_Price, "
        "CASE WHEN o_orderstatus = 'O' THEN 'OPEN' ELSE o_orderstatus END AS Status_Code "
        "FROM tpch.orders"
    )


def test_incremental_requires_non_null_filter(spark):
    # INCREMENTAL + NULL filter → no WHERE (reference CASE: IS NOT NULL only)
    cat = catalog_from_rows(
        spark,
        [dict(TableID=1, SchemaName="s", TableName="t", LoadType="INCREMENTAL",
              RefreshFrequency="EOD")],
        [dict(ColumnID=1, TableID=1, ColumnName="a")],
    )
    q = compile_extraction_queries(cat).collect()[0]["DataExtractQuery"]
    assert q == "SELECT a AS a FROM s.t"


def test_column_id_ordering_determinism(spark):
    # insertion order ≠ ColumnID order; compiled list must follow ColumnID
    cat = catalog_from_rows(
        spark,
        [dict(TableID=1, SchemaName="s", TableName="t", LoadType="FULL",
              RefreshFrequency="EOD")],
        [
            dict(ColumnID=30, TableID=1, ColumnName="c"),
            dict(ColumnID=10, TableID=1, ColumnName="a"),
            dict(ColumnID=20, TableID=1, ColumnName="b"),
        ],
    )
    q = compile_extraction_queries(cat).collect()[0]["DataExtractQuery"]
    assert q == "SELECT a AS a, b AS b, c AS c FROM s.t"
    # and is stable under another insertion order of the config (A1 hard-part)
    cat2 = catalog_from_rows(
        spark,
        [dict(TableID=1, SchemaName="s", TableName="t", LoadType="FULL",
              RefreshFrequency="EOD")],
        [
            dict(ColumnID=20, TableID=1, ColumnName="b"),
            dict(ColumnID=30, TableID=1, ColumnName="c"),
            dict(ColumnID=10, TableID=1, ColumnName="a"),
        ],
    )
    q2 = compile_extraction_queries(cat2).collect()[0]["DataExtractQuery"]
    assert q2 == q


def test_structural_plan_runs_on_testdata(spark):
    cat = seed_fixture_catalog(spark)
    plans = {p.full_table_name: p for p in compile_extraction_plans(cat)}
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    out = plans["tpch.lineitem"].apply(li)
    assert out.columns == ["Order_Key", "l_linenumber", "Qty", "Net_Price", "Return_Flag"]
    # plan filter matches manual equivalent
    from pyspark.sql import functions as F

    expected = li.where(F.expr("l_shipdate >= '1995-06-01'")).count()
    assert out.count() == expected


def test_plan_compile_fails_fast_on_bad_expression(spark):
    cat = catalog_from_rows(
        spark,
        [dict(TableID=1, SchemaName="s", TableName="t", LoadType="FULL",
              RefreshFrequency="EOD")],
        [dict(ColumnID=1, TableID=1, ColumnName="a",
              TransformationLogic="GROUP_CONCAT(a)")],
    )
    with pytest.raises(dialect.DialectError, match="t column a"):
        compile_extraction_plans(cat)


def test_dialect_translations():
    assert dialect.translate("NOW()") == "current_timestamp()"
    assert dialect.translate("IFNULL(a, b)") == "IFNULL(a, b)"  # valid Spark SQL
    assert (
        dialect.translate("DATE_FORMAT(d, '%Y-%m-%d %H:%i:%s')")
        == "date_format(d,'yyyy-MM-dd HH:mm:ss')"
    )
    assert dialect.translate("`weird col` + 1") == "weird col + 1"
    assert dialect.validate("IF(a > 1, 'x', 'y')") == "IF(a > 1, 'x', 'y')"
    with pytest.raises(dialect.DialectError):
        dialect.validate("LAST_INSERT_ID()")
    with pytest.raises(dialect.DialectError):
        dialect.validate("NOT VALID SQL !!!")


def test_catalog_validation(spark):
    cat = catalog_from_rows(
        spark,
        [
            dict(TableID=1, SchemaName="s", TableName="t", LoadType="BOGUS",
                 RefreshFrequency="EOD"),
            dict(TableID=2, SchemaName="s", TableName="t", LoadType="FULL",
                 RefreshFrequency="EOD"),
        ],
        [dict(ColumnID=1, TableID=99, ColumnName="a")],
    )
    errors = cat.validate()
    assert any("LoadType" in e for e in errors)
    assert any("duplicate (SchemaName, TableName)" in e for e in errors)
    assert any("orphan TableID" in e for e in errors)
    good = seed_fixture_catalog(spark)
    assert good.validate() == []


def test_dialect_translated_expressions_evaluate(spark):
    """Translated metadata expressions must not just parse — they must
    evaluate with MySQL's semantics on engine data."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a", None), (2, "", "z")], "n int, s string, maybe string"
    )
    cases = [
        ("IF(n > 1, 'big', 'small')", ["small", "big"]),
        ("IFNULL(maybe, 'dflt')", ["dflt", "z"]),
        # the compiler's TRIM-empty-logic fallback shape
        ("CASE WHEN TRIM(s) = '' THEN NULL ELSE s END", ["a", None]),
        ("CONCAT(s, '-', CAST(n AS STRING))", ["a-1", "-2"]),
        ("DATE_FORMAT(TIMESTAMP '2024-03-05 07:08:09', '%Y/%m/%d %H:%i')",
         ["2024/03/05 07:08", "2024/03/05 07:08"]),
        ("CAST(STR_TO_DATE('05/03/2024', '%d/%m/%Y') AS DATE)",
         [__import__("datetime").date(2024, 3, 5)] * 2),
    ]
    from smfg_datawarehouse_spark import dialect

    for expr, expected in cases:
        got = [
            r[0]
            for r in df.orderBy("n").select(F.expr(dialect.translate(expr))).collect()
        ]
        assert got == expected, f"{expr}: {got} != {expected}"
