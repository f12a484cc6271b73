"""Transformation + DW-load stage — the reference's *declared but unbuilt*
stages (``dag/SMFG_DW_ETL_DAG.py:322-359`` placeholders; roadmap at
``local_utility/2. StagingDataExtraction.py:338-348``), implemented from the
metadata it already defined:

- output mapping from ``DW_Output_Column_Config`` (``1. Metadata
  Creation.sql:124-146``): optional ``AdditionalTransform`` (P7) →
  ``CAST(TargetDataType)`` → order by ``TargetPosition`` (O3)
- key-based MERGE (J3) on ``IsKey`` columns — union + latest-wins over
  DataFrames; the durable curated write is ``sources/manifest.py``'s
  ``ManifestTable.merge`` (the Delta ``MERGE INTO`` form is a drop-in swap
  on a real deployment).

The output mapping is compiled from the catalog's driver-side rows, so it
costs no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from smfg_datawarehouse_spark import dialect
from smfg_datawarehouse_spark.catalog import ConfigCatalog
from smfg_datawarehouse_spark.compiler import staging_column


def output_mapping_plan(
    catalog: ConfigCatalog, output_table_id: int
) -> tuple[str, list[tuple[str, str, str]], list[str]]:
    """Compile one output table's mapping.

    Returns (target_name, [(source_expr_sql, target_name, target_type)], key_cols),
    ordered by TargetPosition. ``source_expr_sql`` is the staging-side
    column (the extraction alias) unless AdditionalTransform overrides it.
    """
    if catalog.output_column_config is None or catalog.output_table_config is None:
        raise ValueError("catalog has no output mapping config")
    tgt = next(
        (r for r in catalog.output_table_config if r["OutputTableID"] == output_table_id),
        None,
    )
    if tgt is None:
        raise ValueError(f"unknown OutputTableID {output_table_id}")
    target_name = f"{tgt['TargetSchema']}.{tgt['TargetTable']}"

    staging = {c["ColumnID"]: staging_column(c) for c in catalog.column_config}
    rows = sorted(
        (
            r
            for r in catalog.output_column_config
            if r["OutputTableID"] == output_table_id and r["SourceColumnID"] in staging
        ),
        key=lambda r: r["TargetPosition"],
    )
    mapping: list[tuple[str, str, str]] = []
    keys: list[str] = []
    for r in rows:
        expr = r["AdditionalTransform"] or staging[r["SourceColumnID"]]
        expr = dialect.validate(expr)
        mapping.append((expr, r["TargetColumnName"], r["TargetDataType"]))
        if r["IsKey"]:
            keys.append(r["TargetColumnName"])
    return target_name, mapping, keys


def apply_output_mapping(staging_df: DataFrame, mapping: list[tuple[str, str, str]]) -> DataFrame:
    """AdditionalTransform → cast(TargetDataType) → TargetPosition order."""
    return staging_df.select(
        *[
            F.expr(expr).cast(target_type).alias(name)
            for expr, name, target_type in mapping
        ]
    )


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
    precedence: list[str] | None = None,
) -> DataFrame:
    """J3 key-based MERGE: updates win over target on key match, unmatched
    target rows survive, unmatched updates insert.

    Union + latest-wins window (one shuffle on the keys) rather than a
    full-outer join: same result, simpler plan, and the window dedup is the
    standard CDC-compaction shape Spark optimizes well. On Delta this is
    ``MERGE INTO t USING u ON <keys> WHEN MATCHED UPDATE * WHEN NOT MATCHED
    INSERT *``.

    ``precedence`` (optional): column names forming a lexicographic
    "newer-wins" tuple (e.g. ``["ts", "event_id"]``). When given, the
    surviving row per key is the one with the GREATEST precedence tuple —
    source-vs-target only breaks exact ties (updates win). This is the
    conditional-merge shape (Delta: ``WHEN MATCHED AND s.ts > t.ts THEN
    UPDATE``) that makes out-of-order CDC apply order-independent: the
    final table depends only on the row set, never on which micro-batch
    delivered which row. When the tuple is a strict total order per key
    (a unique tie-break column last), the result is fully deterministic.
    """
    tagged = target.withColumn("_prio", F.lit(0)).unionByName(
        updates.withColumn("_prio", F.lit(1))
    )
    order = [F.col(c).desc() for c in (precedence or [])]
    order.append(F.col("_prio").desc())
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .drop("_rn", "_prio")
    )


def apply_changeset(
    base: DataFrame, changes: DataFrame, keys: list[str]
) -> DataFrame:
    """Replay a CDC changeset (``ManifestTable.diff`` output shape:
    ``keys + change_type + new_<col>...``) onto a base snapshot — the
    CONSUMER side of the changelog contract: ``apply_changeset(v_from,
    diff(v_from, v_to), keys) == v_to`` row-for-row. This is how a
    downstream replica ingests a snapshot delta without rescanning the
    source: O(base + changes), one anti-join shuffle for the deletes and
    one merge shuffle for the upserts, both keyed — at 100 TB the replica
    pays for the change volume, never the table.

    ``unchanged`` rows (if present) are ignored; ``delete`` keys are
    removed; ``insert``/``update`` rows land with their ``new_`` values.
    """
    vals = [c[len("new_") :] for c in changes.columns if c.startswith("new_")]
    deletes = changes.where(F.col("change_type") == "delete").select(*keys)
    upserts = changes.where(
        F.col("change_type").isin("insert", "update")
    ).select(*keys, *[F.col(f"new_{c}").alias(c) for c in vals])
    survived = base.join(deletes, keys, "left_anti")
    return merge_upsert(survived, upserts, keys)
