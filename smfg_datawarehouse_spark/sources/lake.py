"""Three-zone parquet lake (RAW → STAGING → CURATED): zone paths, staging
writes, format-agnostic sources and sinks.

Mirrors the reference's zone layout (``config/config.yaml:64-69``:
RAW_ZONE/STAGING_ZONE/CURATED_ZONE/LOGS_PATH) with per-table directories.

The reference writes pandas chunks as ``{table}_part_{n}.parquet`` then
consolidates to ONE file (``staging_data_extraction.py:30-80``). Spark
writes part-files natively, and consolidation is a table operation, not
a directory one: a table that is compacted, sorted for file skipping or
deleted from lives in a :class:`.manifest.ManifestTable`, whose
``compact`` (bin-pack to a target file size — at 100 TB ~128-512 MB
files, not one giant file), ``compact_sorted`` (clustering-preserving)
and ``delete`` (deletion vectors) commit through the same atomic CURRENT
swap as every other table write, and whose ``file_ranges`` is the
per-file zone map a pruned read (``read_files``) is planned from.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class LakeZones:
    base_dir: str

    @property
    def raw(self) -> str:
        return os.path.join(self.base_dir, "raw")

    @property
    def staging(self) -> str:
        return os.path.join(self.base_dir, "staging")

    @property
    def curated(self) -> str:
        return os.path.join(self.base_dir, "curated")

    @property
    def logs(self) -> str:
        return os.path.join(self.base_dir, "logs")

    def staging_table_dir(self, schema_name: str, table_name: str) -> str:
        return os.path.join(self.staging, schema_name, table_name)

    def curated_table_dir(self, schema_name: str, table_name: str) -> str:
        return os.path.join(self.curated, schema_name, table_name)


def write_staging(
    df: DataFrame,
    zones: LakeZones,
    schema_name: str,
    table_name: str,
    mode: str,
) -> str:
    """Staging-zone write (``mode`` ``overwrite`` or ``append``).
    Replicates the reference's consolidation-time row-quality filter
    (all-NA rows skipped, ``staging_data_extraction.py:53-56``) as
    ``na.drop("all")``."""
    path = zones.staging_table_dir(schema_name, table_name)
    df.na.drop("all").write.mode(mode).parquet(path)
    return path


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> str:
    """Hive-style partitioned layout (``path/col=value/``) — the lake-side
    enabler of partition pruning: a query filtering on ``partition_cols``
    scans only matching directories (shows as ``PartitionFilters`` in the
    plan), which at 100 TB is the difference between reading one day and
    reading three years. Choose low-cardinality, always-filtered columns
    (load date, region); never high-cardinality keys (small-file explosion).
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    return path


def read_source(spark, fmt: str, path: str, schema, options: dict):
    """Format-agnostic source reader (parquet / csv / json / orc / text).

    The reference's only sources are MySQL and parquet; Spark's DataSource
    V2 stack gives the rest for free, but the engine exposes ONE entry
    point so metadata-driven configs can name a format the way they name a
    table. The explicit ``schema`` skips the inference pass — REQUIRED at
    scale for csv/json (schema inference reads the data twice) and the
    only way to get stable types out of schemaless formats.
    """
    reader = spark.read.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.format(fmt).load(path)


def write_sink(df: DataFrame, fmt: str, path: str, options: dict) -> str:
    """Format-agnostic sink twin of :func:`read_source` (overwrites)."""
    writer = df.write.mode("overwrite")
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.format(fmt).save(path)
    return path


def read_evolved_parquet(spark, path: str):
    """Read a parquet directory whose batches were written with EVOLVING
    schemas (columns added over time): ``mergeSchema`` unions all part
    schemas; rows from older batches surface the new columns as NULL.
    The lake-side answer to the reference's mutable column configs —
    adding a column to ``DW_Column_Config`` must not invalidate
    already-landed data."""
    return spark.read.option("mergeSchema", "true").parquet(path)
