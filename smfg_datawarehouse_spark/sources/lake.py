"""Three-zone parquet lake (RAW → STAGING → CURATED) + compaction.

Mirrors the reference's zone layout (``config/config.yaml:64-69``:
RAW_ZONE/STAGING_ZONE/CURATED_ZONE/LOGS_PATH) with per-table directories.

The reference writes pandas chunks as ``{table}_part_{n}.parquet`` then
consolidates to ONE file (``staging_data_extraction.py:30-80``). Spark
writes part-files natively; consolidation here is *sizing*, not gluing:
:func:`compact` rewrites a directory to ``max(1, bytes/target)`` files —
at 100 TB you want ~128-512 MB files, not one giant file, so single-file
output is a parameter, not a hard-coded behavior.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


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


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def compact(spark: SparkSession, path: str, target_file_bytes: int) -> str:
    """Rewrite a parquet dir into files of about ``target_file_bytes``
    each, at least one (snappy, Spark default).

    Equivalent of the reference's consolidate-to-one-file step but
    scale-aware; pass ``target_file_bytes`` large to force a single file at
    test scale.
    """
    n_files = max(1, _dir_bytes(path) // target_file_bytes)
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    df.coalesce(int(n_files)).write.mode("overwrite").parquet(tmp)
    _swap_dir(tmp, path)
    return path


def _swap_dir(new: str, path: str) -> None:
    """Replace directory ``path`` with the fully written directory ``new``
    by two renames (each atomic on a local/POSIX fs): rename-old-away ->
    rename-new-in -> delete-old. A failed rename-in rolls the original
    back, so a reader never observes an absent ``path``; a leftover old
    directory from an earlier crash is cleared first. The one swap every
    compaction uses. (Object stores have no atomic rename; there the
    production shape is a manifest commit — Delta/Iceberg-style — not
    this.)"""
    old = path.rstrip("/") + "__compact_old"
    if os.path.exists(old):  # leftover from a previous crashed swap
        shutil.rmtree(old)
    os.rename(path, old)
    try:
        os.rename(new, path)
    except OSError:
        os.rename(old, path)  # roll back: restore the original dir
        raise
    shutil.rmtree(old)


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


def write_sorted_with_zonemap(
    df: DataFrame,
    path: str,
    order_col: str,
    n_files: int,
) -> list[dict]:
    """Range-partitioned sorted export + per-file ZONE MAP (min/max of
    ``order_col`` per file) — the layout that makes a 100 TB time-range
    query read 1% of the files instead of all of them.

    ``repartitionByRange`` gives files with (sampling-derived) disjoint
    key ranges; ``sortWithinPartitions`` orders rows inside each file so
    parquet row-group statistics are tight too. The returned zone map is
    collected from a column-pruned scan of the written files (bounded:
    one row per file); at true scale the same min/max pairs come straight
    from the parquet footers the write already produced — this keeps the
    protocol explicit and engine-checkable. Mirrors the reference's
    consolidated-extract ordering intent (``staging_data_extraction.py``
    ORDER BY before write) with a layout that is *useful* to the reader,
    not just tidy."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    (
        df.repartitionByRange(n_files, F.col(order_col))
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .parquet(path)
    )
    stats = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min(order_col).alias("lo"),
            F.max(order_col).alias("hi"),
        )
        .collect()
    )
    return [{"file": r["file"], "lo": r["lo"], "hi": r["hi"]} for r in stats]


def read_zonemap_pruned(
    spark: SparkSession,
    zonemap: list[dict],
    lo,
    hi,
):
    """Read only the files whose [min, max] zone intersects [lo, hi].
    Returns ``(df, n_files_read, n_files_total)``. Zone maps are
    conservative — the caller still applies the exact predicate; pruning
    only removes files that *cannot* contain a match, so the result is
    identical to a full scan + filter. This is partition pruning's
    file-granularity sibling, done engine-side so the skip decision is
    inspectable (Spark's own parquet reader then skips row groups within
    the chosen files off the same statistics)."""
    keep = [z["file"] for z in zonemap if not (z["hi"] < lo or z["lo"] > hi)]
    if not keep:
        raise ValueError("zone map pruned every file; empty read")
    return spark.read.parquet(*keep), len(keep), len(zonemap)


def binpack_compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int,
) -> dict:
    """MINOR compaction: rewrite only the files smaller than
    ``target_file_bytes``, first-fit-decreasing bin-packed into
    target-sized groups; files already at target are carried into the
    new directory as HARD LINKS (same inode — zero bytes copied or
    rewritten). This is the incremental OPTIMIZE a continuously-ingesting
    100 TB table runs hourly: cost scales with the small-file backlog,
    not the table. Same crash-safe swap as ``compact`` (``_swap_dir``: a
    reader never observes an absent directory); on an object store the
    production shape is a manifest commit that adds the packed files and
    drops the packed-away ones (``ManifestTable`` is that shape).

    Returns {"n_before", "n_after", "n_bins", "kept": [basenames]} for
    the caller to assert layout invariants against.
    """
    files = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )
    sizes = {f: os.path.getsize(os.path.join(path, f)) for f in files}
    small = sorted(
        (f for f in files if sizes[f] < target_file_bytes),
        key=lambda f: (-sizes[f], f),
    )
    big = [f for f in files if sizes[f] >= target_file_bytes]

    bins: list[list[str]] = []
    bin_free: list[int] = []
    for f in small:  # first-fit-decreasing over metadata only
        for i, free in enumerate(bin_free):
            if sizes[f] <= free:
                bins[i].append(f)
                bin_free[i] -= sizes[f]
                break
        else:
            bins.append([f])
            bin_free.append(target_file_bytes - sizes[f])

    tmp = path.rstrip("/") + "__binpack_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for f in big:
        os.link(os.path.join(path, f), os.path.join(tmp, f))
    for group in bins:
        spark.read.parquet(*[os.path.join(path, f) for f in group]).coalesce(
            1
        ).write.mode("append").parquet(tmp)

    _swap_dir(tmp, path)
    n_after = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    return {
        "n_before": len(files),
        "n_after": n_after,
        "n_bins": len(bins),
        "kept": big,
    }


def plan_contiguous_runs(item_sizes: list[int], target_groups: int) -> list[list[int]]:
    """Split item indices ``0..n-1`` into exactly ``min(target_groups, n)``
    NON-EMPTY CONTIGUOUS runs with size-balanced byte totals. The budget
    is rebalanced as each run closes (``remaining_bytes /
    remaining_runs``), so one oversized item cannot starve later runs —
    a fixed ``total/target`` budget ended below target on uneven sizes
    (the l34 sf0.1 failure). Pure planning logic, property-tested in
    ``tests/test_lake_layout.py``; :func:`sorted_compact` maps the runs
    back onto its key-ordered file list."""
    n = len(item_sizes)
    if n == 0:
        return []
    n_groups = min(max(1, target_groups), n)
    runs: list[list[int]] = []
    remaining_bytes = sum(item_sizes)
    i = 0
    for gi in range(n_groups):
        left = n_groups - gi  # runs still to fill, this one included
        budget = remaining_bytes / left
        run = [i]
        acc = item_sizes[i]
        i += 1
        # absorb consecutive items while under this run's fair share,
        # always leaving >= 1 item per remaining run; the last run
        # takes everything left
        while i < n and (
            gi == n_groups - 1
            or ((n - i) > (left - 1) and acc + item_sizes[i] <= budget)
        ):
            run.append(i)
            acc += item_sizes[i]
            i += 1
        remaining_bytes -= acc
        runs.append(run)
    return runs


def sorted_compact(
    spark: SparkSession,
    path: str,
    order_col: str,
    target_files: int,
) -> dict:
    """CLUSTERING-PRESERVING compaction: merge only ADJACENT files in
    ``order_col`` order, so the compacted layout keeps disjoint per-file
    key ranges and every zone map / row-group statistic stays as
    selective as before. A size-only compaction (``compact`` /
    ``coalesce``) would interleave ranges and silently destroy the
    file-skipping a sorted table was built for — the classic maintenance
    regression this variant exists to prevent.

    Plan over METADATA only (per-file min/max from a column-pruned scan,
    grouped into ``min(target_files, n_files)`` runs of CONSECUTIVE
    files in key order); each group is rewritten with
    ``sortWithinPartitions`` so intra-file order survives too. The byte
    budget is REBALANCED as groups close (``remaining_bytes /
    remaining_groups``), so an oversized early file cannot starve later
    groups — a fixed ``total/target`` budget produced fewer than
    ``target_files`` groups on uneven file sizes (the l34 sf0.1
    failure). Zero-row part files carry no key range; they are folded
    into the first group (zero bytes, zero rows — no layout effect)
    rather than silently dropped with the old directory.

    Swap protocol: write everything into a temp dir, then the same
    crash-safe two-rename swap as ``compact`` (``_swap_dir``: a failed
    rename-in restores the original). A reader never sees a half-written
    table — single-writer maintenance semantics, not the manifest-commit
    protocol (``manifest.append_once`` covers concurrent readers).
    Returns {"n_before", "n_after", "groups"}.
    """
    from pyspark.sql import functions as F

    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    if not files:
        return {"n_before": 0, "n_after": 0, "groups": 0}
    stats = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.min(order_col).alias("lo"), F.max(order_col).alias("hi"))
        .collect()
    )
    sizes = {
        os.path.join(path, f): os.path.getsize(os.path.join(path, f))
        for f in files
    }

    def _local(uri: str) -> str:
        return os.path.join(path, os.path.basename(uri.split("file:")[-1]))

    ordered = [_local(r["file"]) for r in sorted(stats, key=lambda r: (r["lo"], r["file"]))]
    empties = [p for f in files if (p := os.path.join(path, f)) not in set(ordered)]
    if not ordered:  # every file is zero-row: one merged empty part
        ordered, empties = empties, []

    groups = [
        [ordered[j] for j in run]
        for run in plan_contiguous_runs(
            [sizes.get(p, 0) for p in ordered], target_files
        )
    ]
    groups[0].extend(empties)  # zero-row files: keep their rows (none), drop the files

    tmp = path.rstrip("/") + "._compact_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i, grp in enumerate(groups):
        (
            spark.read.parquet(*grp)
            .coalesce(1)
            .sortWithinPartitions(order_col)
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, f"group-{i}"))
        )
    final = os.path.join(tmp, "_final")
    os.makedirs(final)
    for i in range(len(groups)):
        gdir = os.path.join(tmp, f"group-{i}")
        for f in os.listdir(gdir):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(gdir, f), os.path.join(final, f"part-{i:05d}.parquet")
                )
    _swap_dir(final, path)
    shutil.rmtree(tmp)
    return {"n_before": len(files), "n_after": len(groups), "groups": len(groups)}
