"""Lake-layout scale features: partition pruning pinned against the
actual physical plan, format round trips and compaction through the
manifest commit (``ManifestTable.compact`` / ``compact_sorted``)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.plans.inspect import formatted_plan
from smfg_datawarehouse_spark.queries import load_events
from smfg_datawarehouse_spark.sources.lake import write_partitioned
from smfg_datawarehouse_spark.sources.manifest import ManifestTable

SF_DIR = "/root/testdata/sf0.001"


def test_partition_pruning_reads_one_day(spark, tmp_path):
    events = load_events(spark, SF_DIR).withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "events_by_day")
    write_partitioned(events, path, ["day"])

    q = spark.read.parquet(path).where(F.col("day") == "2024-01-03")
    plan = formatted_plan(q)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "day" in m.group(1), "day filter must prune partitions"
    expected = events.where(F.col("day") == "2024-01-03").count()
    assert q.count() == expected


def test_csv_json_round_trip(spark, tmp_path):
    """Format-agnostic source/sink: csv and json round-trip with explicit
    schemas (no inference pass — the scale-safe path for schemaless
    formats)."""
    from pyspark.sql import types as T

    from smfg_datawarehouse_spark.sources.lake import read_source, write_sink

    src = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.25), (3, None, 0.0)],
        "id BIGINT, name STRING, score DOUBLE",
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    for fmt, opts in [("csv", {"header": "true"}), ("json", {})]:
        p = str(tmp_path / f"rt_{fmt}")
        write_sink(src, fmt, p, options=opts)
        back = read_source(spark, fmt, p, schema=schema, options=opts)
        assert back.schema == src.schema
        assert sorted(map(str, back.collect())) == sorted(map(str, src.collect()))


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Batches written before a column existed surface it as NULL under
    mergeSchema — catalog column additions can't invalidate landed data."""
    from smfg_datawarehouse_spark.sources.lake import read_evolved_parquet

    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id BIGINT, name STRING").write.mode(
        "overwrite"
    ).parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id BIGINT, name STRING, score DOUBLE"
    ).write.mode("append").parquet(p)
    merged = read_evolved_parquet(spark, p)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5


def _one_file_batches(mt, frames):
    """Commit each frame as one single-file batch (write, then appends)."""
    for i, df in enumerate(frames):
        (mt.append if i else mt.write)(df.coalesce(1))
    return mt.current_version()


#: the layouts the bin-pack compaction meets, as the row ranges of
#: single-file batches and the target size as a function of the file
#: sizes: every file below the target (l07's table) rewrites to one file;
#: a file at the target (l30's) is carried beside one rewritten bin
COMPACTIONS = {
    "compact": ([(0, 25), (25, 50), (50, 75), (75, 100)], lambda sizes: 1 << 30),
    "binpack_compact": ([(0, 5000), (5000, 5010), (5010, 5020), (5020, 5030)], max),
}


@pytest.mark.parametrize("compaction", sorted(COMPACTIONS))
def test_compact_swap_crash_safe(spark, tmp_path, monkeypatch, compaction):
    """A bin-pack compaction that dies at the CURRENT swap leaves the
    table on its prior snapshot, with every file that snapshot names
    still on disk; a rerun then carries the files at the target under
    their own paths and rewrites the rest as one file."""
    ranges, target_of = COMPACTIONS[compaction]
    mt = ManifestTable(spark, str(tmp_path / "t"))
    v = _one_file_batches(
        mt, [spark.range(lo, hi).withColumnRenamed("id", "k") for lo, hi in ranges]
    )
    files = mt.manifest(v)
    before = sorted(tuple(r) for r in mt.read(v).collect())
    sizes = {f: os.path.getsize(os.path.join(mt.path, f)) for f in files}
    target = target_of(sizes.values())
    carried = sorted(f for f in files if sizes[f] >= target)

    real_replace = os.replace

    def failing_replace(src, dst):
        if dst.endswith("CURRENT"):
            raise OSError("injected crash before pointer swap")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError):
        mt.compact(target_file_bytes=target)
    monkeypatch.undo()

    assert mt.current_version() == v and mt.manifest() == files
    assert all(os.path.exists(os.path.join(mt.path, f)) for f in files)
    assert sorted(tuple(r) for r in mt.read().collect()) == before

    assert mt.compact(target_file_bytes=target) == v + 1
    after = mt.manifest()
    assert sorted(set(after) & set(files)) == carried
    assert len(after) == len(carried) + 1
    assert sorted(tuple(r) for r in mt.read().collect()) == before


def test_sorted_compact_uneven_sizes_hits_target(spark, tmp_path):
    """Regression for the l34 sf0.1 failure: with a fixed total/target
    byte budget, one oversized run of files starved later groups and the
    compaction ended below target_files. The rebalanced budget must
    produce EXACTLY target_files groups with disjoint key ranges on
    deliberately uneven file sizes."""
    mt = ManifestTable(spark, str(tmp_path / "uneven"))
    # 12 files, wildly uneven: sizes ~ [9000 rows, 1, 1, ..., 1]
    bounds = [0, 9000, 9001, 9002, 9003, 9004, 9005, 9006, 9007, 9008, 9009, 9010, 9011]
    v0 = _one_file_batches(
        mt,
        [
            spark.range(bounds[i], bounds[i + 1]).selectExpr(
                "id AS k", "CAST(id AS DOUBLE) AS v"
            )
            for i in range(12)
        ],
    )
    v = mt.compact_sorted("k", target_files=4)
    assert (len(mt.manifest(v0)), len(mt.manifest(v))) == (12, 4)
    zm = mt.file_ranges("k")
    assert len(zm) == 4
    zs = sorted(zm, key=lambda r: r["lo"])
    for a, b in zip(zs, zs[1:]):
        assert b["lo"] > a["hi"], "compaction interleaved key ranges"
    assert mt.read(v).count() == 9011


def test_sorted_compact_keeps_zero_row_files_rows(spark, tmp_path):
    """Zero-row part files have no entry in the min stats scan; they
    must still be folded into a group (not left behind in the manifest)
    and the table's rows must survive byte-for-count."""
    mt = ManifestTable(spark, str(tmp_path / "withempty"))
    v0 = _one_file_batches(
        mt,
        [
            spark.range(lo, hi).selectExpr("id AS k")
            for lo, hi in [(0, 100), (100, 100), (100, 200), (200, 300)]
        ],
    )
    v = mt.compact_sorted("k", target_files=2)
    assert len(mt.manifest(v0)) == 4 and len(mt.manifest(v)) == 2
    assert mt.read(v).count() == 300


def test_sorted_compact_empty_table_noop(spark, tmp_path):
    """An empty table is a no-op (no commit), not a crash, and more
    groups than files collapses to one group per file."""
    mt = ManifestTable(spark, str(tmp_path / "empty"))
    assert mt.compact_sorted("k", target_files=4) is None
    assert mt.versions() == [] and mt.manifest() == []
    # fewer files than target: groups == n_files, never an empty group
    v0 = _one_file_batches(mt, [spark.range(0, 10).selectExpr("id AS k")])
    v = mt.compact_sorted("k", target_files=4)
    assert (len(mt.manifest(v0)), len(mt.manifest(v))) == (1, 1)
    assert mt.read(v).count() == 10
