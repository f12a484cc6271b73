"""Lake-layout scale features: partition pruning pinned against the
actual physical plan, format round trips and compaction."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.plans.inspect import formatted_plan
from smfg_datawarehouse_spark.queries import load_events
from smfg_datawarehouse_spark.sources import lake
from smfg_datawarehouse_spark.sources.lake import write_partitioned

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


#: each compaction with arguments that compact the test table to one file
COMPACTIONS = {
    "compact": lambda spark, path: lake.compact(spark, path, target_file_bytes=1 << 30),
    "binpack_compact": lambda spark, path: lake.binpack_compact(
        spark, path, target_file_bytes=1 << 30
    ),
    "sorted_compact": lambda spark, path: lake.sorted_compact(spark, path, "id", target_files=1),
}


@pytest.mark.parametrize("compaction", sorted(COMPACTIONS))
def test_compact_swap_crash_safe(spark, tmp_path, monkeypatch, compaction):
    """A compaction's swap must never leave a window where `path` is
    absent: kill the swap at the worst point (after rename-old-away, when
    the rename of the new directory onto `path` fails) and assert the
    original dir is restored intact."""
    import os

    run = COMPACTIONS[compaction]
    path = str(tmp_path / "tbl")
    spark.range(100).withColumn("v", F.col("id") * 2).write.parquet(path)
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    real_rename = os.rename
    def failing_rename(src, dst):
        if dst == path and not src.endswith("_old"):  # the rename-new-in step
            raise OSError("injected crash mid-swap")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    try:
        run(spark, path)
        raise AssertionError("expected the injected OSError to propagate")
    except OSError:
        pass
    monkeypatch.undo()

    # original data is back at `path` (rolled back), readable and intact
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before
    assert not os.path.exists(path + "__compact_old")

    # and a clean run afterwards, over an earlier crash's leftover old
    # dir, still compacts to one file
    os.makedirs(path + "__compact_old")
    run(spark, path)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 1
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before


def test_sorted_compact_uneven_sizes_hits_target(spark, tmp_path):
    """Regression for the l34 sf0.1 failure: with a fixed total/target
    byte budget, one oversized run of files starved later groups and the
    compaction ended below target_files. The rebalanced budget must
    produce EXACTLY target_files groups with disjoint key ranges on
    deliberately uneven file sizes."""
    import os

    from smfg_datawarehouse_spark.sources.lake import sorted_compact

    path = str(tmp_path / "uneven")
    os.makedirs(path)
    # 12 files, wildly uneven: sizes ~ [9000 rows, 1, 1, ..., 1]
    bounds = [0, 9000, 9001, 9002, 9003, 9004, 9005, 9006, 9007, 9008, 9009, 9010, 9011]
    for i in range(12):
        spark.range(bounds[i], bounds[i + 1]).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS v"
        ).coalesce(1).write.parquet(str(tmp_path / f"stage{i}"))
        (src,) = [
            f for f in os.listdir(str(tmp_path / f"stage{i}")) if f.endswith(".parquet")
        ]
        os.rename(
            str(tmp_path / f"stage{i}" / src), os.path.join(path, f"part-{i:05d}.parquet")
        )
    res = sorted_compact(spark, path, "k", target_files=4)
    assert res == {"n_before": 12, "n_after": 4, "groups": 4}
    zm = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    )
    assert len(zm) == 4
    zs = sorted(zm, key=lambda r: r["lo"])
    for a, b in zip(zs, zs[1:]):
        assert b["lo"] > a["hi"], "compaction interleaved key ranges"
    assert spark.read.parquet(path).count() == 9011


def test_sorted_compact_keeps_zero_row_files_rows(spark, tmp_path):
    """Zero-row part files have no entry in the min/max stats scan; they
    must still be folded into a group (not silently dropped with the old
    directory) and the table's rows must survive byte-for-count."""
    import os

    from smfg_datawarehouse_spark.sources.lake import sorted_compact

    path = str(tmp_path / "withempty")
    os.makedirs(path)
    for i, (lo, hi) in enumerate([(0, 100), (100, 100), (100, 200), (200, 300)]):
        spark.range(lo, hi).selectExpr("id AS k").coalesce(1).write.parquet(
            str(tmp_path / f"st{i}")
        )
        (src,) = [f for f in os.listdir(str(tmp_path / f"st{i}")) if f.endswith(".parquet")]
        os.rename(str(tmp_path / f"st{i}" / src), os.path.join(path, f"part-{i:05d}.parquet"))
    res = sorted_compact(spark, path, "k", target_files=2)
    assert res["n_before"] == 4 and res["n_after"] == 2
    assert spark.read.parquet(path).count() == 300


def test_sorted_compact_empty_table_noop(spark, tmp_path):
    """An empty table directory is a no-op, not a crash, and more groups
    than files collapses to one group per file."""
    import os

    from smfg_datawarehouse_spark.sources.lake import sorted_compact

    path = str(tmp_path / "empty")
    os.makedirs(path)
    assert sorted_compact(spark, path, "k", target_files=4) == {
        "n_before": 0,
        "n_after": 0,
        "groups": 0,
    }
    # fewer files than target: groups == n_files, never an empty group
    spark.range(0, 10).selectExpr("id AS k").coalesce(1).write.parquet(
        str(tmp_path / "one")
    )
    (src,) = [f for f in os.listdir(str(tmp_path / "one")) if f.endswith(".parquet")]
    os.rename(str(tmp_path / "one" / src), os.path.join(path, "part-00000.parquet"))
    res = sorted_compact(spark, path, "k", target_files=4)
    assert res == {"n_before": 1, "n_after": 1, "groups": 1}
    assert spark.read.parquet(path).count() == 10
