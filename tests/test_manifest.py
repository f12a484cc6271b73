"""ManifestTable: the object-store-safe commit protocol — immutable data
files, atomic CURRENT swap, compaction that deletes nothing, vacuum as
the only destructive step (sources/manifest.py)."""

from __future__ import annotations

import os

import pytest

from smfg_datawarehouse_spark.sources.manifest import ManifestTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_write_append_read_roundtrip(spark, tmp_path):
    mt = ManifestTable(spark, str(tmp_path / "t"))
    a = spark.range(0, 50).withColumnRenamed("id", "k")
    b = spark.range(50, 80).withColumnRenamed("id", "k")
    assert mt.write(a) == 1
    assert mt.append(b) == 2
    assert _rows(mt.read()) == _rows(a.union(b))
    assert _rows(mt.read(1)) == _rows(a)  # time travel via manifest pin


def test_compact_preserves_inflight_snapshot(spark, tmp_path):
    """The property a directory swap cannot give: a reader holding the
    pre-compaction manifest keeps a fully readable, identical snapshot
    across the compaction commit."""
    mt = ManifestTable(spark, str(tmp_path / "t"))
    mt.write(spark.range(100).repartition(6))
    v_before = mt.current_version()
    pinned = mt.manifest(v_before)
    before = _rows(mt.read(v_before))
    v_after = mt.compact(target_file_bytes=1 << 30)
    assert v_after == v_before + 1
    assert len(mt.manifest(v_after)) == 1 < len(pinned)
    # old files untouched by the commit
    for f in pinned:
        assert os.path.exists(os.path.join(mt.path, f))
    assert _rows(mt.read(v_before)) == before
    assert _rows(mt.read()) == before


def test_vacuum_removes_exactly_unreferenced(spark, tmp_path):
    mt = ManifestTable(spark, str(tmp_path / "t"))
    mt.write(spark.range(40).repartition(3))
    old_files = set(mt.manifest())
    mt.compact(target_file_bytes=1 << 30)
    keep_files = set(mt.manifest())
    removed = set(mt.vacuum(keep_last=1))
    assert removed == old_files
    for f in keep_files:
        assert os.path.exists(os.path.join(mt.path, f))
    assert mt.read().count() == 40
    with pytest.raises(Exception):
        mt.read(1).count()  # retention expired


def _crash_at_current_swap(monkeypatch, commit) -> None:
    """Run ``commit`` with the CURRENT pointer swap failing: the writer
    dies after staging its files and writing its manifest."""
    real_replace = os.replace

    def failing_replace(src, dst):
        if dst.endswith("CURRENT"):
            raise OSError("injected crash before pointer swap")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError):
        commit()
    monkeypatch.undo()


def test_crash_before_swap_invisible(spark, tmp_path, monkeypatch):
    """A writer dying after staging files + writing the manifest but
    BEFORE the CURRENT swap leaves the previous snapshot fully intact —
    readers never observe the half-commit."""
    mt = ManifestTable(spark, str(tmp_path / "t"))
    mt.write(spark.range(10).withColumnRenamed("id", "k"))
    before = _rows(mt.read())

    _crash_at_current_swap(
        monkeypatch, lambda: mt.append(spark.range(10, 20).withColumnRenamed("id", "k"))
    )

    assert mt.current_version() == 1
    assert _rows(mt.read()) == before
    # and the table recovers: the next commit simply supersedes the orphan
    mt.append(spark.range(10, 20).withColumnRenamed("id", "k"))
    assert mt.read().count() == 20


#: each rewrite, with arguments that compact the test table to one file
#: (or delete its rows k < 10), and the file count and keys it leaves
COMPACTIONS = {
    "compact": (lambda mt: mt.compact(target_file_bytes=1 << 30), 1, range(100)),
    "compact_sorted": (lambda mt: mt.compact_sorted("k", target_files=1), 1, range(100)),
    "delete": (lambda mt: mt.delete("k < 10"), 4, range(10, 100)),
}


@pytest.mark.parametrize("compaction", sorted(COMPACTIONS))
def test_compaction_crash_before_swap_invisible(spark, tmp_path, monkeypatch, compaction):
    """A compaction or delete that dies at the CURRENT swap leaves the
    version, the file list and the rows of the prior snapshot as they
    were, and a rerun commits."""
    run, n_files, keys = COMPACTIONS[compaction]
    mt = ManifestTable(spark, str(tmp_path / "t"))
    mt.write(spark.range(100).withColumnRenamed("id", "k").repartition(4))
    v, files, before = mt.current_version(), mt.manifest(), _rows(mt.read())
    assert len(files) == 4

    _crash_at_current_swap(monkeypatch, lambda: run(mt))

    assert mt.current_version() == v
    assert mt.manifest() == files
    assert _rows(mt.read()) == before
    run(mt)
    assert mt.current_version() == v + 1
    assert len(mt.manifest()) == n_files
    assert _rows(mt.read()) == [(k,) for k in keys]


def test_compaction_conflicts_with_a_concurrent_append(spark, tmp_path, monkeypatch):
    """A compaction commits conditionally on the version it planned from:
    an append that lands while it stages makes it raise CommitConflict,
    and the appended rows stay in the table instead of being dropped."""
    from smfg_datawarehouse_spark.sources.manifest import CommitConflict

    mt = ManifestTable(spark, str(tmp_path / "t"))
    mt.write(spark.range(10).withColumnRenamed("id", "k").repartition(2))
    other = ManifestTable(spark, mt.path)
    real_stage = mt._stage

    def stage_then_append(df, batch):
        staged = real_stage(df, batch)
        other.append(spark.range(10, 20).withColumnRenamed("id", "k"))
        return staged

    monkeypatch.setattr(mt, "_stage", stage_then_append)
    with pytest.raises(CommitConflict):
        mt.compact(target_file_bytes=1 << 30)
    monkeypatch.undo()
    assert mt.current_version() == 2
    assert mt.read().count() == 20


def test_delete_conflicts_with_a_concurrent_append(spark, tmp_path, monkeypatch):
    """A delete commits conditionally on the version it read: an append
    that lands while it stages its vector makes it raise CommitConflict,
    and the table keeps the appended rows and no deletion."""
    from smfg_datawarehouse_spark.sources.manifest import CommitConflict

    mt = ManifestTable(spark, str(tmp_path / "t"))
    mt.write(spark.range(10).withColumnRenamed("id", "k").repartition(2))
    other = ManifestTable(spark, mt.path)
    real_write = mt._write_batch

    def write_then_append(df, batch):
        staged = real_write(df, batch)
        other.append(spark.range(10, 20).withColumnRenamed("id", "k"))
        return staged

    monkeypatch.setattr(mt, "_write_batch", write_then_append)
    with pytest.raises(CommitConflict):
        mt.delete("k < 5")
    monkeypatch.undo()
    assert mt.current_version() == 2
    assert mt.read().count() == 20


def _deleted_from(mt):
    """Data files the current snapshot's delete entries still cover."""
    return {f for e in mt._doc().get("deletes", []) for f in e["files"]}


def test_compact_after_delete_drops_rewritten_entries(spark, tmp_path):
    """Compaction reads surviving rows only, so no deleted row comes back;
    the files it rewrote leave the delete entries, while a file it
    carries keeps its entry and its deleted rows stay deleted."""
    mt = ManifestTable(spark, str(tmp_path / "t"))
    mt.write(spark.range(2000).withColumnRenamed("id", "k").coalesce(1))  # big file
    mt.append(spark.range(2000, 2100).withColumnRenamed("id", "k").repartition(3))
    big = mt.manifest(1)[0]
    target = os.path.getsize(os.path.join(mt.path, big))
    assert mt.delete("k % 10 = 0") == 210
    assert len(_deleted_from(mt)) == 4
    v = mt.compact(target_file_bytes=target)
    assert big in mt.manifest(v) and len(mt.manifest(v)) == 2
    assert _deleted_from(mt) == {big}
    assert mt.read().count() == 1890
    assert mt.read().where("k % 10 = 0").count() == 0
    mt.compact(target_file_bytes=1 << 30)  # rewrites the carried file too
    assert "deletes" not in mt._doc()
    assert mt.read().count() == 1890
    assert mt.read().where("k % 10 = 0").count() == 0


def test_vacuum_keeps_referenced_vectors_and_removes_superseded(spark, tmp_path):
    """A vector file stays while a retained manifest names it, across
    commits that carry it forward, and goes once the rewrite that
    superseded it is the only retained version."""
    mt = ManifestTable(spark, str(tmp_path / "t"))
    mt.write(spark.range(100).withColumnRenamed("id", "k").repartition(3))
    mt.delete("k < 20")
    vector = mt._doc()["deletes"][0]["vector"]
    mt.append(spark.range(100, 110).withColumnRenamed("id", "k"))
    removed = mt.vacuum(keep_last=1)
    assert not set(vector) & set(removed)
    assert all(os.path.exists(os.path.join(mt.path, f)) for f in vector)
    assert mt.read().count() == 90
    mt.compact(target_file_bytes=1 << 30)
    assert "deletes" not in mt._doc()
    removed = mt.vacuum(keep_last=1)
    assert set(vector) <= set(removed)
    assert mt.read().count() == 90 and mt.read().where("k < 20").count() == 0


def test_shallow_clone_reads_surviving_rows(spark, tmp_path):
    """A clone references the source's vector files as well as its data
    files, so it reads the same surviving rows, and its own deletes stay
    its own."""
    from smfg_datawarehouse_spark.sources.manifest import shallow_clone

    src = ManifestTable(spark, str(tmp_path / "src"))
    src.write(spark.range(100).withColumnRenamed("id", "k").repartition(3))
    src.delete("k % 3 = 0")
    clone = shallow_clone(src, str(tmp_path / "clone"))
    assert _rows(clone.read()) == _rows(src.read())
    assert clone.read().count() == 66
    assert clone.delete("k < 50") == 33
    assert clone.read().count() == 33 and src.read().count() == 66


def test_wap_staged_files_invisible_until_publish(spark, tmp_path):
    from pyspark.sql import functions as F

    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    mt = ManifestTable(spark, str(tmp_path / "wap"))
    mt.write(spark.range(10).select(F.col("id").alias("k")))
    v1 = mt.current_version()
    staged = mt.stage(spark.range(10, 15).select(F.col("id").alias("k")))
    assert mt.read_files(staged).count() == 5
    # staged but unpublished: readers still resolve v1
    assert mt.current_version() == v1
    assert mt.read().count() == 10
    mt.publish_append(staged)
    assert mt.current_version() != v1
    assert mt.read().count() == 15
    # abandoned staged batches are vacuumable debris, not table content
    orphan = mt.stage(spark.range(100, 200).select(F.col("id").alias("k")))
    assert mt.read().count() == 15
    removed = mt.vacuum(keep_last=1)
    assert any(f in removed for f in orphan)
    assert mt.read().count() == 15


def test_multi_table_catalog_atomicity(spark, tmp_path):
    from pyspark.sql import functions as F

    from smfg_datawarehouse_spark.sources.manifest import MultiTableCatalog

    cat = MultiTableCatalog(spark, str(tmp_path / "cat"))
    a1 = spark.range(5).select(F.col("id").alias("k"))
    b1 = spark.range(50).select((F.col("id") % 5).alias("k"), F.col("id").alias("v"))
    pinned = cat.transaction({"a": a1, "b": b1})
    assert set(pinned) == {"a", "b"}
    assert cat.read("a").count() == 5 and cat.read("b").count() == 50
    # torn second transaction: table 'a' commits, catalog never swaps
    cat.table("a").append(spark.range(5, 10).select(F.col("id").alias("k")))
    assert cat.current() == pinned
    assert cat.read("a").count() == 5  # catalog pins the consistent version
    # the next full transaction publishes everything atomically
    cat.transaction({"a": spark.range(10, 12).select(F.col("id").alias("k")),
                     "b": spark.range(50, 52).select(F.col("id").alias("k"),
                                                     F.col("id").alias("v"))})
    # catalog-pinned 'a' now includes the previously-torn rows too (they
    # are part of the table's history) plus the new batch
    assert cat.read("a").count() == 12 and cat.read("b").count() == 52


def test_manifest_tree_branch_pruning_and_stats(spark, tmp_path):
    """Branch stats must prune non-overlapping commits at the MANIFEST
    level, stay conservative (never drop matching rows), and survive a
    probe spanning several branches."""
    from pyspark.sql import functions as F

    from smfg_datawarehouse_spark.sources.manifest import ManifestTree

    tree = ManifestTree(spark, str(tmp_path / "tree"), "k")
    for lo in (0, 10, 20):
        tree.append(
            spark.range(lo, lo + 10).select(
                F.format_string("%02d", F.col("id")).alias("k"), "id"
            )
        )
    # single-branch probe
    df, total, opened = tree.read_pruned("00", "05")
    assert (total, opened) == (3, 1)
    assert sorted(r["id"] for r in df.where(F.col("k") <= "05").collect()) == list(range(6))
    # spanning probe opens exactly the two overlapping branches
    _, total, opened = tree.read_pruned("05", "15")
    assert (total, opened) == (3, 2)
    # out-of-range probe refuses rather than returning an empty scan
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        tree.read_pruned("90", "99")


def test_tree_numeric_prune_is_conservative(spark, tmp_path):
    """Regression (r5 ADVICE): min/max stored via str() made numeric
    stats compare lexicographically — branch [9, 12] vs probe [10, 11]
    was dropped ('9' <= '11' is false) and matching rows were lost.
    Native-typed stats must keep the branch."""
    from pyspark.sql import functions as F

    from smfg_datawarehouse_spark.sources.manifest import ManifestTree

    tree = ManifestTree(spark, str(tmp_path / "ntree"), "k")
    tree.append(spark.range(9, 13).select(F.col("id").alias("k")))   # [9, 12]
    tree.append(spark.range(100, 110).select(F.col("id").alias("k")))
    df, total, opened = tree.read_pruned(10, 11)
    assert (total, opened) == (2, 1)
    assert sorted(r["k"] for r in df.where("k BETWEEN 10 AND 11").collect()) == [10, 11]


def test_tree_timestamp_prune(spark, tmp_path):
    """Temporal prune columns round-trip through ISO encoding: probe
    bounds given as datetime objects prune chronologically."""
    import datetime as dt

    from pyspark.sql import functions as F

    from smfg_datawarehouse_spark.sources.manifest import ManifestTree

    tree = ManifestTree(spark, str(tmp_path / "ttree"), "ts")
    base = dt.datetime(2024, 3, 1)
    for w in range(3):
        lo = base + dt.timedelta(days=7 * w)
        tree.append(
            spark.range(0, 5).select(
                (F.lit(lo) + F.make_interval(days=F.col("id"))).alias("ts")
            )
        )
    _, total, opened = tree.read_pruned(
        dt.datetime(2024, 3, 8), dt.datetime(2024, 3, 10)
    )
    assert (total, opened) == (3, 1)


def test_append_once_marker_is_atomic_with_files(spark, tmp_path):
    """Exactly-once contract (r5 ADVICE): the idempotence marker must be
    published by the SAME atomic swap as the file list — no separate
    ledger file whose update can be lost between swap and write. A
    redelivery of a committed batch id is a no-op even immediately after
    the commit, and the txn map is carried forward by later commits and
    compaction."""
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable, append_once

    mt = ManifestTable(spark, str(tmp_path / "eo"))
    df1 = spark.range(0, 10).withColumnRenamed("id", "k")
    assert append_once(mt, df1, "w1", 0) == 1
    # marker lives inside the committed manifest, not a side file
    assert mt.txns() == {"w1": 0}
    assert not [f for f in os.listdir(str(tmp_path / "eo" / "manifest")) if f.startswith("txn-")]
    # redelivery of the same batch id: no-op, no duplicate rows
    assert append_once(mt, df1, "w1", 0) is None
    assert mt.read().count() == 10
    # independent writers don't interfere; map accumulates
    assert append_once(mt, df1, "w2", 0) == 2
    assert mt.txns() == {"w1": 0, "w2": 0}
    # a plain commit (compaction) carries the map forward
    mt.compact()
    assert mt.txns() == {"w1": 0, "w2": 0}
    assert append_once(mt, df1, "w1", 0) is None
    assert append_once(mt, df1, "w1", 1) is not None
    assert mt.read().count() == 30
