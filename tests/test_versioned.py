"""Curated-table versions on the manifest commit: atomic visibility, time
travel, MERGE (conditional on its base version), vacuum, and the streaming
foreachBatch-MERGE path on top of it."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.sources.manifest import CommitConflict, ManifestTable


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "v").collect())


def _latest_per_user(df):
    """Reference latest-wins state: the newest (ts, event_id) row per user."""
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return df.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")


def test_versioned_write_merge_time_travel_vacuum(spark, tmp_path):
    vt = ManifestTable(spark, str(tmp_path / "tbl"))
    assert vt.versions() == [] and vt.current_version() is None

    v1 = vt.write(spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING"))
    assert v1 == 1 and vt.versions() == [1]

    # MERGE: key 2 updated, key 3 inserted, key 1 survives untouched
    v2 = vt.merge(
        spark.createDataFrame([(2, "B"), (3, "c")], "k INT, v STRING"), ["k"]
    )
    assert v2 == 2
    assert _rows(vt.read()) == [(1, "a"), (2, "B"), (3, "c")]
    # time travel: the old snapshot is intact
    assert _rows(vt.read(version=v1)) == [(1, "a"), (2, "b")]

    v3 = vt.merge(spark.createDataFrame([(1, "A")], "k INT, v STRING"), ["k"])
    assert vt.versions() == [v1, v2, v3]
    only_v1 = set(vt.manifest(v1)) - set(vt.manifest(v2)) - set(vt.manifest(v3))
    removed = vt.vacuum(keep_last=2)
    assert set(removed) == only_v1 and vt.versions() == [v2, v3]
    assert not any(os.path.exists(os.path.join(vt.path, f)) for f in removed)
    with pytest.raises(FileNotFoundError):
        vt.read(version=v1)
    assert _rows(vt.read()) == [(1, "A"), (2, "B"), (3, "c")]


def test_versioned_uncommitted_snapshot_invisible(spark, tmp_path):
    """A staged-but-uncommitted batch and a manifest written without its
    CURRENT swap (a crash mid-commit) are never visible, and vacuum
    reclaims both."""
    vt = ManifestTable(spark, str(tmp_path / "tbl"))
    v1 = vt.write(spark.createDataFrame([(1, "a")], "k INT, v STRING"))
    # simulate a crash: a batch staged, its manifest written, CURRENT not swapped
    staged = vt.stage(spark.createDataFrame([(2, "b")], "k INT, v STRING"))
    with open(vt._manifest_path(v1 + 1), "w") as fh:
        json.dump({"version": v1 + 1, "files": staged, "txns": {}}, fh)
    assert vt.versions() == [v1] and vt.current_version() == v1
    assert _rows(vt.read()) == [(1, "a")]
    with pytest.raises(FileNotFoundError):
        vt.read(version=v1 + 1)
    assert set(vt.vacuum(keep_last=1)) == set(staged)
    assert not any(os.path.exists(os.path.join(vt.path, f)) for f in staged)
    assert not os.path.exists(vt._manifest_path(v1 + 1))
    assert _rows(vt.read()) == [(1, "a")]


def test_merge_from_stale_base_conflicts(spark, tmp_path):
    """Two writers merge from the same base: the one that commits second
    gets CommitConflict, and the table keeps the first merge's result."""
    schema = "k INT, v STRING"
    first = ManifestTable(spark, str(tmp_path / "tbl"))
    second = ManifestTable(spark, str(tmp_path / "tbl"))
    base = first.write(spark.createDataFrame([(1, "a"), (2, "b")], schema))

    stage = second._stage

    def stage_then_lose_race(df, batch):
        files = stage(df, batch)  # second has read and staged from `base`
        first.merge(spark.createDataFrame([(2, "first")], schema), ["k"])
        return files

    second._stage = stage_then_lose_race
    with pytest.raises(CommitConflict):
        second.merge(spark.createDataFrame([(1, "second")], schema), ["k"])
    assert first.versions() == [base, base + 1]
    assert _rows(first.read()) == [(1, "a"), (2, "first")]


def test_versioned_streaming_merge(spark, tmp_path):
    """foreachBatch MERGE into a curated table: after N micro-batches the
    table equals the batch latest-wins state, with one version per batch
    and full history retained until vacuum."""
    from smfg_datawarehouse_spark.queries import load_events

    SF_DIR = "/root/testdata/sf0.001"
    src = load_events(spark, SF_DIR)
    src_dir = str(tmp_path / "src")
    src.repartition(3).write.parquet(src_dir)

    vt = ManifestTable(spark, str(tmp_path / "curated"))

    def sink(batch_df, _bid):
        # ts-aware upsert: the precedence merge keeps the newest row per
        # user — plain updates-win MERGE would regress a user if a later
        # batch carried an older event. Reading the old snapshot while
        # staging the new one is safe: the merge stages a fresh batch dir.
        vt.merge(_latest_per_user(batch_df), ["user_id"], precedence=["ts", "event_id"])

    q = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)

    def rowset(df):
        return sorted(tuple(str(v) for v in r) for r in df.collect())

    assert len(vt.versions()) == 3  # one version per micro-batch
    assert rowset(vt.read()) == rowset(_latest_per_user(src))


def test_merge_precedence_newer_wins(spark, tmp_path):
    """Conditional merge: a STALE update (lower precedence tuple) must not
    clobber the newer row already in the table; a newer one must; updates
    win exact-tuple ties. Order of merges can't change the outcome."""
    vt = ManifestTable(spark, str(tmp_path / "tbl"))
    schema = "k INT, seq INT, v STRING"
    vt.write(spark.createDataFrame([(1, 5, "t5"), (2, 1, "t1")], schema))

    # stale for k=1 (seq 3 < 5), fresh for k=2 (seq 4 > 1), insert k=3
    vt.merge(
        spark.createDataFrame([(1, 3, "u3"), (2, 4, "u4"), (3, 1, "n1")], schema),
        ["k"],
        precedence=["seq"],
    )
    got = sorted(tuple(r) for r in vt.read().collect())
    assert got == [(1, 5, "t5"), (2, 4, "u4"), (3, 1, "n1")]

    # exact tie on the precedence tuple -> the update wins
    vt.merge(
        spark.createDataFrame([(1, 5, "tie")], schema), ["k"], precedence=["seq"]
    )
    got = sorted(tuple(r) for r in vt.read().collect())
    assert (1, 5, "tie") in got

    # reversed arrival order of the same two updates -> same final row
    vt2 = ManifestTable(spark, str(tmp_path / "tbl2"))
    vt2.write(spark.createDataFrame([(9, 2, "a")], schema))
    vt2.merge(spark.createDataFrame([(9, 7, "new")], schema), ["k"], ["seq"])
    vt2.merge(spark.createDataFrame([(9, 4, "old")], schema), ["k"], ["seq"])
    assert [tuple(r) for r in vt2.read().collect()] == [(9, 7, "new")]


def test_snapshot_diff_classification(spark, tmp_path):
    """diff(old, new) classifies insert/delete/update/unchanged with
    null-safe comparison (NULL->NULL is unchanged, NULL->value is update)."""
    vt = ManifestTable(spark, str(tmp_path / "tbl"))
    schema = "k INT, a STRING, b INT"
    old = vt.write(
        spark.createDataFrame(
            [(1, "keep", 10), (2, "upd", 20), (3, "del", 30), (4, None, None)],
            schema,
        )
    )
    new = vt.write(
        spark.createDataFrame(
            [(1, "keep", 10), (2, "UPD", 20), (4, None, 40), (5, "ins", 50)],
            schema,
        )
    )
    d = {r["k"]: r for r in vt.diff(old, new, ["k"]).collect()}
    assert d[1]["change_type"] == "unchanged"
    assert d[2]["change_type"] == "update"
    assert d[2]["old_a"] == "upd" and d[2]["new_a"] == "UPD"
    assert d[3]["change_type"] == "delete" and d[3]["new_a"] is None
    assert d[4]["change_type"] == "update"  # NULL -> 40 is a change
    assert d[5]["change_type"] == "insert" and d[5]["old_a"] is None
    assert len(d) == 5


def test_snapshot_diff_null_key(spark, tmp_path):
    """A row whose merge key is NULL must match itself across versions
    (null-safe key join), not be misread as a delete+insert pair."""
    vt = ManifestTable(spark, str(tmp_path / "tbl"))
    schema = "k INT, v STRING"
    old = vt.write(spark.createDataFrame([(None, "same"), (1, "a")], schema))
    new = vt.write(spark.createDataFrame([(None, "SAME"), (1, "a")], schema))
    d = vt.diff(old, new, ["k"]).collect()
    by_key = {r["k"]: r for r in d}
    assert len(d) == 2  # NULL key produced ONE row, not delete+insert
    assert by_key[None]["change_type"] == "update"
    assert by_key[None]["old_v"] == "same" and by_key[None]["new_v"] == "SAME"
    assert by_key[1]["change_type"] == "unchanged"


def test_precedence_merge_replay_idempotent(spark, tmp_path):
    """At-least-once safety: re-applying the SAME batch (a foreachBatch
    replay after a crash between merge and checkpoint commit) must leave
    the table content unchanged — the precedence tuple makes the merge
    idempotent, so the CDC path tolerates redelivery without markers."""
    vt = ManifestTable(spark, str(tmp_path / "tbl"))
    schema = "k INT, seq INT, v STRING"
    vt.write(spark.createDataFrame([(1, 1, "a"), (2, 9, "z")], schema))
    batch = spark.createDataFrame([(1, 5, "b"), (3, 2, "c")], schema)
    vt.merge(batch, ["k"], precedence=["seq"])
    first = sorted(tuple(r) for r in vt.read().collect())
    vt.merge(batch, ["k"], precedence=["seq"])  # replay
    assert sorted(tuple(r) for r in vt.read().collect()) == first


def test_apply_changeset_roundtrip(spark, tmp_path):
    """apply_changeset(old, diff(old, new)) == new, whether or not the
    changeset still carries its 'unchanged' rows."""
    from smfg_datawarehouse_spark.transform import apply_changeset

    vt = ManifestTable(spark, str(tmp_path / "tbl"))
    schema = "k INT, a STRING, b INT"
    old = vt.write(
        spark.createDataFrame(
            [(1, "keep", 10), (2, "upd", 20), (3, "del", 30)], schema
        )
    )
    new = vt.write(
        spark.createDataFrame(
            [(1, "keep", 10), (2, "UPD", 21), (5, "ins", 50)], schema
        )
    )
    want = sorted(tuple(r) for r in vt.read(new).collect())
    full = vt.diff(old, new, ["k"])
    for changes in (full, full.where("change_type <> 'unchanged'")):
        got = apply_changeset(vt.read(old), changes, ["k"])
        assert sorted(tuple(r) for r in got.collect()) == want
