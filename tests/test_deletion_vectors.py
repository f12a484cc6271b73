"""ManifestTable.delete: delete-without-rewrite unit coverage (the l22
certification drives the full lifecycle; these pin the mechanism edges)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from smfg_datawarehouse_spark.sources.manifest import ManifestTable


def _mk(spark, tmp_path, n=300):
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    mt = ManifestTable(spark, str(tmp_path / "t"))
    mt.write(df.repartition(4))
    return mt


def _data_mtimes(mt):
    return {f: os.path.getmtime(os.path.join(mt.path, f)) for f in mt.manifest()}


def test_read_without_vector_is_identity(spark, tmp_path):
    mt = _mk(spark, tmp_path)
    assert mt.read().count() == 300
    assert set(mt.read().columns) == {"k", "v"}
    assert "deletes" not in mt._doc()


def test_delete_counts_and_survivors(spark, tmp_path):
    mt = _mk(spark, tmp_path)
    assert mt.delete("v = 0") == 43  # ids 0,7,...,294
    assert mt.delete("k < 10") == 8  # 0 and 7 already deleted
    assert len(mt._doc()["deletes"]) == 2
    surv = mt.read()
    assert surv.count() == 249
    assert surv.where("v = 0 OR k < 10").count() == 0
    assert set(surv.columns) == {"k", "v"}  # row identity dropped


def test_delete_is_idempotent_and_base_untouched(spark, tmp_path):
    mt = _mk(spark, tmp_path)
    mt0 = _data_mtimes(mt)
    assert len(mt0) >= 4  # one file per partition
    mt.delete("v = 3")
    v = mt.current_version()
    assert mt.delete("v = 3") == 0
    assert mt.current_version() == v  # a no-op delete commits nothing
    assert _data_mtimes(mt) == mt0
