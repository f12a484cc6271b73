"""DeletionVectorTable: delete-without-rewrite unit coverage (the l22
certification drives the full lifecycle; these pin the mechanism edges)."""

from __future__ import annotations

from pyspark.sql import functions as F

from smfg_datawarehouse_spark.sources.deletion_vectors import DeletionVectorTable


def _mk(spark, tmp_path, n=300):
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    dvt = DeletionVectorTable(spark, str(tmp_path / "t"), "k")
    dvt.write_base(df)
    return dvt


def test_read_without_vector_is_identity(spark, tmp_path):
    dvt = _mk(spark, tmp_path)
    assert dvt.read().count() == 300
    assert set(dvt.read().columns) == {"k", "v"}


def test_delete_counts_and_survivors(spark, tmp_path):
    dvt = _mk(spark, tmp_path)
    assert dvt.delete("v = 0") == 43  # ids 0,7,...,294
    assert dvt.delete("k < 10") == 8  # 0 and 7 already deleted
    assert dvt.deleted_count() == 51
    surv = dvt.read()
    assert surv.count() == 249
    assert surv.where("v = 0 OR k < 10").count() == 0
    assert set(surv.columns) == {"k", "v"}  # row identity dropped


def test_delete_is_idempotent_and_base_untouched(spark, tmp_path):
    dvt = _mk(spark, tmp_path)
    mt0 = dvt.base_file_mtimes()
    assert len(mt0) >= 4  # one file per chunk partition at least
    dvt.delete("v = 3")
    assert dvt.delete("v = 3") == 0
    assert dvt.base_file_mtimes() == mt0
