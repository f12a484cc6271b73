"""Deletion vectors — DELETE without rewriting immutable lake files.

The Delta/Iceberg v2 "merge-on-read" delete mechanism, re-expressed on
plain parquet + the repo's manifest commit protocol: base files are
written ONCE with a (chunk, ordinal) row identity; a DELETE appends the
matching ordinals to a bitmap SIDECAR (packed 62-bit words, one row per
(chunk, word) — see q95 for the word packing rationale) committed through
a :class:`ManifestTable` snapshot; readers anti-filter survivors by
testing the row's bit. Base part files are never touched — the property
the l22 certification asserts via mtimes.

Why this matters at 100 TB: a predicate delete that rewrites files has
write amplification proportional to TABLE size; with deletion vectors it
is proportional to DELETED ROWS / 62 longs, and the read-side cost is a
join against a bitmap that is ~0.2% of the base data even if EVERY row
were deleted. Applying the vectors by rewriting the survivors (Delta's
``REORG TABLE ... APPLY (PURGE)``) is not implemented: :meth:`read` is the
only consumer of the vectors.

Reference intent: the curated-zone maintenance the reference's load stage
declares (reference/source_code/sql/1. Metadata Creation.sql:133-146
targets MERGE-style upkeep); deletion vectors are how a lake does the
delete half of that without rewriting history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.sources.manifest import ManifestTable

WORD_BITS = 62  # DuckDB-replayable: 1 << 63 overflows BIGINT (see q95)


class DeletionVectorTable:
    """Immutable base parquet + versioned deletion-vector sidecar."""

    def __init__(self, spark: SparkSession, path: str, key_col: str):
        self.spark = spark
        self.key_col = key_col
        self.base_path = os.path.join(path, "base")
        self.dv = ManifestTable(spark, os.path.join(path, "dv"))

    # -- base layout --------------------------------------------------------

    def write_base(self, df: DataFrame) -> None:
        """One-time base write with row identity: chunk = key % 16
        (the file/row-group analog — ordinals are LOCAL to a chunk so no
        global sort is ever needed), ordinal = dense rank within chunk."""
        chunk = (F.col(self.key_col) % 16).alias("dv_chunk")
        w = W.partitionBy("dv_chunk").orderBy(self.key_col)
        (
            df.withColumn("dv_chunk", chunk)
            .withColumn("dv_rn", F.row_number().over(w) - 1)
            .write.mode("overwrite")
            .partitionBy("dv_chunk")
            .parquet(self.base_path)
        )

    def base_file_mtimes(self) -> dict[str, float]:
        """mtime per base part file — the never-rewritten invariant."""
        out: dict[str, float] = {}
        for root, _dirs, files in os.walk(self.base_path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[os.path.relpath(p, self.base_path)] = os.path.getmtime(p)
        return out

    def _base(self) -> DataFrame:
        return self.spark.read.parquet(self.base_path)

    def _current_vector(self) -> DataFrame | None:
        if self.dv.current_version() is None:
            return None
        return self.dv.read()

    def deleted_count(self) -> int:
        v = self._current_vector()
        if v is None:
            return 0
        row = v.agg(F.sum(F.bit_count("bits")).cast("long").alias("n")).first()
        return int(row["n"] or 0)

    # -- delete / read / maintain -------------------------------------------

    def delete(self, predicate) -> int:
        """Mark predicate rows deleted; returns the NEWLY deleted count.

        Cost: one base scan to find hits, a (chunk, word)-keyed bit_or
        with map-side combine (hits/62 output rows), a merge against the
        current vector (vector-sized, not table-sized), one manifest
        commit. Base files untouched; a crash before the commit leaves
        the previous snapshot live (ManifestTable's swap protocol).
        Idempotent: re-deleting already-deleted rows ORs into the same
        bits, so the delta is 0 and the data is unchanged."""
        before = self.deleted_count()
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(dv_rn % {WORD_BITS} AS INT))"
        )
        hits = (
            self._base()
            .where(predicate)
            .select(
                "dv_chunk",
                F.expr(f"dv_rn DIV {WORD_BITS}").alias("word"),
                mask.alias("mask"),
            )
            .groupBy("dv_chunk", "word")
            .agg(F.bit_or("mask").alias("bits"))
        )
        cur = self._current_vector()
        # safe self-reference: ManifestTable stages the new snapshot into
        # a fresh batch dir while the files `cur` reads stay on disk
        # until vacuum, so the merge plan never reads what it writes
        merged = (
            hits
            if cur is None
            else cur.unionByName(hits)
            .groupBy("dv_chunk", "word")
            .agg(F.bit_or("bits").alias("bits"))
        )
        self.dv.write(merged)
        return self.deleted_count() - before

    def read(self) -> DataFrame:
        """Survivors: base rows whose deletion bit is unset. The vector
        side is bitmap-words-sized — broadcast it; the base is never
        shuffled. Row identity columns are dropped on the way out."""
        base = self._base().withColumn(
            "word", F.expr(f"dv_rn DIV {WORD_BITS}")
        )
        v = self._current_vector()
        if v is None:
            return base.drop("dv_chunk", "dv_rn", "word")
        bit_set = F.expr(
            f"(shiftright(bits, CAST(dv_rn % {WORD_BITS} AS INT)) & 1) = 1"
        )
        return (
            base.join(F.broadcast(v), ["dv_chunk", "word"], "left")
            .where(F.col("bits").isNull() | ~bit_set)
            .drop("dv_chunk", "dv_rn", "word", "bits")
        )
