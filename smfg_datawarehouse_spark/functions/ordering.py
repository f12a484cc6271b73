"""Distributed global ordering — ordinals without a one-partition sort.

A naive ``ROW_NUMBER() OVER (ORDER BY v)`` moves the whole table through a
single partition. The scalable equivalent is two-phase: rows get a BAND
whose value is monotone in the sort key (e.g. ``v DIV width``), per-band
counts roll up to cumulative OFFSETS (a band-cardinality-sized window),
and each row's global ordinal is ``offset(band) + row_number() WITHIN its
band`` — every heavy window stays partitioned by band; the only
single-partition work is the tiny offset cumsum. Used by
x103_quantile_normalization and q100_equi_depth_histogram; the DuckDB
oracles compute the same ordinals with a plain global ROW_NUMBER — two
routes, one result.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def global_ordinals(
    df: DataFrame,
    order_cols: list[str],
    band: Column,
    out_col: str = "rn0",
) -> DataFrame:
    """Add ``out_col`` = 0-based global ordinal under ``ORDER BY
    order_cols`` (the last column must make the order total/unique).

    ``band`` MUST be monotone non-decreasing in the sort order (e.g.
    ``F.expr("v DIV 100")`` when ordering by ``v``) — ordinals are
    band-offset + within-band rank, so a non-monotone band silently
    breaks the global order.
    """
    banded = df.withColumn("_go_band", band)
    offsets = (
        banded.groupBy("_go_band")
        .agg(F.count(F.lit(1)).alias("_go_bc"))
        .withColumn(
            "_go_off",
            F.sum("_go_bc").over(
                W.orderBy("_go_band").rowsBetween(W.unboundedPreceding, -1)
            ),
        )
        .select("_go_band", F.coalesce("_go_off", F.lit(0)).alias("_go_off"))
    )
    wb = W.partitionBy("_go_band").orderBy(*order_cols)
    return (
        banded.join(F.broadcast(offsets), "_go_band")
        .withColumn(out_col, F.col("_go_off") + F.row_number().over(wb) - 1)
        .drop("_go_band", "_go_off")
    )


def distributed_ntile(
    df: DataFrame,
    n: int,
    order_cols: list[str],
    band: Column,
    out_col: str,
) -> DataFrame:
    """``NTILE(n) OVER (ORDER BY order_cols)`` (1-based, exact SQL
    semantics: the first ``N mod n`` buckets get ``ceil(N/n)`` rows, the
    rest ``floor(N/n)``) WITHOUT the single-partition global sort —
    ordinals come from :func:`global_ordinals` (band-partitioned
    windows), the bucket id is closed-form integer arithmetic from the
    0-based ordinal ``j`` and total count ``N``::

        q, r = N div n, N mod n
        bucket(j) = 1 + j div (q+1)                       if j < r*(q+1)
                    1 + r + (j - r*(q+1)) div q           otherwise

    Bit-identical to the engines' NTILE (both implement the same
    partition rule), so a DuckDB oracle can keep a plain NTILE. ``band``
    follows the :func:`global_ordinals` monotonicity contract.

    ``df`` is referenced twice (band offsets + ordinal join) and its row
    count is needed for the bucket split, so the input is
    ``localCheckpoint``-ed first — one materialization instead of three
    upstream replays — and then counted (a bounded scalar driver read,
    same class as a config/centroid read)."""
    df = df.localCheckpoint()
    n_total = df.count()
    rn = "_nt_rn"
    with_rn = global_ordinals(df, order_cols, band, out_col=rn)
    # exact Python-int split (ordinals stay BIGINT end-to-end; the
    # closed-form constants fold into the projection)
    q, r = divmod(n_total, n)
    big, head = q + 1, (n_total % n) * (q + 1)
    bucket = F.when(
        F.col(rn) < head, F.lit(1) + F.expr(f"{rn} DIV {big}")
    ).otherwise(F.lit(1 + r) + F.expr(f"({rn} - {head}) DIV {max(q, 1)}"))
    return with_rn.withColumn(out_col, bucket.cast("long")).drop(rn)
