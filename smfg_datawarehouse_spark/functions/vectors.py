"""Vector math over ``array<float/double>`` columns — pure Catalyst expressions.

Built for the similarity-search surface (BASELINE.json extension ops). Using
``F.zip_with`` + ``F.aggregate`` keeps the math in the JVM. Both folds run
left to right from ``0.0`` (``acc + x*y``), the IEEE-identical fold of
DuckDB's ``list_reduce``, so scores are bit-exact against the oracle; the
exact rerank of the ANN ladders (``operators.similarity._exact_rerank``)
and l25's index probe are built on them. The numpy scan kernels in
``operators/similarity.py`` run the same fold per Arrow batch.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_product(a: Column, b: Column) -> Column:
    """Elementwise dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def squared_l2(a: Column, b: Column) -> Column:
    """Squared Euclidean distance of two array columns: ``(x - y)²`` folded
    left to right from ``0.0``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def max_abs(a: Column) -> Column:
    """Largest ``|x|`` of an array column (``0.0`` for an empty array)."""
    return F.aggregate(
        F.transform(a, lambda x: F.abs(x)), F.lit(0.0), lambda acc, v: F.greatest(acc, v)
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL-safe on zero-norm vectors (returns NULL)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0, dot_product(a, b) / denom)
