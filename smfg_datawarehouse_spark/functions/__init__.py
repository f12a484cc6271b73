"""Reusable column-expression builders (all JVM-side, codegen-friendly).

These are the engine's scalar/aggregate building blocks. Each stays inside
``pyspark.sql.functions`` so Catalyst keeps whole-stage codegen — no Python
UDFs in any hot path.
"""

from smfg_datawarehouse_spark.functions.ordered_agg import ordered_concat_ws
from smfg_datawarehouse_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
)
from smfg_datawarehouse_spark.functions.text import (
    WS_RUN,
    attach_shingle_df,
    collapse_ws,
    shingle_table,
    term_scoped_postings,
    word_shingles,
    word_tokens,
)

__all__ = [
    "ordered_concat_ws",
    "cosine_similarity",
    "dot_product",
    "l2_norm",
    "WS_RUN",
    "attach_shingle_df",
    "collapse_ws",
    "shingle_table",
    "term_scoped_postings",
    "word_shingles",
    "word_tokens",
]
