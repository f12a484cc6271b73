"""Stream-stream joins — watermark-bounded state on both sides.

The interval-bounded equi-join is THE scalable stream-join shape: the time
bound lets Spark evict both sides' state as watermarks advance, so state
is O(rate × interval) instead of unbounded. Works identically over batch
DataFrames (same builder, no state) — asserted in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _view_purchase_join(events: DataFrame, how: str) -> DataFrame:
    """Views joined to purchases by the same user at or after the view and
    no later than 30 minutes after it, with join type ``how``. A
    ``left_semi`` join returns only the view columns (the optimizer prunes
    the purchase side down to the join keys)."""
    views = events.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    cols = [F.col("v_user").alias("user_id"), "view_id", "view_ts"]
    if how != "left_semi":
        cols += ["purchase_id", "purchase_ts", "purchase_value"]
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 minutes")),
        how,
    ).select(*cols)


def view_purchase_conversions(events: DataFrame) -> DataFrame:
    """Per-user view → purchase conversions within 30 minutes: each view
    pairs with every later purchase by the same user inside the window.
    In streaming both inputs carry the events watermark, so join state is
    bounded by (watermark delay + interval)."""
    return _view_purchase_join(events, "inner")


def view_purchase_conversions_outer(events: DataFrame) -> DataFrame:
    """LEFT OUTER variant of :func:`view_purchase_conversions`: every view
    emits, converted or not — the shape conversion-funnel reporting needs
    (unconverted views are the interesting rows).

    In streaming, outer results for unmatched views can only emit once the
    watermark proves no matching purchase can still arrive (view_ts +
    interval + watermark delay), so the null-extended rows surface late by
    design; a one-pass AvailableNow replay emits them at stream end. State
    stays bounded exactly like the inner join — the time bound plus both
    sides' watermarks is what makes outer stream-stream joins legal at
    all (Spark rejects an unbounded outer stream join outright)."""
    return _view_purchase_join(events, "left_outer")


def view_purchase_converted_views(events: DataFrame) -> DataFrame:
    """LEFT SEMI variant of :func:`view_purchase_conversions`: each view
    that has AT LEAST ONE purchase by the same user within 30 minutes
    emits exactly once, with no purchase columns — the deduplicated
    "converted views" set (the inner join would emit one row per
    matching purchase).

    In streaming, semi joins emit EAGERLY like inner joins — a view row
    surfaces the moment its first matching purchase arrives; only the
    at-most-once bookkeeping (don't re-emit on later matches) is extra
    state, and the time bound + watermark evicts it just like the inner
    join's. No unmatched-side wait exists (unmatched views simply never
    emit), so an AvailableNow drain needs no heartbeat machinery."""
    return _view_purchase_join(events, "left_semi")


def enrich_with_dimension(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to each
    event by ``user_id``. The static side broadcasts, so the stream is never shuffled and
    no join state accumulates — each micro-batch joins against the (cached)
    dimension snapshot. This is the scalable shape for dimension lookup at
    any rate; the dimension refreshes per micro-batch if it's a lake table.
    Left join so events with no dimension row survive null-extended (same
    semantics over batch — asserted stream == batch in tests)."""
    return events.join(F.broadcast(dim), ["user_id"], "left")
