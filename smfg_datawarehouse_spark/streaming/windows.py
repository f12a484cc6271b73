"""Windowed event aggregation: tumbling / sliding / session, batch+stream.

At scale these are the canonical Structured Streaming shapes: watermark
bounds state, window+key grouping shuffles once, and late rows beyond the
watermark are dropped deterministically. In batch mode the same expressions
compile to ordinary grouped aggregation (no state store).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smfg_datawarehouse_spark.queries import dsum

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", ts_type, True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )


def events_stream(
    spark: SparkSession,
    events_dir: str,
    watermark: str = "10 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over an events parquet directory.

    Streaming sources cannot infer schema, and fixture generations have
    stored ``ts`` as either INT64 TIMESTAMP(NANOS) or ``timestamp[us]`` —
    so peek at the batch-read schema (footer only, no data scan) and declare
    the stream schema to match, normalizing ``ts`` to TIMESTAMP either way
    (same branch as queries.load_events).

    ``max_files_per_trigger`` caps the files consumed per micro-batch —
    set it to 1 in tests/certification to force a multi-file backlog to
    drain across SEVERAL micro-batches (exercising cross-batch state:
    dedup, stateful aggregation) instead of collapsing into one."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    observed = spark.read.parquet(events_dir).schema["ts"].dataType
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if isinstance(observed, T.LongType):
        stream = (
            reader.schema(_events_schema(T.LongType()))
            .parquet(events_dir)
            .withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        )
    else:
        stream = (
            reader.schema(_events_schema(observed))
            .parquet(events_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
    return stream.withWatermark("ts", watermark)


def tumbling_agg(events: DataFrame) -> DataFrame:
    """Per (1-hour tumbling window, event_type): count + value sum."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "cnt",
            "total_value",
        )
    )


def sliding_agg(events: DataFrame) -> DataFrame:
    """Per (1-hour window sliding every 30 minutes, event_type) counts —
    each event lands in two windows."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt")
    )


def session_agg(events: DataFrame) -> DataFrame:
    """Per-user session windows (5-minute gap): session start + event
    count + value sum. In streaming mode requires a watermark on ts."""
    return (
        events.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


#: State partitions for AvailableNow certification drains. Stateful
#: operators (windowed aggs, stream-stream joins, dedup) create one state
#: store per shuffle partition per operator per side, and every micro-batch
#: pays per-store snapshot/commit/maintenance I/O REGARDLESS of how little
#: state the store holds — so state-partition count should be sized to the
#: STATE VOLUME, not inherited from the batch shuffle default. For the
#: bounded certification drains, 8 partitions halves wall time vs 32
#: (measured: interval join 6.4→3.9 s, stateful totals 5.3→2.6 s at sf0.1)
#: with bit-identical results (all drained queries are partition-count
#: invariant by design; tests/test_streaming asserts stream==batch), and
#: 4 buys another ~0.6-1.4 s on the stateful-agg drains (r9 A/B:
#: s08 3.2→2.6, s19 3.2→2.5, s21 2.9→2.3, s22 4.6→3.3) — the one
#: exception is the ``applyInPandasWithState`` drain, whose PYTHON
#: per-key compute wants worker parallelism (s02 regressed ~+0.4 s at
#: 4), so that cert passes ``state_partitions=8`` explicitly. A
#: production deployment sizes this to rate×watermark state instead —
#: pass ``state_partitions=None`` to inherit the session's setting.
DRAIN_STATE_PARTITIONS = 4


#: Bound on one bounded drain, in seconds. A drain still running at the
#: bound is stopped and raises: a partial sink would hash-fail a
#: certification with no hint of why.
DRAIN_TIMEOUT_S = 600

_DEFAULT_TIMEOUT = object()


def drain_available(
    spark: SparkSession,
    writer: DataStreamWriter,
    *,
    state_partitions: int | None = None,
    timeout_s: float | None = _DEFAULT_TIMEOUT,  # type: ignore[assignment]
) -> list[dict]:
    """Start ``writer`` with ``Trigger.AvailableNow``, wait for it to drain
    the current backlog, and return its per-micro-batch progress dicts.

    ``writer`` is caller-built (memory sink or ``foreachBatch``, with the
    caller's options and checkpoint). ``timeout_s`` defaults to
    :data:`DRAIN_TIMEOUT_S`, read at call time; ``None`` waits without
    bound. On timeout the query is stopped and ``TimeoutError`` raised.

    ``state_partitions`` scopes ``spark.sql.shuffle.partitions`` to this
    drain (state-store partition sizing — see DRAIN_STATE_PARTITIONS):
    Structured Streaming pins the count into the query's checkpoint at
    first start, and the prior value is restored only after the query
    has terminated. The override IS session-global while the drain runs:
    a batch query planned concurrently on the same SparkSession from
    another driver thread would inherit it. This engine runs one query
    per session at a time; a multi-threaded deployment should drain on a
    dedicated ``spark.newSession()``."""
    if timeout_s is _DEFAULT_TIMEOUT:
        timeout_s = DRAIN_TIMEOUT_S
    if state_partitions is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = writer.trigger(availableNow=True).start()
        if timeout_s is None:
            q.awaitTermination()
        elif not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"streaming drain '{q.name or q.id}' did not terminate "
                f"within {timeout_s}s"
            )
        return q.recentProgress
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_stream_to_memory(
    spark: SparkSession,
    streaming_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    state_partitions: int | None = DRAIN_STATE_PARTITIONS,
    progress_sink: list | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Drain a streaming query with :func:`drain_available` into a memory
    sink named ``query_name``; returns the result table. Complete output
    mode for windowed aggs (the default); append for stateless
    transforms/joins.

    A previous memory table of the same name is dropped first, so
    repeated drains under one fixed name return only the latest drain's
    rows and a long-lived app holds one result set per name.

    ``progress_sink``: pass a list to receive the query's per-micro-batch
    ``StreamingQueryProgress`` dicts after the drain — the handle itself
    is gone once the query terminates, and watermark-semantics
    certifications (late-drop counts, batch boundaries) need the
    operator metrics, not just the sink table. ``checkpoint`` pins the
    query's checkpoint location (state-store reads, restart recovery);
    by default each drain gets a fresh temporary one."""
    spark.catalog.dropTempView(query_name)
    writer = (
        streaming_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    progress = drain_available(spark, writer, state_partitions=state_partitions)
    if progress_sink is not None:
        progress_sink.extend(progress)
    return spark.table(query_name)
