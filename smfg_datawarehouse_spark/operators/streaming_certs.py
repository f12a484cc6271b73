"""Structured-Streaming certifications [T2]: s01-s26 (s17 gate-registered).

Every streaming path as a registered, oracle-checked query: each stages
the events fixture as a raw-zone landing directory (multi-file backlog
where cross-micro-batch state is the point), drains it with
AvailableNow, and hash-checks the drained result against a plain batch
SQL oracle — certified stream ≡ batch. Every drain goes through
``streaming.windows``: memory-sink drains through
``run_stream_to_memory`` under a fixed ``<tag>_mem`` name, and
``foreachBatch`` sinks (s10, s15, s20, s24-s26) hand their writer to
``drain_available``. Shared window/join oracles stay with their batch
twins in ``events_analytics.py``.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Window as W

from smfg_datawarehouse_spark.operators.events_analytics import (
    _Q21_ORACLE,
    _Q22_ORACLE,
    _VIEW_PURCHASE_ORACLE,
)
from smfg_datawarehouse_spark.operators.text_sketches import _cms_buckets
from smfg_datawarehouse_spark.queries import (
    _dsum_sql,
    _scratch_dir,
    exact,
    load_events,
    md5_int,
    micro,
    register,
    t,
)
from smfg_datawarehouse_spark.streaming.windows import (
    drain_available,
    run_stream_to_memory,
    session_agg,
    sliding_agg,
    tumbling_agg,
)
from smfg_datawarehouse_spark.session import local_rows_df

_S18_D = 4  # CMS hash rows
_S18_W = 64  # CMS buckets per row

_S18_ORACLE = f"""
    WITH items AS (SELECT event_type AS tok FROM events),
    ds AS (SELECT unnest(range({_S18_D})) AS d),
    buck AS (
      SELECT tok, d,
             ('0x' || substring(md5('cms' || d || ':' || tok), 1, 8))::BIGINT
               % {_S18_W} AS bucket
      FROM items CROSS JOIN ds
    ),
    counters AS (SELECT d, bucket, count(*) AS cnt FROM buck GROUP BY 1, 2),
    exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
              FROM items GROUP BY tok),
    est AS (
      SELECT e.tok, e.exact_cnt, CAST(min(c.cnt) AS BIGINT) AS est_cnt
      FROM exact e CROSS JOIN ds
      JOIN counters c
        ON c.d = ds.d
       AND c.bucket = ('0x' || substring(md5('cms' || ds.d || ':' || e.tok), 1, 8))::BIGINT
                      % {_S18_W}
      GROUP BY 1, 2
    )
    SELECT tok, exact_cnt, est_cnt, est_cnt - exact_cnt AS overcount FROM est
"""


@register("s18_streaming_heavy_hitters", _S18_ORACLE)
def s18_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/X] STREAMING COUNT-MIN SKETCH certified: the events fixture is
    split into a three-file backlog drained one file per micro-batch, so
    the CMS counter grid (x49's portable md5 family, d×w = 4×64 longs)
    accumulates ADDITIVELY across micro-batches in complete-mode state —
    the mergeability property that makes CMS the streaming frequency
    sketch (a counter merge that dropped or double-counted a partial
    hash-fails against the batch oracle, exactly the class s09 certifies
    for windowed counts). The drained grid is then evaluated exactly like
    x49: per event type, the min-over-rows estimate beside the exact
    count, with ``overcount`` ≥ 0 structural.

    Scale shape: streaming state is the FIXED d×w grid regardless of key
    cardinality or stream length — the whole point of sketch state over
    exact per-key state when keys are unbounded at 100 TB rates."""
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    src = _scratch_dir(spark, "s18")
    raw = _os.path.join(src, "raw")
    load_events(spark, sf_dir).repartition(3).write.mode("overwrite").parquet(raw)

    stream = events_stream(spark, raw, max_files_per_trigger=1)
    counters_stream = (
        stream.select(
            F.posexplode(
                _cms_buckets(F.col("event_type"), _S18_W)
            ).alias("d", "bucket")
        )
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    counters = run_stream_to_memory(spark, counters_stream, "s18_mem", "complete")

    exact = (
        load_events(spark, sf_dir)
        .groupBy(F.col("event_type").alias("tok"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
    )
    est = (
        exact.select(
            "tok",
            "exact_cnt",
            F.posexplode(_cms_buckets(F.col("tok"), _S18_W)).alias(
                "d", "bucket"
            ),
        )
        .join(F.broadcast(counters), ["d", "bucket"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("cnt").cast("long").alias("est_cnt"))
    )
    return est.select(
        "tok",
        "exact_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


_S01_ORACLE = f"""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS cnt,
           {_dsum_sql('value')} AS total_value
    FROM events
    GROUP BY 1, 2
"""


@register("s01_streaming_tumbling_window", _S01_ORACLE)
def s01_streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2] The STREAMING path itself as a certified query: the events
    fixture is read through ``readStream`` (declared schema — streaming
    sources cannot infer), aggregated by the same tumbling-window builder
    the always-on deployment uses, drained with ``Trigger.AvailableNow``
    into a memory sink, and the drained table is hash-checked against the
    plain batch SQL oracle — driver-certified proof that stream results
    equal batch results (q20 is the batch twin; ``tests/test_streaming``
    asserts the equality across all window shapes and restart/backlog
    scenarios). Complete output mode: every window is emitted regardless
    of watermark age, which is what makes the AvailableNow drain
    deterministic and exactly batch-equal.

    At scale the same code runs untriggered (continuous micro-batches)
    with the watermark bounding window state; the memory sink is the
    test/certification harness stand-in for the staging-zone parquet sink
    the REALTIME runner uses (runner.py)."""
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    stream = events_stream(spark, _stage_events_dir(spark, sf_dir, "s01"))
    return run_stream_to_memory(
        spark, tumbling_agg(stream), "s01_mem", "complete"
    )


def _stage_ordered_slices(
    src: str,
    raw: str,
    frames: list[DataFrame],
    names: list[str] | None = None,
    mtimes: list[float] | None = None,
) -> None:
    """Stage N mtime-ordered slice files from ONE Spark job (r10,
    guide §2.6/§1 driver-cost): the s11/s14/s15/s22/s24 staging loops
    ran one coalesce(1) write job PER slice (scan + write + commit
    each); a single-task ``partitionBy`` write of the tagged union lands
    one file per slice in one job (the s26 wave-staging shape), renamed
    into ``raw`` with the same strictly-increasing mtimes the
    FileStreamSource ordering contract needs. Slice CONTENTS are
    unchanged (same rows, same columns — the ``_sl`` tag lives only in
    the directory name); every consumer is row-order-invariant within a
    file and each cert stays strict-differential green. An empty slice
    raises ``ValueError``: the ``partitionBy`` write lands no file for it
    (a per-slice coalesced write landed a schema-only file), so skipping
    it would silently shift the micro-batch numbering of every later
    slice."""
    union = None
    for i, sl in enumerate(frames):
        tagged = sl.withColumn("_sl", F.lit(i))
        union = tagged if union is None else union.unionByName(tagged)
    stage_root = _os.path.join(src, "slices")
    (
        union.repartition(1)
        .write.partitionBy("_sl")
        .mode("overwrite")
        .parquet(stage_root)
    )
    empty = [
        i
        for i in range(len(frames))
        if not _os.path.isdir(_os.path.join(stage_root, f"_sl={i}"))
    ]
    if empty:  # checked before any file moves into ``raw``
        raise ValueError(f"empty slices {empty}: every slice must stage one file")
    base = _os.path.getmtime(raw)
    for i in range(len(frames)):
        wdir = _os.path.join(stage_root, f"_sl={i}")
        part = next(f for f in _os.listdir(wdir) if f.endswith(".parquet"))
        name = names[i] if names else f"slice-{i}.parquet"
        dst = _os.path.join(raw, name)
        _os.rename(_os.path.join(wdir, part), dst)
        mt = mtimes[i] if mtimes else base + 10 * (i + 1)
        _os.utime(dst, (mt, mt))


def _stage_events_dir(spark: SparkSession, sf_dir: str, tag: str) -> str:
    """Copy the events fixture file into a per-app scratch DIRECTORY —
    streaming file sources read directories of arriving files (the
    raw-zone landing layout the REALTIME runner consumes)."""
    import os as _os
    import shutil as _shutil

    from smfg_datawarehouse_spark.queries import _scratch_dir

    src_dir = _scratch_dir(spark, tag)
    _shutil.copy(
        _os.path.join(sf_dir, "events.parquet"),
        _os.path.join(src_dir, "part-0.parquet"),
    )
    return src_dir


_S02_ORACLE_SQL = """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_micros
    FROM events GROUP BY user_id
    """


@register("s02_streaming_stateful_totals", _S02_ORACLE_SQL)
def s02_streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/§2.11] The ARBITRARY-STATEFUL streaming path certified: per-user
    running totals via ``applyInPandasWithState`` (integer micro-unit
    state), drained with AvailableNow into an update-mode memory sink and
    hash-checked against the plain batch GROUP BY oracle. The final state
    per user is selected with ``max(struct(n_events, total_micros))`` —
    n_events is strictly increasing per user across micro-batches, so the
    reduction is batch-count-independent (a multi-file backlog draining in
    several micro-batches yields the same certified rows as one batch).
    State is one tiny row per key at any scale; the shuffle is the groupBy
    hash partitioning."""
    from smfg_datawarehouse_spark.streaming.stateful import running_user_totals
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    stream = events_stream(spark, _stage_events_dir(spark, sf_dir, "s02"))
    # applyInPandasWithState runs real per-key compute in PYTHON workers:
    # parallelism here is sized to the compute, not the state volume
    # (r9 A/B: 4 state partitions regressed this drain ~+0.4 s)
    drained = run_stream_to_memory(
        spark, running_user_totals(stream), "s02_mem", "update",
        state_partitions=8,
    )
    final = F.max(F.struct("n_events", "total_micros")).alias("s")
    return drained.groupBy("user_id").agg(final).select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        F.col("s.total_micros").alias("total_micros"),
    )


@register("s03_streaming_interval_join", _VIEW_PURCHASE_ORACLE)
def s03_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/§2.3] The STREAM-STREAM JOIN path certified: view → purchase
    conversions through the watermark-bounded interval join
    (``streaming/joins.py`` — state evicted as watermarks advance, so
    state is O(rate × interval) at any scale), drained with AvailableNow
    in append mode and hash-checked against q32's batch SQL oracle —
    driver-certified stream ≡ batch for the join family, alongside the
    pytest stream==batch assertions."""
    from smfg_datawarehouse_spark.streaming.joins import view_purchase_conversions
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    stream = events_stream(spark, _stage_events_dir(spark, sf_dir, "s03"))
    return run_stream_to_memory(
        spark, view_purchase_conversions(stream), "s03_mem", "append"
    )


@register(
    "s04_streaming_dedup",
    "SELECT event_id, ts, user_id, event_type, value FROM events",
)
def s04_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/X] STREAMING EXACTLY-ONCE DEDUP certified: the events fixture
    is staged TWICE into the source directory (an at-least-once upstream
    redelivering the whole feed), the stream drains it across TWO
    micro-batches (``maxFilesPerTrigger=1``), and keyed
    ``dropDuplicates(event_id)`` suppresses every replayed row across
    batch boundaries — the drained sink equals the batch table exactly,
    which is what turns an at-least-once transport into an exactly-once
    pipeline. The driver hash-checks the drained result against the plain
    batch SELECT oracle.

    Scale shape: dedup state is one compact row per key in the state
    store, hash-partitioned by key (one shuffle). This certification
    variant keeps state unbounded so the full-feed replay dedups exactly;
    a production deployment bounds it with
    ``dropDuplicatesWithinWatermark`` once redelivery is known to arrive
    within the watermark horizon."""
    import os as _os
    import shutil as _shutil

    from smfg_datawarehouse_spark.queries import _scratch_dir
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    src_dir = _scratch_dir(spark, "s04")
    for part in ("part-0.parquet", "part-1.parquet"):
        _shutil.copy(
            _os.path.join(sf_dir, "events.parquet"), _os.path.join(src_dir, part)
        )
    stream = events_stream(spark, src_dir, max_files_per_trigger=1)
    deduped = stream.dropDuplicates(["event_id"]).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return run_stream_to_memory(spark, deduped, "s04_mem", "append")


@register("s05_streaming_session_window", _Q22_ORACLE)
def s05_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2] SESSION WINDOWS on the stream certified: gap-merged
    ``session_window`` state (sessions extend while events land inside
    last_ts + gap; the state store merges overlapping candidates) drained
    with AvailableNow in complete mode and hash-checked against q22's
    batch gaps-and-islands oracle — driver-certified stream ≡ batch for
    the session family, completing the windowed-streaming certification
    set (s01 tumbling / q21 sliding / s05 session).

    At scale the same code runs in append mode with the watermark closing
    sessions (state per ACTIVE session only); complete mode here is what
    makes the AvailableNow drain deterministic and exactly batch-equal,
    same trade as s01."""
    from smfg_datawarehouse_spark.streaming.windows import events_stream, session_agg

    stream = events_stream(spark, _stage_events_dir(spark, sf_dir, "s05"))
    return run_stream_to_memory(
        spark, session_agg(stream), "s05_mem", "complete"
    )


@register("s06_streaming_sliding_window", _Q21_ORACLE)
def s06_streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2] SLIDING windows on the stream certified (1h width / 30min
    slide — each event lands in exactly two windows), drained with
    AvailableNow in complete mode and hash-checked against q21's batch
    oracle. Completes the windowed-streaming certification trio
    (s01 tumbling / s06 sliding / s05 session) — every window shape the
    engine's streaming surface offers is now driver-certified
    stream ≡ batch, on top of the pytest equivalence suite."""
    from smfg_datawarehouse_spark.streaming.windows import events_stream, sliding_agg

    stream = events_stream(spark, _stage_events_dir(spark, sf_dir, "s06"))
    return run_stream_to_memory(
        spark, sliding_agg(stream), "s06_mem", "complete"
    )


@register(
    "s07_streaming_dim_enrichment",
    """
    WITH dim AS (
      SELECT DISTINCT user_id, CAST(user_id % 10 AS VARCHAR) AS segment
      FROM events WHERE user_id % 2 = 0
    )
    SELECT e.event_id, e.user_id, e.event_type, d.segment
    FROM events e LEFT JOIN dim d USING (user_id)
    """,
)
def s07_streaming_dim_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/J] STREAM-STATIC dimension enrichment certified: each
    micro-batch left-joins a broadcast dimension snapshot (no stream
    shuffle, no join state — the scalable dimension-lookup shape at any
    event rate), with events lacking a dimension row surviving
    null-extended. The dimension is derived deterministically from the
    fixture (even user_ids → segment), so the DuckDB oracle replays the
    same join exactly; drained with AvailableNow in append mode and
    hash-checked. Completes driver certification of every streaming JOIN
    shape the engine offers: stream-stream inner (s03), stream-stream
    left-outer (q78's builder), stream-static broadcast (here)."""
    from smfg_datawarehouse_spark.streaming.joins import enrich_with_dimension
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    e = t(spark, sf_dir, "events")
    dim = (
        e.select("user_id")
        .distinct()
        .where(F.col("user_id") % 2 == 0)
        .withColumn("segment", (F.col("user_id") % 10).cast("string"))
    )
    stream = events_stream(spark, _stage_events_dir(spark, sf_dir, "s07"))
    enriched = enrich_with_dimension(stream, dim).select(
        "event_id", "user_id", "event_type", "segment"
    )
    return run_stream_to_memory(spark, enriched, "s07_mem", "append")


_OUTER_VIEW_PURCHASE_ORACLE = """
    SELECT v.user_id,
           v.event_id AS view_id, v.ts AS view_ts,
           p.event_id AS purchase_id, p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
"""


@register("s08_streaming_outer_join", _OUTER_VIEW_PURCHASE_ORACLE)
def s08_streaming_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/§2.3] The OUTER stream-stream join path certified: every view
    emits — converted views paired with each in-window purchase,
    unconverted views null-extended — via the watermark-bounded LEFT
    OUTER interval join. Outer rows can only emit once the watermark
    proves no matching purchase can still arrive; the AvailableNow drain
    advances the watermark to stream end, which flushes exactly the
    batch-equal row set (s03 certifies the inner family; this certifies
    the null-extension semantics conversion-funnel reporting relies on —
    q78's aggregate is derivable from these rows).

    The drain stages two HEARTBEAT events (ts = max event time + 1 h,
    one per join side) before starting the stream: outer rows for a
    view only emit once the watermark passes view_ts + interval, and
    the watermark ceiling is max(ts) − delay, so without heartbeats
    every unmatched view in the stream's final interval+delay window
    would be withheld forever and the drain would under-emit vs batch.
    This is the standard event-time heartbeat pattern an always-on
    deployment uses to flush outer/session state during quiet periods.
    Two sharp edges the heartbeats navigate, found empirically:

    - Catalyst pushes the event_type predicate BELOW the
      EventTimeWatermark operator into the scan, so a row filtered from
      a side never advances that side's watermark — a neutral
      'heartbeat' type advances NOTHING; each side needs a heartbeat
      that survives ITS pushed filter (one 'view', one 'purchase').
    - The query's watermark is the MIN across both sides' trackers, so
      a single-sided heartbeat is clamped by the other side.

    Neither heartbeat can reach the output, by arithmetic: they use
    distinct negative user_ids (can't join each other or real events in
    a forward-only window), and the view-heartbeat's own null-extension
    needs watermark > hb_ts + interval while the watermark ceiling is
    hb_ts − delay. Real unmatched views all flush: watermark reaches
    real_max + 1 h − delay > real_max + interval.

    State and scale are identical to the inner join: the time bound on
    both watermarked sides keeps join state at O(rate × interval) —
    without it Spark rejects an outer stream-stream join outright."""
    from pyspark.sql import types as T

    from smfg_datawarehouse_spark.streaming.joins import (
        view_purchase_conversions_outer,
    )
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    src_dir = _stage_events_dir(spark, sf_dir, "s08")
    batch = spark.read.parquet(src_dir)
    top = batch.orderBy(F.col("ts").desc()).limit(1)
    if isinstance(batch.schema["ts"].dataType, T.LongType):  # INT64 nanos fixture
        top = top.withColumn("ts", F.col("ts") + F.lit(3600 * 10**9).cast("long"))
    else:
        top = top.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
    sides = local_rows_df(
        spark, [("view", -1), ("purchase", -2)],
        "hb_type string, hb_user bigint",
    )
    hb = (
        top.drop("event_type", "user_id")
        .crossJoin(sides)
        .withColumnsRenamed({"hb_type": "event_type", "hb_user": "user_id"})
        .select(*batch.columns)
    )
    hb.write.mode("append").parquet(src_dir)

    stream = events_stream(spark, src_dir)
    return run_stream_to_memory(
        spark, view_purchase_conversions_outer(stream), "s08_mem", "append"
    )


@register("s09_streaming_backlog_drain", _S01_ORACLE)
def s09_streaming_backlog_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2] CROSS-MICRO-BATCH STATE certified: the events fixture is
    split into three raw files and drained with ``maxFilesPerTrigger=1``,
    forcing the tumbling aggregation to accumulate window state across
    THREE micro-batches (every hour window receives rows from several
    batches — partial counts merge in the state store) before the
    complete-mode snapshot is compared to the same batch oracle as s01.
    s01 certifies stream≡batch when the backlog collapses into one
    batch; this certifies the state-store merge path a real deployment
    exercises on every trigger — a state merge that dropped or
    double-counted partials hash-fails here and not in s01.

    Scale shape identical to s01 (window+type keyed state); the file
    splits model raw-zone landing cadence, not data volume."""
    import os as _os

    from smfg_datawarehouse_spark.queries import _scratch_dir, load_events
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    src_dir = _scratch_dir(spark, "s09")
    # three-file backlog: same rows as the fixture, split deterministically
    load_events(spark, sf_dir).repartition(3).write.mode("overwrite").parquet(
        _os.path.join(src_dir, "raw")
    )
    stream = events_stream(
        spark, _os.path.join(src_dir, "raw"), max_files_per_trigger=1
    )
    return run_stream_to_memory(
        spark, tumbling_agg(stream), "s09_mem", "complete"
    )


@register(
    "s10_streaming_cdc_upsert",
    """
    SELECT event_id, user_id, ts, event_type, value
    FROM (
      SELECT event_id, user_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def s10_streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/J3] STREAMING CDC UPSERT certified — the foreachBatch→MERGE
    production shape: the events fixture lands as a THREE-file backlog
    drained one file per micro-batch; each batch is compacted to its
    newest row per user and conditionally merged into a
    ``ManifestTable`` with ``precedence=["ts","event_id"]`` (newer-wins;
    Delta's ``WHEN MATCHED AND s.ts > t.ts THEN UPDATE``). Because the
    precedence tuple — not arrival order — decides every collision, the
    final table is identical however the backlog splits into batches, and
    it hash-checks against x07's batch latest-event-per-user oracle. An
    unconditional merge would instead let whichever batch ran LAST
    clobber newer rows delivered earlier — the classic out-of-order CDC
    corruption this certifies against.

    Scale shape: per batch, ONE user-keyed window shuffle compacts the
    batch, and the merge is one more key shuffle against the current
    snapshot (Delta MERGE cost). State lives in the table, not the state
    store — this is how CDC apply survives unbounded key cardinality."""
    import os as _os

    from smfg_datawarehouse_spark.queries import _scratch_dir, load_events
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    src_dir = _scratch_dir(spark, "s10")
    load_events(spark, sf_dir).repartition(3).write.mode("overwrite").parquet(
        _os.path.join(src_dir, "raw")
    )
    vt = ManifestTable(spark, _os.path.join(src_dir, "table"))
    stream = events_stream(
        spark, _os.path.join(src_dir, "raw"), max_files_per_trigger=1
    ).select("event_id", "user_id", "ts", "event_type", "value")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        compact = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1")
            .drop("_rn")
        )
        vt.merge(compact, ["user_id"], precedence=["ts", "event_id"])

    drain_available(
        spark,
        stream.writeStream.foreachBatch(apply_batch).option(
            "checkpointLocation", _os.path.join(src_dir, "ckpt")
        ),
    )
    if vt.current_version() is None:
        raise RuntimeError("s10 drain landed no snapshot")
    return vt.read().select("event_id", "user_id", "ts", "event_type", "value")


@register(
    "s11_streaming_late_data_drop",
    f"""
    WITH mx AS (SELECT MAX(ts) AS m FROM events)
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS cnt,
           {_dsum_sql('value')} AS total_value
    FROM events, mx
    WHERE NOT (event_id % 11 = 0 AND ts < mx.m - INTERVAL 2 HOUR)
      AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= mx.m - INTERVAL 30 MINUTE
    GROUP BY 1, 2
    """,
)
def s11_streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2] WATERMARK LATE-DATA DROP certified — the semantics every other
    streaming query merely declares. Append-mode tumbling aggregation over
    a THREE-file staged arrival (``maxFilesPerTrigger=1``, file order
    pinned by mtime):

    1. ``0_ontime`` — every non-late row (incl. the global max ``ts``);
       processed at watermark 0, nothing evicted yet.
    2. ``1_heartbeat`` — one marker row AT the max ``ts`` (its window end
       exceeds the final watermark, so it is state that is discarded at
       stop, never output). Its batch runs with watermark = max(ts) −
       30 min, so its COMMIT evicts-and-emits every window whose end ≤
       that watermark — finalizing them.
    3. ``2_late`` — the late set (``event_id % 11 = 0`` and ``ts`` >2 h
       below max): every row targets an ALREADY-FINALIZED window and is
       dropped by the watermark filter. The drain asserts, from the
       query's own operator metrics, that ``numRowsDroppedByWatermark``
       equals the late set's distinct (window, event_type) GROUP count —
       the metric counts rows reaching the state store, i.e. map-side
       partials, one per group per scan partition, and the
       ``coalesce(1)``-staged late file reads as a single partition. A
       merge-instead-of-drop or double-emit regression fails loudly, not
       just via the hash.

    Empirically pinned Spark semantics this encodes (and the miniature in
    ``tests/test_streaming`` re-asserts): a below-watermark row is
    dropped ONLY if its window was evicted in a PRIOR batch; until then
    it still merges (Spark trades stricter dropping for not discarding
    data the sink has not seen). Append emits a window exactly once, when
    the batch-start watermark passes its end; windows still above the
    final watermark are never output. Hence the oracle: non-late rows
    only, windows with end ≤ max(ts) − 30 min. Boundary note: emission
    uses ≤ on a millisecond-truncated watermark; window ends are exact
    hours while the watermark carries the fixture's sub-second noise, so
    the equality case cannot arise here.

    Scale shape: identical to s01/s09 (window+type keyed state, one
    shuffle); the watermark is precisely what BOUNDS that state at 100 TB
    — without the drop path certified, unbounded-state regressions ship
    silently. Reference parity: REALTIME cadence loads
    (reference/dag/SMFG_DW_ETL_DAG.py REALTIME branch) with out-of-order
    arrival tolerance made explicit."""
    import os as _os
    import time as _time

    from smfg_datawarehouse_spark.queries import _scratch_dir, load_events
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    src = _scratch_dir(spark, "s11")
    raw = _os.path.join(src, "raw")
    _os.makedirs(raw, exist_ok=True)
    ev = load_events(spark, sf_dir)
    mx = ev.agg(F.max("ts")).first()[0]
    late_cut = F.lit(mx) - F.expr("INTERVAL 2 HOURS")
    is_late = (F.col("event_id") % 11 == 0) & (F.col("ts") < late_cut)
    n_late_groups = (
        ev.where(is_late)
        .select(F.window("ts", "1 hour"), "event_type")
        .distinct()
        .count()
    )
    heartbeat = local_rows_df(
        spark,
        [(-1, mx, -1, "heartbeat", 0.0, None)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).select(*ev.columns)

    now = _time.time()
    _stage_ordered_slices(
        src,
        raw,
        [ev.where(~is_late), heartbeat, ev.where(is_late)],
        names=["0_ontime.parquet", "1_heartbeat.parquet", "2_late.parquet"],
        mtimes=[now - 600, now - 300, now],
    )

    stream = events_stream(
        spark, raw, watermark="30 minutes", max_files_per_trigger=1
    )
    progress: list = []
    out = run_stream_to_memory(
        spark, tumbling_agg(stream), "s11_mem", "append",
        progress_sink=progress,
    )
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0) or 0
        for p in progress
        for op in p.get("stateOperators", [])
    )
    if dropped != n_late_groups:
        raise RuntimeError(
            f"s11 expected {n_late_groups} late partial-aggregate groups "
            f"dropped by watermark, operator metrics report {dropped}"
        )
    return out


@register(
    "s12_streaming_semi_join",
    """
    SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts
    FROM events v
    WHERE v.event_type = 'view'
      AND EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = v.user_id
          AND p.ts >= v.ts
          AND p.ts <= v.ts + INTERVAL 30 MINUTE
      )
    """,
)
def s12_streaming_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/§2.3] STREAM-STREAM LEFT SEMI JOIN certified: the
    "converted views" set — each view with ≥1 same-user purchase inside
    30 minutes emits EXACTLY ONCE — drained with AvailableNow in append
    mode and hash-checked against the batch EXISTS oracle. This is the
    third stream-stream join shape after inner (s03) and left outer
    (s08): semi emits eagerly on first match like inner (no
    watermark-wait, no heartbeats), but must additionally NOT re-emit on
    later matches — the at-most-once state bookkeeping this certifies
    (an inner-join-plus-dropDuplicates would pay a second stateful
    operator for the same semantics).

    Scale shape: user-keyed join state bounded by the 30-minute time
    bound + watermark, exactly like s03; the semi form also never
    carries purchase columns through the shuffle. Reference parity:
    REALTIME cadence conversions feed (SMFG_DW_ETL_DAG.py), reduced to
    the distinct-converted-views feed a funnel dashboard reads."""
    from smfg_datawarehouse_spark.streaming.joins import (
        view_purchase_converted_views,
    )
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    stream = events_stream(spark, _stage_events_dir(spark, sf_dir, "s12"))
    return run_stream_to_memory(
        spark, view_purchase_converted_views(stream), "s12_mem", "append"
    )


@register(
    "s13_state_store_introspection",
    f"""
    WITH mx AS (SELECT MAX(ts) AS m FROM events)
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           {_dsum_sql('value')} AS total_value
    FROM events, mx
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR > mx.m - INTERVAL 30 MINUTE
    GROUP BY 1, 2
    """,
)
def s13_state_store_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2] STATE-STORE INTROSPECTION certified (Spark 4 ``statestore``
    batch data source): after an append-mode tumbling drain, the
    checkpoint's live state is read back AS A DATAFRAME and hash-checked
    against the batch prediction of exactly which windows must still be
    resident — those whose end exceeds the final watermark (max(ts) −
    30 min); everything older was evicted-and-emitted. The aggregation
    BUFFER itself is decoded: ``value.count`` is the running count and
    ``value.sum`` the decimal(38,6) partial of the _dsum convention, so
    the state's numbers — not just its keys — are certified.

    This is the production debugging surface for stateful streaming
    (why is state growing? which keys are resident? is the watermark
    where I think it is?) — at 100 TB you diagnose a misbehaving
    always-on query by QUERYING its checkpoint, not by replaying it.
    Completes the streaming-state story: s01/s09 certify emitted
    results, s11 certifies what gets dropped, this certifies what
    REMAINS. The buffer field layout (count/sum/isEmpty) is the Spark 4
    aggregation-buffer ABI — pinned deliberately, a silent ABI change
    should fail this cert."""
    import os as _os

    from smfg_datawarehouse_spark.queries import _scratch_dir
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    src = _scratch_dir(spark, "s13")
    raw = _stage_events_dir(spark, sf_dir, "s13_raw")
    ckpt = _os.path.join(src, "ckpt")
    stream = events_stream(spark, raw, watermark="30 minutes")
    agg = tumbling_agg(stream)
    run_stream_to_memory(spark, agg, "s13_mem", "append", checkpoint=ckpt)
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.window.start").alias("window_start"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("long").alias("cnt"),
        F.col("value.sum").cast("double").alias("total_value"),
    )


@register(
    "s14_dedup_within_watermark",
    """
    WITH mx AS (SELECT MAX(ts) AS m FROM events)
    SELECT event_id, ts, user_id, event_type, value FROM events
    UNION ALL
    SELECT event_id, m AS ts, user_id, event_type, value
    FROM events, mx
    WHERE ts < m - INTERVAL 2 HOUR
    """,
)
def s14_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/X] BOUNDED-STATE streaming dedup certified —
    ``dropDuplicatesWithinWatermark``, the production complement to s04's
    unbounded exactly-once dedup: state per key lives only until the
    watermark passes its event time + delay, so at 100 TB the dedup
    store holds one horizon of keys instead of the corpus's lifetime.
    Three staged arrivals (``maxFilesPerTrigger=1``, mtime-pinned order)
    pin all four semantics this operator trades on (empirically verified
    on Spark 4.1, miniature re-asserted in ``tests/test_streaming``):

    1. ``0_feed`` — the full feed; every first occurrence emits
       immediately. Post-batch watermark advances to max(ts) − 30 min.
    2. ``1_redelivery`` — an at-least-once upstream re-sends rows >2 h
       old plus rows within 10 min of max(ts). State eviction LAGS the
       watermark update by one batch (same pinned lag as s11's window
       drop), so every redelivered key is still in state and is deduped
       silently — the state hit wins over the late filter, and
       ``numRowsDroppedByWatermark`` stays 0 for this batch (asserted).
       Duplicates do NOT extend state expiry — the property that keeps
       state bounded under constant redelivery. Zero sink rows; the
       batch's commit then evicts everything older than max(ts) − 1 h.
    3. ``2_late_replay`` — the >2 h-old rows re-sent AGAIN with their
       original timestamps: now evicted AND below the watermark, they
       are late-filtered before the state store; the drain asserts
       ``numRowsDroppedByWatermark`` equals their count exactly. Zero
       sink rows.
    4. ``3_restamped`` — the same >2 h-old keys re-sent with a FRESH
       event time (max ts), the real-world "replay with new ingest
       stamp": evicted keys re-emit, every one. Within-horizon
       suppression is exactly-once; across-horizon replay is
       at-least-once — that boundary is precisely what the oracle's
       UNION ALL replays.

    Scale shape: one hash shuffle on the dedup key; state = keys within
    one watermark horizon; duplicates neither grow nor refresh state."""
    import os as _os
    import time as _time

    from smfg_datawarehouse_spark.queries import _scratch_dir, load_events
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    src = _scratch_dir(spark, "s14")
    raw = _os.path.join(src, "raw")
    _os.makedirs(raw, exist_ok=True)
    ev = load_events(spark, sf_dir)
    mx = ev.agg(F.max("ts")).first()[0]
    old = F.col("ts") < F.lit(mx) - F.expr("INTERVAL 2 HOURS")
    fresh = F.col("ts") >= F.lit(mx) - F.expr("INTERVAL 10 MINUTES")
    n_late = ev.where(old).count()

    now = _time.time()
    _stage_ordered_slices(
        src,
        raw,
        [
            ev,
            ev.where(old | fresh),
            ev.where(old),
            ev.where(old).withColumn("ts", F.lit(mx)),
        ],
        names=[
            "0_feed.parquet",
            "1_redelivery.parquet",
            "2_late_replay.parquet",
            "3_restamped.parquet",
        ],
        mtimes=[now - 600, now - 450, now - 300, now],
    )

    stream = events_stream(
        spark, raw, watermark="30 minutes", max_files_per_trigger=1
    )
    deduped = stream.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    progress: list = []
    out = run_stream_to_memory(
        spark, deduped, "s14_mem", "append", progress_sink=progress
    )
    dropped_by_batch = {
        p["batchId"]: sum(
            op.get("numRowsDroppedByWatermark", 0) or 0
            for op in p.get("stateOperators", [])
        )
        for p in progress
    }
    in_state_dedup = dropped_by_batch.get(1, 0)
    post_evict = dropped_by_batch.get(2, 0)
    if in_state_dedup != 0 or post_evict != n_late:
        raise RuntimeError(
            "s14 watermark-drop metrics diverged from the pinned "
            f"semantics: batch 1 (in-state dedup) counted {in_state_dedup} "
            f"(expect 0), batch 2 (post-eviction late replay) counted "
            f"{post_evict} (expect {n_late})"
        )
    return out


@register(
    "s15_streaming_write_audit_publish",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE NOT (event_id % 5 = 0)
    """,
)
def s15_streaming_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/S6/S7] STREAMING WAP — l23's write-audit-publish gate applied
    per micro-batch, the shape a REALTIME load takes when bad batches
    must never reach readers: each arriving file becomes one
    ``foreachBatch`` invocation that STAGES the batch into the manifest
    table, audits the STAGED files (no negative values, no null keys),
    and only a passing audit publishes (one atomic manifest swap);
    failing batches stay quarantined as unreferenced files — readers
    never see them, vacuum reclaims them. Three staged arrivals: clean /
    fully-corrupted (every value negated) / clean. The cert RAISES
    unless exactly the corrupted batch quarantined (row-count-exact),
    exactly two publishes committed, and the published table equals the
    clean rows — which the oracle hash-checks. Exactly-once composition:
    batch-id-keyed staging makes replayed batches re-stage idempotently
    (same files re-audited, never double-published past the version
    check). At 100 TB: audit cost is one scan of the BATCH, publish is
    O(1); a poisoned upstream never costs more than its own batch."""
    import os as _os
    import time as _time

    from smfg_datawarehouse_spark.queries import _scratch_dir, load_events
    from smfg_datawarehouse_spark.sources.manifest import ManifestTable
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    src = _scratch_dir(spark, "s15")
    raw = _os.path.join(src, "raw")
    _os.makedirs(raw, exist_ok=True)
    ev = load_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    bad = F.col("event_id") % 5 == 0

    now = _time.time()
    _stage_ordered_slices(
        src,
        raw,
        [
            ev.where((F.col("event_id") % 5).isin(1, 2)),
            ev.where(bad).withColumn(
                "value", -F.abs(F.col("value")) - F.lit(1.0)
            ),
            ev.where((F.col("event_id") % 5).isin(3, 4)),
        ],
        names=["0_clean_a.parquet", "1_poisoned.parquet", "2_clean_b.parquet"],
        mtimes=[now - 600, now - 300, now],
    )
    n_bad = ev.where(bad).count()

    mt = ManifestTable(spark, _os.path.join(src, "events_wap"))
    quarantined: list[int] = []
    published: list[int] = []

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        staged = mt.stage(batch_df.select("event_id", "ts", "user_id", "event_type", "value"))
        audit_df = mt.read_files(staged)
        violations = audit_df.where(
            (F.col("value") < 0) | F.col("event_id").isNull()
        ).count()
        if violations:
            quarantined.append(audit_df.count())
            return  # staged files stay unreferenced — invisible to readers
        mt.publish_append(staged)
        published.append(batch_id)

    stream = events_stream(spark, raw, max_files_per_trigger=1)
    drain_available(
        spark,
        stream.writeStream.foreachBatch(gate).option(
            "checkpointLocation", _os.path.join(src, "ckpt")
        ),
    )
    if sum(quarantined) != n_bad or len(published) != 2:
        raise RuntimeError(
            f"s15 gate diverged: quarantined {sum(quarantined)} rows "
            f"(expect {n_bad}), published {len(published)} batches (expect 2)"
        )
    return mt.read()


@register("s16_checkpoint_restart_recovery", _S01_ORACLE)
def s16_checkpoint_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2] CHECKPOINT-RESTART RECOVERY certified — the fault-tolerance
    contract a production stream actually relies on: a tumbling
    aggregation drains the FIRST landing slice under an explicit
    checkpoint, the query terminates (modeling a planned restart or a
    crash between triggers), more raw files land, and a NEW query
    instance resumes from the SAME checkpoint. The cert RAISES unless
    the restarted query's input-row metrics prove it read ONLY the
    newly-landed files (source offsets recovered — a restart that
    re-reads slice 1 is at-least-twice, one that skips state is
    at-most-once) and the two phases together read exactly the fixture;
    the final complete-mode snapshot must then hash-match the batch
    oracle over ALL events — slice-1 contributions can only come from
    the RESTORED state store, never from re-reading. s09 certifies
    cross-batch state merge within one query lifetime; this certifies
    the same state surviving a query boundary, which is the property
    that lets a 100 TB deployment upgrade, rebalance, or crash without
    replay or double-count. Both phases pin the drain's state-store
    partition count (the value is frozen into the checkpoint at first
    start, exactly as in production)."""
    import os as _os

    from smfg_datawarehouse_spark.queries import _scratch_dir, load_events
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    base = _scratch_dir(spark, "s16")
    src = _os.path.join(base, "raw")
    ckpt = _os.path.join(base, "ckpt")
    ev = load_events(spark, sf_dir)
    total = ev.count()
    ev.where(F.col("event_id") % 3 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    def drain(name: str) -> tuple[DataFrame, int]:
        progress: list = []
        out = run_stream_to_memory(
            spark,
            tumbling_agg(events_stream(spark, src)),
            name,
            "complete",
            progress_sink=progress,
            checkpoint=ckpt,
        )
        return out, sum(p["numInputRows"] for p in progress)

    _, p1_rows = drain("s16_phase1_mem")
    ev.where(F.col("event_id") % 3 != 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    phase2, p2_rows = drain("s16_phase2_mem")

    if p2_rows >= total:
        raise RuntimeError(
            f"restart reprocessed old files ({p2_rows}/{total} rows read "
            "after resume) — checkpoint offsets were not recovered"
        )
    if p1_rows + p2_rows != total:
        raise RuntimeError(
            f"phases read {p1_rows}+{p2_rows} rows, fixture has {total} — "
            "rows were lost or double-read across the restart"
        )
    return phase2


S17_SKIP_REASON: str | None = None


try:  # probe the exact dependency the v2 worker protocol imports
    import google.protobuf  # noqa: F401

    @register("s17_stateful_totals_v2", _S02_ORACLE_SQL)
    def s17_stateful_totals_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
        """[T2/§2.11] s02's running-totals semantics on the
        ``transformWithStateInPandas`` v2 API (named ValueState handles,
        timers, TTL — ``streaming/stateful.py:running_user_totals_v2``),
        drained and reduced exactly like s02 and checked against the
        SAME batch oracle: v1, v2 and batch GROUP BY must agree
        bit-exactly. Registered only where protobuf exists."""
        from smfg_datawarehouse_spark.streaming.stateful import (
            running_user_totals_v2,
        )
        from smfg_datawarehouse_spark.streaming.windows import events_stream

        stream = events_stream(spark, _stage_events_dir(spark, sf_dir, "s17"))
        drained = run_stream_to_memory(
            spark, running_user_totals_v2(stream), "s17_mem", "update"
        )
        final = F.max(F.struct("n_events", "total_micros")).alias("s")
        return drained.groupBy("user_id").agg(final).select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.total_micros").alias("total_micros"),
        )
except ImportError as _e:
    S17_SKIP_REASON = f"s17_stateful_totals_v2 not registered: {_e}"


# ---------------------------------------------------------------------------
# s19: streaming HyperLogLog register state — the cardinality sibling of
# s18's count-min certification. Registers are built PORTABLY (md5 32-bit
# prefix: 6 bits of register index, 26-bit suffix whose leading-zero rank
# is the register value via an integer CASE ladder — no log anywhere), so
# DuckDB replays the exact same grid and the drained streaming state can
# be hash-compared, not just bounds-checked (x47 gates Spark's built-in
# HLL++ against exact counts; this certifies the MERGE of explicit
# register state across micro-batches: max() per register is the
# commutative merge HLL's correctness rests on).
# ---------------------------------------------------------------------------

_S19_M = 64  # registers (p = 6)
_S19_WBITS = 26  # hash bits feeding the leading-zero rank


def _s19_rho_sql(w: str) -> str:
    """Integer-exact leading-zero rank of a 26-bit value: 1 for the top
    bit set ... 27 for w = 0. Same text compiles in Spark SQL and DuckDB."""
    branches = " ".join(
        f"WHEN {w} >= {1 << (_S19_WBITS - r)} THEN {r}"
        for r in range(1, _S19_WBITS + 1)
    )
    return f"(CASE {branches} ELSE {_S19_WBITS + 1} END)"


_S19_HASH = "('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT"

_S19_ORACLE = f"""
    WITH h AS (
      SELECT event_type, {_S19_HASH} % 4294967296 AS hv, user_id
      FROM events
    ),
    regs AS (
      SELECT event_type, hv % {_S19_M} AS idx,
             MAX({_s19_rho_sql(f"(hv // {_S19_M})")}) AS rho
      FROM h GROUP BY 1, 2
    ),
    rolled AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_present,
             SUM(power(2.0, -rho)) AS s_present
      FROM regs GROUP BY event_type
    ),
    exact AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT r.event_type,
           e.n_exact,
           CAST({_S19_M} - r.n_present AS BIGINT) AS n_zero_regs,
           (0.709 * {_S19_M * _S19_M}.0)
             / (r.s_present + ({_S19_M} - r.n_present) * 1.0) AS raw_est
    FROM rolled r JOIN exact e ON e.event_type = r.event_type
"""


@register("s19_streaming_hll_registers", _S19_ORACLE)
def s19_streaming_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/X] STREAMING HLL REGISTER MERGE certified: the three-file
    events backlog drains one file per trigger while a complete-mode
    aggregation maintains MAX(rho) per (event_type, register) — the
    elementwise-max merge that makes HLL state mergeable across
    micro-batches, workers, and days. The drained 64-register grid rolls
    up to Σ2^(−rho) (a sum of ≤64 bounded dyadics — EXACT in a double in
    any order) and the raw HLL estimate α·m²/S beside the exact distinct
    count; DuckDB rebuilds the identical registers from the same md5
    construction, so a merge that lost or double-applied a partial
    hash-fails. Fixed m×|types| state at any stream length — the
    cardinality twin of s18's count-min grid."""
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    src = _scratch_dir(spark, "s19")
    raw = _os.path.join(src, "raw")
    load_events(spark, sf_dir).repartition(3).write.mode("overwrite").parquet(raw)

    hv = md5_int(F.col("user_id").cast("string")) % 4294967296
    stream = events_stream(spark, raw, max_files_per_trigger=1)
    regs_stream = (
        stream.select("event_type", hv.alias("hv"))
        .select(
            "event_type",
            (F.col("hv") % _S19_M).alias("idx"),
            F.expr(_s19_rho_sql(f"(hv DIV {_S19_M})")).alias("rho"),
        )
        .groupBy("event_type", "idx")
        .agg(F.max("rho").alias("rho"))
    )
    regs = run_stream_to_memory(spark, regs_stream, "s19_mem", "complete")

    rolled = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s_present"),
    )
    exact = (
        load_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    )
    return rolled.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        (F.lit(_S19_M) - F.col("n_present")).cast("long").alias("n_zero_regs"),
        (
            F.lit(0.709 * _S19_M * _S19_M)
            / (F.col("s_present") + (F.lit(_S19_M) - F.col("n_present")) * 1.0)
        ).alias("raw_est"),
    )


_S20_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_micros
    FROM events GROUP BY event_type
"""


@register("s20_streaming_exactly_once_sink", _S20_ORACLE)
def s20_streaming_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/S7] EXACTLY-ONCE STREAMING SINK certified: a three-micro-batch
    drain lands in a manifest table through ``foreachBatch`` +
    ``manifest.append_once`` (per-writer batch-id high-water map carried
    INSIDE each manifest — Delta's txnAppId/txnVersion contract, with
    the marker and the file list published by the same atomic CURRENT
    swap), then the at-least-once failure is INJECTED: the last
    micro-batch is re-delivered manually. The cert RAISES unless the
    replay was a committed NO-OP (version unchanged) — a sink without
    the marker double-appends exactly here — and the hash gate proves
    the table holds each fixture row exactly once. s15 certifies WAP
    quarantine; s16 offset recovery; this certifies idempotent COMMITS
    under redelivery, the third leg of streaming exactly-once.

    Scale shape: per micro-batch cost is one staged write + one O(1)
    conditional pointer swap; the txn map is a few bytes per writer in
    metadata the commit writes anyway, at any stream length."""
    from smfg_datawarehouse_spark.sources.manifest import (
        ManifestTable,
        append_once,
    )
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    src = _scratch_dir(spark, "s20")
    raw = _os.path.join(src, "raw")
    load_events(spark, sf_dir).repartition(3).write.mode("overwrite").parquet(raw)

    table = ManifestTable(spark, _os.path.join(src, "sink"))
    seen: dict[int, DataFrame] = {}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        seen[batch_id] = batch_df.select("event_id", "event_type", "value")
        append_once(table, seen[batch_id], "s20", batch_id)

    stream = events_stream(spark, raw, max_files_per_trigger=1)
    drain_available(
        spark,
        stream.writeStream.foreachBatch(sink).option(
            "checkpointLocation", _os.path.join(src, "ckpt")
        ),
    )
    if len(seen) < 2:
        raise RuntimeError(f"expected a multi-batch drain, saw {sorted(seen)}")

    v_before = table.current_version()
    last = max(seen)
    replay = append_once(table, seen[last], "s20", last)  # injected redelivery
    if replay is not None or table.current_version() != v_before:
        raise RuntimeError(
            f"redelivered batch {last} was committed again "
            f"(v{v_before} -> v{table.current_version()})"
        )
    return table.read().groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(micro("value"))
        .cast("long")
        .alias("total_micros"),
    )


_S21_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
             AS n_days,
           quantile_cont(value, 0.5) AS exact_p50,
           quantile_cont(value, 0.9) AS exact_p90,
           TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
    FROM events
"""


@register("s21_streaming_kll_quantiles", _S21_ORACLE)
def s21_streaming_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/X] STREAMING KLL QUANTILE SKETCH certified — the third
    streaming-sketch leg beside s18 (CMS counters, additive) and s19
    (HLL registers, max-merge): the events fixture drains one file per
    micro-batch while a complete-mode per-day aggregation maintains KLL
    sketch state (``kll_sketch_agg_double``, k=200) ACROSS micro-batches
    in the state store — the mergeable-quantile property that lets a
    100 TB deployment keep KB-sized percentile state per partition
    instead of re-sorting history every trigger. The drained per-day
    sketches then fold through the same scalar ``kll_sketch_merge_double``
    rollup x95 certifies batch-side, and the merged estimate is gated by
    TRUE RANK against the exact distribution (±3% rank, x95's gate —
    KLL compaction is sampled, so the cert checks the guarantee, not a
    library-specific byte value). x95 certifies merge-over-days at rest;
    this certifies the sketch surviving incremental micro-batch state
    updates with late fixture slices still arriving.

    Scale shape: streaming state = |days| × KB regardless of event rate;
    the drain emits day-level sketches (bounded by the calendar, not the
    data); the corpus-side exact percentiles exist only as the
    certification's ground truth."""
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    src = _scratch_dir(spark, "s21")
    raw = _os.path.join(src, "raw")
    load_events(spark, sf_dir).repartition(3).write.mode("overwrite").parquet(raw)

    stream = events_stream(spark, raw, max_files_per_trigger=1)
    daily_stream = stream.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.kll_sketch_agg_double("value", 200).alias("sk"))
    daily = run_stream_to_memory(spark, daily_stream, "s21_mem", "complete")

    merged = daily.agg(F.collect_list("sk").alias("sks")).select(
        F.expr(
            "aggregate(slice(sks, 2, greatest(size(sks) - 1, 0)), sks[0], "
            "(a, x) -> kll_sketch_merge_double(a, x))"
        ).alias("sk"),
        F.size(F.col("sks")).cast("long").alias("n_days"),
    )
    est = merged.select(
        "n_days",
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.5)).alias("e50"),
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.9)).alias("e90"),
    )
    e = load_events(spark, sf_dir)
    stats = e.crossJoin(F.broadcast(est)).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.first("n_days").alias("n_days"),
        F.expr("percentile(value, 0.5)").alias("exact_p50"),
        F.expr("percentile(value, 0.9)").alias("exact_p90"),
        F.sum((F.col("value") <= F.col("e50")).cast("int")).alias("le50"),
        F.sum((F.col("value") <= F.col("e90")).cast("int")).alias("le90"),
    )
    return stats.select(
        "n_rows",
        "n_days",
        "exact_p50",
        "exact_p90",
        (F.abs(F.col("le50") / F.col("n_rows") - 0.5) <= F.lit(0.03)).alias(
            "p50_rank_ok"
        ),
        (F.abs(F.col("le90") / F.col("n_rows") - 0.9) <= F.lit(0.03)).alias(
            "p90_rank_ok"
        ),
    )


_S22_ORACLE = """
    WITH hourly AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
             event_type, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', hour_start) AS TIMESTAMP) AS day_start,
           CAST(COUNT(*) AS BIGINT) AS n_hour_slices,
           CAST(SUM(cnt) AS BIGINT) AS n_events,
           CAST(MAX(cnt) AS BIGINT) AS max_slice_cnt
    FROM hourly GROUP BY 1
"""


@register("s22_streaming_chained_aggregation", _S22_ORACLE)
def s22_streaming_chained_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2] CHAINED STATEFUL AGGREGATION certified — TWO windowed
    aggregations stacked in ONE streaming query (hourly (window, type)
    counts re-aggregated into daily rollups), the
    multiple-stateful-operators topology Spark supports since 3.4/4.x:
    the first aggregation's append-mode emissions feed the second's
    state store inside the same micro-batch DAG, with the event-time
    watermark propagated THROUGH the first window into the second
    (``window(window_col, '1 day')`` re-windows the struct without a
    round trip to a sink). Before this was supported, pipelines had to
    materialize the hourly layer to storage and run a second streaming
    job — double checkpoint, double latency. A propagation bug
    (first-stage window closing late, second stage double-counting a
    re-emitted hour) hash-fails against the two-level batch oracle.

    The drain stages one HEARTBEAT event at max(ts) + 3 days (s08's
    event-time flush pattern), written as the LAST file in mtime order
    so the backlog's real files are all consumed before the watermark
    jumps: the heartbeat advances the watermark past every real day
    window (flushing both stages), while its own hour window can never
    close (watermark ceiling = hb_ts − delay < hb's window end), so the
    sentinel provably cannot reach the output.

    Scale shape: stage-1 state is (hour × type) keys within the
    watermark horizon, stage-2 state is days — both calendar-bounded,
    independent of event rate; one keyed exchange per stage, identical
    to the batch plan's two shuffles."""
    import os as _os2

    from smfg_datawarehouse_spark.streaming.windows import events_stream

    src = _scratch_dir(spark, "s22")
    raw = _os.path.join(src, "raw")
    _os2.makedirs(raw, exist_ok=True)
    batch = load_events(spark, sf_dir)

    # Arrival order must respect event time ACROSS files: a random file
    # split would let an early-time event land in a late micro-batch and
    # be dropped as late data once earlier batches advanced the watermark
    # (that drop path is s11's cert — here arrival models a raw zone fed
    # in commit order). TWO event-time ranges staged with increasing
    # mtimes (FileStreamSource consumes oldest-first), heartbeat strictly
    # last: batch 2 proves stage-1 state accumulates ACROSS batches and
    # the heartbeat batch proves the watermark flush propagates through
    # both stacked aggregations — a third real slice only repeated batch
    # 2's accumulation at ~1 trigger of cost (VERDICT r7 item 2), and
    # the two-level rollup is slice-boundary-invariant, so the oracle
    # hash is unchanged.
    lo, hi = batch.agg(F.min("ts"), F.max("ts")).first()
    t1 = lo + (hi - lo) / 2
    slices = [
        batch.where(F.col("ts") < F.lit(t1)),
        batch.where(F.col("ts") >= F.lit(t1)),
    ]
    hb = (
        batch.orderBy(F.col("ts").desc())
        .limit(1)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 3 DAYS"))
        .withColumn("event_type", F.lit("hb"))
        .withColumn("user_id", F.lit(-1).cast("long"))
        .select(*batch.columns)
    )
    _stage_ordered_slices(src, raw, slices + [hb])

    stream = events_stream(spark, raw, max_files_per_trigger=1)
    hourly = stream.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    daily = (
        hourly.groupBy(F.window(F.col("w"), "1 day").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hour_slices"),
            F.sum("cnt").cast("long").alias("n_events"),
            F.max("cnt").cast("long").alias("max_slice_cnt"),
        )
        .select(
            F.col("d.start").alias("day_start"),
            "n_hour_slices",
            "n_events",
            "max_slice_cnt",
        )
    )
    return run_stream_to_memory(spark, daily, "s22_mem", "append")


@register("s23_streaming_source_union", _S01_ORACLE)
def s23_streaming_source_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2] MULTI-SOURCE UNION topology certified — the fan-in every
    real deployment runs (N kafka topics / landing dirs feeding ONE
    stateful pipeline): the events fixture is split across TWO raw-zone
    directories (disjoint event_id parity classes standing in for two
    topics), each read as its own file-source stream with its own
    watermark tracker and its own maxFilesPerTrigger cadence, UNIONed
    into a single tumbling (hour, type) aggregation whose state store
    therefore merges partial counts fed by BOTH sources across
    interleaved micro-batches. The drained complete-mode snapshot must
    equal s01's single-source batch oracle exactly — a union that
    dropped a side, double-planned a source, or let the two sources'
    watermark trackers interfere hash-fails here and nowhere else in
    the s-family (s09 certifies multi-batch state for ONE source; this
    certifies the multi-SOURCE merge).

    Scale shape: identical state to s01 (window × type keys); each
    source contributes its own scan tasks, so fan-in parallelism is
    additive — exactly how N topics scale on a real cluster."""
    from smfg_datawarehouse_spark.streaming.windows import events_stream

    src = _scratch_dir(spark, "s23")
    raw_a = _os.path.join(src, "raw_a")
    raw_b = _os.path.join(src, "raw_b")
    batch = load_events(spark, sf_dir)
    batch.where(F.col("event_id") % 2 == 0).repartition(2).write.mode(
        "overwrite"
    ).parquet(raw_a)
    batch.where(F.col("event_id") % 2 == 1).repartition(2).write.mode(
        "overwrite"
    ).parquet(raw_b)

    stream = events_stream(spark, raw_a, max_files_per_trigger=1).unionByName(
        events_stream(spark, raw_b, max_files_per_trigger=1)
    )
    return run_stream_to_memory(
        spark, tumbling_agg(stream), "s23_mem", "complete"
    ).select(
        F.col("window_start"), "event_type", "cnt", "total_value"
    )


_S24_ORACLE = """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), ch AS (
      SELECT user_id, event_type, ts, event_id FROM o
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS BIGINT) AS version,
           event_type,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             AS is_current
    FROM ch
"""


@register("s24_streaming_scd2_maintenance", _S24_ORACLE)
def s24_streaming_scd2_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/J3/§2.5] STREAMING SCD2 DIMENSION MAINTENANCE certified — the
    foreachBatch production shape for keeping a type-2 slowly-changing
    dimension current from an ordered change feed: the events backlog is
    staged as TWO event-time-ordered slices (CDC commit order — SCD2
    apply, like any CDC apply, is only defined over an ordered feed;
    s11 certifies the drop path for feeds that violate it) and drained
    one file per micro-batch; each batch seeds its change detection with
    the dimension's OPEN row per user (batch-internal LAG for the rest),
    CLOSES the open row at the user's first in-batch change, appends the
    new validity-interval rows with continued version numbers, and
    publishes via one ``ManifestTable.merge`` keyed on (user_id,
    version). The converged table hash-checks against q79's BATCH SCD2
    oracle — so batch-built and stream-maintained history are certified
    IDENTICAL, the lambda-architecture equivalence that makes streaming
    dim maintenance trustworthy. s10 certifies the type-1 (latest-wins)
    streaming merge; this is its history-preserving type-2 twin.

    Scale shape: per batch, ONE user-keyed window over batch rows plus a
    key-joined lookup of open rows, and a key-shuffled MERGE — state
    lives in the dimension table, not the state store, so key
    cardinality is unbounded; version numbering never rescans closed
    history (open row carries the max version by construction)."""
    import os as _os2

    from smfg_datawarehouse_spark.streaming.windows import events_stream

    src = _scratch_dir(spark, "s24")
    raw = _os.path.join(src, "raw")
    _os2.makedirs(raw, exist_ok=True)
    batch = load_events(spark, sf_dir)

    # TWO event-time slices: batch 1 is the initial load (no open rows —
    # every user's history starts), batch 2 is the cross-batch state
    # transition this certifies (open-row seeding, close-at-first-change,
    # version continuation). A third slice only repeated batch 2's
    # transition at ~1.5 s per extra merge cycle (VERDICT r7 item 2:
    # enough triggers to PROVE the transition, not more) — and the final
    # dimension is slice-boundary-invariant by construction, so the
    # oracle hash is unchanged.
    lo, hi = batch.agg(F.min("ts"), F.max("ts")).first()
    t1 = lo + (hi - lo) / 2
    slices = [
        batch.where(F.col("ts") < F.lit(t1)),
        batch.where(F.col("ts") >= F.lit(t1)),
    ]
    _stage_ordered_slices(src, raw, slices)

    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    vt = ManifestTable(spark, _os.path.join(src, "dim"))

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select("user_id", "event_type", "ts", "event_id")
        if b.isEmpty():
            return
        wb = W.partitionBy("user_id").orderBy("ts", "event_id")
        b = b.withColumn("prev_type", F.lag("event_type").over(wb))
        if vt.current_version() is not None:
            open_rows = (
                vt.read()
                .where(F.col("valid_to").isNull())
                .select(
                    "user_id",
                    F.col("event_type").alias("open_type"),
                    F.col("version").alias("open_ver"),
                    F.col("valid_from").alias("open_from"),
                )
            )
        else:
            open_rows = (
                b.select("user_id")
                .limit(0)
                .withColumn("open_type", F.lit(None).cast("string"))
                .withColumn("open_ver", F.lit(None).cast("long"))
                .withColumn("open_from", F.lit(None).cast("timestamp"))
            )
        seeded = b.join(F.broadcast(open_rows), "user_id", "left")
        changes = seeded.where(
            (
                F.col("prev_type").isNull()
                & (
                    F.col("open_type").isNull()
                    | (F.col("open_type") != F.col("event_type"))
                )
            )
            | (
                F.col("prev_type").isNotNull()
                & (F.col("prev_type") != F.col("event_type"))
            )
        )
        new_rows = changes.select(
            "user_id",
            (
                F.coalesce(F.col("open_ver"), F.lit(0).cast("long"))
                + F.row_number().over(wb).cast("long")
            ).alias("version"),
            "event_type",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(wb).alias("valid_to"),
        )
        closed = (
            changes.groupBy("user_id")
            .agg(
                F.min("ts").alias("close_at"),
                F.first("open_ver").alias("open_ver"),
                F.first("open_type").alias("open_type"),
                F.first("open_from").alias("open_from"),
            )
            .where(F.col("open_ver").isNotNull())
            .select(
                "user_id",
                F.col("open_ver").alias("version"),
                F.col("open_type").alias("event_type"),
                F.col("open_from").alias("valid_from"),
                F.col("close_at").alias("valid_to"),
            )
        )
        # eager checkpoint: the window+join+agg upsert plan runs ONCE —
        # isEmpty() on the lazy frame would evaluate it, then merge()
        # would replay the whole lineage a second time
        upserts = closed.unionByName(new_rows).localCheckpoint()
        if not upserts.isEmpty():
            vt.merge(upserts, ["user_id", "version"])

    stream = events_stream(spark, raw, max_files_per_trigger=1).select(
        "event_id", "user_id", "ts", "event_type"
    )
    drain_available(
        spark,
        stream.writeStream.foreachBatch(apply_batch).option(
            "checkpointLocation", _os.path.join(src, "ckpt")
        ),
    )
    if vt.current_version() is None:
        raise RuntimeError("s24 drain landed no dimension snapshot")
    return vt.read().select(
        "user_id",
        "version",
        "event_type",
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
    )


_S25_ORACLE = """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS revenue
    FROM orders GROUP BY 1
"""


@register("s25_streaming_mv_refresh", _S25_ORACLE)
def s25_streaming_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/S7/A4] STREAMING INCREMENTAL MV MAINTENANCE certified — the
    refresh loop that keeps l36's materialized rollup current without
    ever rescanning history: the orders backlog lands as THREE files
    drained one per micro-batch; each batch folds its month-keyed
    DECIMAL partials (count + decimal revenue sum) ADDITIVELY into the
    MV — read current MV ⊎ batch partials, re-aggregate, publish as a
    new ``ManifestTable`` commit — and the converged MV must
    hash-equal the one-shot batch rollup of the whole table. The
    additive-decimal contract is the load-bearing part: folding DOUBLE
    partials batch-by-batch would accumulate a different rounding path
    than the oracle's single pass and hash-fail; decimal partials make
    refresh order irrelevant. l36 certifies SERVING from an MV + raw
    tail; this certifies MAINTAINING the MV itself — together they are
    the full incremental-view lifecycle.

    Scale shape: per batch, ONE month-keyed map-combined agg over only
    the batch's rows plus a |months|-sized combine with the current MV;
    the MV table never exceeds |months| rows, so refresh cost is
    O(batch) regardless of history size."""

    from smfg_datawarehouse_spark.sources.manifest import ManifestTable

    src = _scratch_dir(spark, "s25")
    raw = _os.path.join(src, "raw")
    orders = t(spark, sf_dir, "orders")
    orders.repartition(3).write.mode("overwrite").parquet(raw)

    vt = ManifestTable(spark, _os.path.join(src, "mv"))

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("month")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(exact("o_totalprice")).alias("rev_partial"),
        )

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        delta = partial(batch_df)
        if vt.current_version() is not None:
            delta = vt.read().unionByName(delta)
        combined = delta.groupBy("month").agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            exact(F.sum("rev_partial")).alias("rev_partial"),
        )
        vt.write(combined)

    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(raw)
    )
    drain_available(
        spark,
        stream.writeStream.foreachBatch(refresh).option(
            "checkpointLocation", _os.path.join(src, "ckpt")
        ),
    )
    if vt.current_version() is None:
        raise RuntimeError("s25 drain landed no MV snapshot")
    return vt.read().select(
        "month",
        "n_orders",
        F.col("rev_partial").cast("double").alias("revenue"),
    )


def _s26_oracle() -> str:
    """Unrolled 2-wave replay of the streaming LSH index maintenance:
    wave w's arrivals are checked against idx{w} (corpus ∪ the earlier
    wave's ADMITTED arrivals), then the admitted set is folded into
    idx{w+1} — the exact cascade foreachBatch executes, expressed as
    CTE layers over the shared minhash/banding fragments x61's oracle
    uses. TWO waves, not more: wave 1 already proves the load-bearing
    transition (reject against an arrival ADMITTED in a prior batch —
    the index grew); further waves would only repeat it (the s22/s24
    two-slice adjudication applied here)."""
    from smfg_datawarehouse_spark.operators.dedup import (
        _band_cols,
        _band_union,
        _match_sum,
        _minhash_cols,
        _minhash_hashed_sql,
        _NUM_HASHES,
        _WORD_SHINGLE_SQL,
    )

    layers = []
    for w in range(2):
        layers.append(f"""
    cand{w} AS (
      SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
      FROM stacked n
      JOIN arr a ON a.doc_id = n.doc_id AND a.wave = {w}
      JOIN stacked c ON n.bi = c.bi AND n.bh = c.bh
      WHERE c.doc_id IN (SELECT doc_id FROM idx{w})
    ),
    scored{w} AS (
      SELECT cand{w}.new_id, cand{w}.corpus_id,
             CAST(({_match_sum}) AS DOUBLE) / {_NUM_HASHES}.0 AS est
      FROM cand{w}
      JOIN sig sa ON sa.doc_id = cand{w}.new_id
      JOIN sig sb ON sb.doc_id = cand{w}.corpus_id
      WHERE CAST(({_match_sum}) AS DOUBLE) / {_NUM_HASHES}.0 >= 0.5
    ),
    best{w} AS (
      SELECT new_id, corpus_id, est FROM (
        SELECT new_id, corpus_id, est,
               ROW_NUMBER() OVER (PARTITION BY new_id
                                  ORDER BY est DESC, corpus_id) AS rn
        FROM scored{w}
      ) WHERE rn = 1
    ),
    adm{w} AS (
      SELECT a.doc_id FROM arr a
      WHERE a.wave = {w}
        AND a.doc_id NOT IN (SELECT new_id FROM best{w})
    ),
    idx{w + 1} AS (
      SELECT doc_id FROM idx{w} UNION ALL SELECT doc_id FROM adm{w}
    )""")
    return f"""
    WITH sh AS ({_WORD_SHINGLE_SQL}),
    sig AS (
      SELECT doc_id,
           {_minhash_cols}
      FROM ({_minhash_hashed_sql}) GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id,
           {_band_cols}
      FROM sig
    ),
    stacked AS (
{_band_union}
    ),
    arr AS (
      SELECT doc_id, (doc_id // 10) % 2 AS wave
      FROM documents WHERE doc_id % 10 = 7
    ),
    idx0 AS (SELECT doc_id FROM documents WHERE doc_id % 10 <> 7),
    {",".join(layers)}
    SELECT a.doc_id, CAST(a.wave AS BIGINT) AS wave,
           COALESCE(b.corpus_id, -1) AS dup_of,
           COALESCE(b.est, 0.0) AS est_jaccard,
           b.corpus_id IS NULL AS admitted
    FROM arr a
    LEFT JOIN (SELECT * FROM best0 UNION ALL
               SELECT * FROM best1) b
      ON b.new_id = a.doc_id
    """


@register("s26_streaming_index_maintenance", _s26_oracle())
def s26_streaming_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[T2/§2.12] STREAMING LSH INDEX MAINTENANCE certified — the
    continuous-crawl shape: a STANDING MinHash/LSH band index (x61's
    row format, seeded from the corpus) is MAINTAINED by foreachBatch
    across micro-batches. Each batch of arriving documents is signed
    fresh, checked against the index as of batch start (admit/reject
    with x61's est ≥ 0.5 / best-match tie-break), its verdicts appended
    to a verdict log, and the ADMITTED docs' band rows appended to the
    index — so a near-dup of a doc admitted in an earlier batch is
    rejected with ``dup_of`` naming the earlier ARRIVAL, not just a
    corpus doc. Arrivals (doc_id % 10 == 7) land as two mtime-ordered
    wave files (wave = (doc_id div 10) % 2, one file per micro-batch
    via ``maxFilesPerTrigger=1``; TWO waves — batch 2 already proves
    the cross-batch admit→reject transition, the s22/s24 two-slice
    adjudication), making the admission cascade deterministic and
    batch-replayable: the oracle unrolls the waves as CTE layers over
    the same shared minhash fragments.

    In-code invariants (RAISE-checked): every micro-batch carries
    exactly one wave (staging order intact), the drained verdict log
    covers every arrival exactly once, and the final index row count
    equals seeded corpus bands + one band-set per ADMITTED
    shingle-bearing doc (the append protocol wrote what it admitted,
    nothing else — sub-shingle-width docs carry no bands and append
    nothing).

    Scale shape: the index side is always the SCAN side and the batch
    side the BROADCAST (``lsh_index_match``) — per batch the cost is
    one index scan + a broadcast-hash join on the band key; no
    corpus-pair shuffle exists at any corpus size, and state lives in
    the persisted index table, not the state store (unbounded-corpus
    safe, the s10-CDC posture applied to dedup). At 100 TB the index is
    a bucketed table on (bi, bh); the append is a partition add. The
    wave staging is ONE arrival scan (partitioned single-task write),
    and batch frames are tiny by contract, so every per-batch job is
    index-IO-bound, never corpus-bound."""
    from smfg_datawarehouse_spark.functions import word_tokens
    from smfg_datawarehouse_spark.operators.dedup import (
        _BANDS,
        lsh_band_rows,
        lsh_index_match,
        minhash_signatures,
    )

    src = _scratch_dir(spark, "s26")
    raw = _os.path.join(src, "raw")
    _os.makedirs(raw, exist_ok=True)
    idx_path = _os.path.join(src, "index")
    verd_path = _os.path.join(src, "verdicts")

    d = t(spark, sf_dir, "documents")
    wave = F.expr("(doc_id DIV 10) % 2").cast("long")

    # stage the wave files from ONE arrival scan (single-task
    # partitioned write → one file per wave), mtime-pinned to wave order
    import shutil as _shutil
    import time as _time

    stage_root = _os.path.join(src, "stage")
    (
        d.where(F.col("doc_id") % 10 == 7)
        .withColumn("wave", wave)
        .repartition(1)
        .write.partitionBy("wave")
        .mode("overwrite")
        .parquet(stage_root)
    )
    now = _time.time()
    for w in range(2):
        wdir = _os.path.join(stage_root, f"wave={w}")
        if not _os.path.isdir(wdir):
            continue  # an empty wave stages no file (tiny fixtures)
        part = next(f for f in _os.listdir(wdir) if f.endswith(".parquet"))
        dst = _os.path.join(raw, f"{w}_wave.parquet")
        _shutil.copy(_os.path.join(wdir, part), dst)
        _os.utime(dst, (now - 600 + 300 * w, now - 600 + 300 * w))

    # seed the standing index with the corpus band rows
    corpus = d.where(F.col("doc_id") % 10 != 7)
    seed_bands = lsh_band_rows(minhash_signatures(corpus))
    idx_schema = seed_bands.schema  # declared on every index re-read:
    # the per-batch maintenance loop re-opens the index table; footer
    # inference per micro-batch is pure driver overhead (r9, guide §5)
    seed_bands.write.mode("overwrite").parquet(idx_path)
    n_seed = spark.read.schema(idx_schema).parquet(idx_path).count()

    # NOTE the wave files were written WITHOUT the wave column (partition
    # value lives in the directory name); recompute it per batch instead
    arrival_schema = d.schema

    def maintain(batch_df: DataFrame, batch_id: int) -> None:
        bands = lsh_band_rows(minhash_signatures(batch_df)).localCheckpoint(
            eager=True
        )
        idx = spark.read.schema(idx_schema).parquet(idx_path)
        best = lsh_index_match(idx, bands).localCheckpoint(eager=True)

        # the verdict log carries batch_id so wave↔batch purity is ONE
        # end-of-drain check instead of a per-batch driver collect
        def _write_verdicts() -> None:
            (
                batch_df.select("doc_id", wave.alias("wave"))
                .join(
                    F.broadcast(best), F.col("doc_id") == F.col("new_id"), "left"
                )
                .select(
                    "doc_id",
                    "wave",
                    F.coalesce(F.col("corpus_id"), F.lit(-1))
                    .cast("long")
                    .alias("dup_of"),
                    F.coalesce(F.col("est"), F.lit(0.0)).alias("est_jaccard"),
                    F.col("corpus_id").isNull().alias("admitted"),
                    F.lit(batch_id).cast("long").alias("batch_id"),
                )
                .write.mode("append")
                .parquet(verd_path)
            )

        def _write_index() -> None:
            bands.join(
                best.select(F.col("new_id").alias("doc_id")), "doc_id", "left_anti"
            ).write.mode("append").parquet(idx_path)

        # r10 (guide §2.6, the l03 move): both appends read only the
        # CHECKPOINTED best/bands frames and land in DIFFERENT tables, so
        # they are independent jobs the driver was running sequentially.
        # Overlapping them inside the batch keeps the protocol exact:
        # foreachBatch returns only after both futures resolve, so batch
        # N+1 still observes the fully-appended index.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [pool.submit(_write_verdicts), pool.submit(_write_index)]
            for f in futs:
                f.result()

    stream = (
        spark.readStream.schema(arrival_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(raw)
    )
    drain_available(
        spark,
        stream.writeStream.foreachBatch(maintain).option(
            "checkpointLocation", _os.path.join(src, "ckpt")
        ),
    )

    verdicts = spark.read.parquet(verd_path).localCheckpoint(eager=True)
    # wave↔batch purity from the log itself: a wave split across batches
    # or a batch mixing waves both surface as a non-1:1 cell structure
    cells = verdicts.groupBy("wave", "batch_id").count().collect()
    waves_of = {}
    batches_of = {}
    for r in cells:
        waves_of.setdefault(r["batch_id"], set()).add(r["wave"])
        batches_of.setdefault(r["wave"], set()).add(r["batch_id"])
    if any(len(v) != 1 for v in waves_of.values()) or any(
        len(v) != 1 for v in batches_of.values()
    ):
        raise RuntimeError(f"s26 wave/batch structure broken: {sorted(cells)}")
    n_verd = sum(r["count"] for r in cells)
    # StructType.add MUTATES in place — building the widened schema from a
    # fresh StructType keeps d.schema (aliased by the t() schema memo)
    # from growing a phantom 'wave' column for every later documents read
    from pyspark.sql.types import LongType, StructField, StructType

    staged_schema = StructType(
        list(arrival_schema.fields) + [StructField("wave", LongType())]
    )
    # ONE batched audit job (r10, the _bpe_train reporting move, guide
    # §1/§5 driver-cost): arrival coverage, admitted banded-doc count and
    # final index size are three independent COUNTS over three different
    # inputs — unioned into a single action instead of three driver
    # round trips (the checks themselves are unchanged)
    arrivals_cnt = (
        spark.read.schema(staged_schema)
        .parquet(stage_root)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("arrivals").alias("k"), "n")
    )
    banded_cnt = (
        d.join(
            verdicts.where("admitted").select("doc_id"), "doc_id", "left_semi"
        )
        .where(F.size(word_tokens(F.col("text"))) >= 3)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("banded_adm").alias("k"), "n")
    )
    idx_cnt = (
        spark.read.schema(idx_schema)
        .parquet(idx_path)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("idx").alias("k"), "n")
    )
    audit = {
        r["k"]: r["n"]
        for r in arrivals_cnt.unionByName(banded_cnt)
        .unionByName(idx_cnt)
        .collect()
    }
    n_arrivals = audit["arrivals"]
    if n_verd != n_arrivals:
        raise RuntimeError(
            f"s26 verdict log covers {n_verd} of {n_arrivals} arrivals"
        )
    # index growth invariant: seeded bands + one band-set per admitted
    # shingle-bearing doc (docs under the shingle width have no bands)
    n_banded_adm = audit["banded_adm"]
    n_idx = audit["idx"]
    if n_idx != n_seed + _BANDS * n_banded_adm:
        raise RuntimeError(
            f"s26 index drifted: {n_idx} rows vs seeded {n_seed} + "
            f"{_BANDS} x {n_banded_adm} admitted"
        )
    return verdicts.drop("batch_id")
