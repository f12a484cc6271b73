"""Engine query surface — one named query per operator in SURVEY.md §2.

Each entry pairs a DataFrame-API implementation with an ANSI-SQL oracle
(DuckDB dialect) the driver runs side-by-side. Registry keys are stable
names surfaced through ``__spark_entry__.queries()`` / ``oracle_sql()``.

Determinism conventions (so Spark and the DuckDB oracle hash-match):

- **Money/float SUMs**: per-row arithmetic stays in double (IEEE ops are
  bit-identical across engines), each row value is cast to
  ``DECIMAL(30,6)`` (deterministic round-to-nearest), the sum is exact
  decimal (associative — partition order can't change it), and the final
  value is cast back to double. AVG = exact-decimal-sum / count.
  ``exact`` is that cast; ``dsum``/``davg`` and every partial, windowed or
  cumulative exact sum are built from it.
- **Micro-units**: ``micro`` rounds a double half-up onto the 1e-6 grid as
  an integer, ``floor(x·1e6 + 0.5)`` — one IEEE multiply-add-floor chain
  that every engine evaluates identically; sums of micro-units are exact
  BIGINT arithmetic. A site uses micro-units instead of ``davg`` when its
  input is a *computed* double (a ratio, a score, a distance): such a
  value can land exactly on a ``DECIMAL`` rounding tie, which Spark
  resolves half-up and DuckDB half-even. ``micro_np`` is the numpy twin
  for the Arrow kernels that replay the same grid.
- **Hash words**: ``md5_int`` is the oracle's
  ``('0x' || substring(md5(x), start, length))::BIGINT`` — a window of the
  md5 hex digest read as an integer (4, 8 or 15 hex digits all fit a
  BIGINT). ``hex_int`` reads a window of a digest already computed, so a
  site that takes two words from one hash hashes once.
- **Counts/ints**: cast to BIGINT on both sides.
- **Top-k / windows**: always a unique tie-break key in the ORDER BY.
- **Ratios of exact ints**: plain double division (single op, no
  summation-order issue) — safe to round.

Reference-coverage tags (SURVEY.md §2) are noted per query: P=projection/
filter, J=join, A=aggregation, O=sort/limit, U=set-op, L=audit, T=incremental,
X=extension (BASELINE.json LLM-pipeline ops).
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _certified_from_disk() -> tuple[set[str], dict[str, str]]:
    """Names with a green driver row in on-disk CORRECTNESS_r*.json, plus
    each green name's most-recent certifying file (for staleness order).

    The driver lands a new CORRECTNESS_r{N}.json after each round closes,
    i.e. AFTER the builder's last commit — so a hardcoded certified set is
    stale (and the slot-waste guard red) the moment a round ends. Deriving
    the tier from the files themselves makes the window self-refreshing:
    every new driver record immediately pushes its green names to the back
    of the registry order and promotes the never-certified complement into
    the next 50-slot sample window. Green means ``hash_match is True``, or
    — ONLY for the oracle-less rows-only checks (custom stateful
    streaming) where the driver records no hash verdict at all —
    ``hash_match`` absent/None with ``rows_match`` True. A row with an
    explicit ``hash_match: false`` is a FAILURE even when its row counts
    agree (ADVICE r7: r01's q18 was exactly that shape), and the LATEST
    round's verdict wins per name, so a regression in a newer record
    demotes the query back into the re-test tier instead of riding an old
    green forever. A malformed/unreadable file is skipped (never fatal on
    import). The CORRECTNESS files are tracked in git, so a checkout
    always has them.
    """
    import glob
    import json

    verdicts: dict[str, bool] = {}
    last_green: dict[str, str] = {}
    # lexicographic sort == round order for the zero-padded r{NN} names;
    # later files overwrite, so each name carries its most recent verdict
    for path in sorted(
        glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json"))
    ):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            hm = row.get("hash_match")
            green = bool(row.get("rows_match")) if hm is None else bool(hm)
            verdicts[name] = green
            if green:
                last_green[name] = os.path.basename(path)
    certified = {n for n, green in verdicts.items() if green}
    return certified, {n: last_green[n] for n in certified}


#: Names with a green driver CORRECTNESS row in any past round. The
#: driver samples the first N registered queries in order, so the
#: never-yet-certified names go FIRST and already-certified ones to the
#: back (see :func:`_priority_order`).
_CERTIFIED, _CERT_RECENCY = _certified_from_disk()

#: Already-certified names whose underlying code THIS round touches
#: (perf rewrites, shared-frame caching, dialect edges). They sort right
#: behind every uncertified name, so if the driver window has spare
#: slots a fresh hash re-validates this round's changes — and because
#: every uncertified name still outranks them, a filler can never steal
#: a slot from a never-certified query. Refresh per round alongside the
#: round notes; stale entries cost nothing (they stay certified).
_RECERT_FILLERS = {
    # round 9 advice fixes (ADVICE r8): x156's NULL-hash survivor gate
    # and x158's code-point l0 changed the engine plan — re-hash both
    "x156_crossversion_dedup_stability", "x158_bpe_apply_by_source",
    # round 9 perf rewrites: l25's max_by assignment + local-frame
    # centroids, l37's single-exceptAll gate, l22's one-scan deltas,
    # l26's shared LEFT-join rollup, q97's checkpointed edge table,
    # manifest.commit_all's concurrent per-table writes (l26 again)
    "l25_ann_index_persistence", "l37_changelog_replay",
    "l22_deletion_vector_delete", "l26_multi_table_transaction",
    "q97_recursive_reachability",
    # round 9 refactor: x61's band/scoring blocks extracted to the shared
    # lsh_band_rows/lsh_index_match kernels (now also s26's) — plan-equal
    # by construction, re-hash to prove it
    "x61_incremental_minhash_dedup",
}


def _priority_order(names) -> list[str]:
    """Three evidence tiers, driver-sample-aware: (0) names with no green
    driver row in any on-disk CORRECTNESS file (highest divergence risk —
    new registrations land here automatically), (1) certified names whose
    code changed this round (_RECERT_FILLERS), (2) every other certified
    name ordered OLDEST certification first (VERDICT r7 item 4: with all
    names certified, the 50-slot window is pure re-certs — spend it on
    the rows whose last green is most stale against the fixture
    regenerations, r01/r02 certs being 6+ rounds old). Stable
    (registration) order breaks ties. The driver samples the FIRST 50
    names; because every uncertified name outranks every certified one,
    fillers can never waste a slot a never-certified query could have
    used."""

    def key(n: str):
        if n not in _CERTIFIED:
            return (0, "")
        if n in _RECERT_FILLERS:
            return (1, "")
        # filename sorts by round: CORRECTNESS_r01.json < ..._r07.json
        return (2, _CERT_RECENCY.get(n, ""))

    return sorted(names, key=key)


def all_queries() -> dict[str, QueryFn]:
    # import for registration side effects
    from smfg_datawarehouse_spark.operators import register_all  # noqa: F401

    register_all()
    return {n: _QUERIES[n] for n in _priority_order(_QUERIES)}


def all_oracles() -> dict[str, str]:
    from smfg_datawarehouse_spark.operators import register_all  # noqa: F401

    register_all()
    return {n: _ORACLES[n] for n in _priority_order(_ORACLES)}


def _ensure_session_confs(spark: SparkSession) -> None:
    """Ensure the determinism confs on THIS session. ``session.get_spark``
    owns them for engine-built sessions; this check-then-set exists for
    externally-built sessions (the correctness driver constructs its own
    SparkSession). Keyed on the live conf VALUE, not an applicationId
    memo: ``spark.newSession()`` shares the application but not the
    SQLConf, and a caller may reset the timezone between queries — a memo
    would silently skip re-pinning and shift every date_trunc/window
    result against the zone-naive oracle. Two conf reads per table load
    are sub-millisecond.

    The reads use NO fallback default: Spark 4 VALIDATES an explicit
    ``conf.get(key, default)`` default against the conf's type, so a
    sentinel like ``""`` throws INVALID_CONF_VALUE in any session that
    hasn't explicitly set the key (exactly the externally-built driver
    session this guard exists for). Both keys always have an effective
    engine default, so the no-default read cannot miss; the bare except
    turns any future read quirk into a re-pin instead of a crash."""
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        tz = None
    if tz != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:
        nanos = None
    if nanos != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


#: Per-(application, sf_dir, table) memo of the fixture tables' parquet
#: SCHEMAS (r9 optimization). ``spark.read.parquet(path)`` re-infers the
#: schema on every call — a driver-side footer read + file listing
#: measured at ~200 ms/call on this host (and ~0.5 s on the first action
#: against the fresh relation); with ~340 queries × 3 bench repeats ×
#: 1-4 table loads each, inference alone costs tens of seconds per
#: suite. Production tables carry their schema in a catalog/metastore —
#: re-deriving it per query is exactly the driver-side metadata work
#: guide §5/§6 says to keep off the hot path. The memo stores ONLY the
#: StructType (never data, never a DataFrame): every action still scans
#: the parquet files cold. Keyed on applicationId so an external driver
#: session can never see a stale entry from a previous app.
_TABLE_SCHEMA_MEMO: dict[tuple[str, str, str], object] = {}


def _memo_schema(key: tuple[str, str, str], schema) -> None:
    """Store a DEFENSIVE COPY in the memo. ``df.schema`` is the caller's
    live (mutable) StructType — aliasing it means any caller-side
    ``schema.add(...)`` silently widens every later memoized read of the
    table (observed: s26's arrival-count read)."""
    from pyspark.sql.types import StructType

    _TABLE_SCHEMA_MEMO[key] = StructType.fromJson(schema.jsonValue())


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (column-pruned / filter-pushed by Catalyst).

    Requires a UTC session timezone (owned by ``session.get_spark``;
    ensured once per application for externally-built sessions): event
    timestamps surface as TIMESTAMP_LTZ, so date_trunc/window/year
    results would otherwise depend on the caller session's zone — the
    DuckDB oracle is zone-naive and expects UTC semantics.

    Schema-defensiveness note: for every table except ``events`` the
    DuckDB oracle reads the SAME parquet files, so Spark and the oracle
    cannot drift apart on a fixture re-encoding — no normalization is
    needed (and casting here would *break* parity by changing only
    Spark's side). ``events`` is the exception because one historical
    encoding (INT64 nanos) is unreadable by Spark's vectorized reader;
    ``load_events`` branches on the observed dtype. The schema memo
    (:data:`_TABLE_SCHEMA_MEMO`) preserves that defensiveness: the
    schema is still OBSERVED from the files on first load per
    application — it is just not re-inferred on every subsequent load.
    """
    _ensure_session_confs(spark)
    if name == "events":
        return load_events(spark, sf_dir)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    schema = _TABLE_SCHEMA_MEMO.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _memo_schema(key, df.schema)
        return df
    return spark.read.schema(schema).parquet(path)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-defensive events loader: normalize ``ts`` to TIMESTAMP however
    the fixture encodes it.

    Fixture generations have stored ``ts`` as either parquet INT64
    TIMESTAMP(NANOS) (which Spark's vectorized reader rejects with
    [PARQUET_TYPE_ILLEGAL] unless read as raw long) or plain
    ``timestamp[us]``. Branch on the *observed* dtype rather than assuming
    an encoding, so a fixture regeneration can never invalidate every
    events query again:

    - LongType  → treat as epoch nanos, truncate to micros (matches DuckDB's
      TIMESTAMP_NS cast truncation, keeping oracle comparisons exact).
    - Timestamp(_NTZ) → pass through (cast unifies NTZ vs LTZ; session TZ is
      pinned to UTC in ``t()`` so semantics are identical).
    """
    from pyspark.sql.types import LongType

    _ensure_session_confs(spark)
    path = os.path.join(sf_dir, "events.parquet")
    key = (spark.sparkContext.applicationId, sf_dir, "events")
    schema = _TABLE_SCHEMA_MEMO.get(key)
    if schema is None:
        raw = spark.read.parquet(path)
        _memo_schema(key, raw.schema)
    else:
        raw = spark.read.schema(schema).parquet(path)
    ts_type = raw.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def exact(col: F.Column | str) -> F.Column:
    """``col`` as ``DECIMAL(30,6)``: the exact form every deterministic
    float sum accumulates in (oracle: ``CAST(x AS DECIMAL(30,6))``)."""
    return (F.col(col) if isinstance(col, str) else col).cast("decimal(30,6)")


def dsum(col: F.Column | str) -> F.Column:
    """Deterministic float SUM: exact decimal accumulation, double result."""
    return F.sum(exact(col)).cast("double")


def davg(col: F.Column | str) -> F.Column:
    """Deterministic float AVG matching `CAST(SUM(DECIMAL) AS DOUBLE)/COUNT`."""
    return dsum(col) / F.count(F.lit(1))


#: The micro-unit grid: ``micro`` counts multiples of 1/MICRO.
MICRO = 1000000.0


def micro(col: F.Column | str) -> F.Column:
    """``floor(col·1e6 + 0.5)`` as BIGINT — ``col`` rounded half-up to
    integer micro-units (oracle: ``CAST(floor(x * 1000000.0 + 0.5) AS
    BIGINT)``)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.floor(col * MICRO + 0.5).cast("long")


def micro_np(x):
    """numpy twin of :func:`micro` for Arrow kernels: the same IEEE ops,
    as int64 (a scalar gives a 0-d int64)."""
    return np.floor(np.asarray(x) * MICRO + 0.5).astype(np.int64)


def hex_int(digest: F.Column | str, start: int = 1, length: int = 8) -> F.Column:
    """Hex digits ``start .. start+length-1`` of a hex digest as BIGINT."""
    return F.conv(F.substring(digest, start, length), 16, 10).cast("bigint")


def md5_int(col: F.Column | str, start: int = 1, length: int = 8) -> F.Column:
    """A window of ``md5(col)``'s hex digest as BIGINT (oracle:
    ``('0x' || substring(md5(x), start, length))::BIGINT``)."""
    return hex_int(F.md5(col), start, length)


def fixture_plans(spark: SparkSession):
    """(catalog, {full_table_name: ExtractionPlan}, output_mapping_plan(1))
    for the seeded fixture catalog. Compiling is driver-side dict work
    (no Spark job), so every call compiles afresh."""
    from smfg_datawarehouse_spark.catalog import seed_fixture_catalog
    from smfg_datawarehouse_spark.compiler import compile_extraction_plans
    from smfg_datawarehouse_spark.transform import output_mapping_plan

    cat = seed_fixture_catalog(spark)
    plans = {p.full_table_name: p for p in compile_extraction_plans(cat)}
    return cat, plans, output_mapping_plan(cat, 1)


def _scratch_path(spark: SparkSession, tag: str) -> str:
    """The per-(application, tag) scratch PATH, without touching the
    filesystem — callers that must inspect or tear down the PREVIOUS
    invocation's state before it is cleared (l14 shuts down the booted
    Derby DB living here) use this so the location can never drift from
    what ``_scratch_dir`` clears."""
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        f"sgraft_{tag}_{spark.sparkContext.applicationId}",
    )


def _scratch_dir(spark: SparkSession, tag: str) -> str:
    """Per-(application, tag) scratch directory for the lifecycle queries
    (l01/l02/l03): the PREVIOUS invocation's output is removed before the
    new one starts, so repeated runs (bench repeats, driver passes) can't
    accumulate orphaned lake/audit dirs in /tmp. Consequence, documented:
    re-invoking a lifecycle query invalidates DataFrames still lazily
    reading the prior invocation's files — materialize before re-running.
    """
    import shutil

    path = _scratch_path(spark, tag)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# SQL fragment helpers for the DuckDB oracle side
def _dsum_sql(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS DOUBLE)"


def _davg_sql(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)"


