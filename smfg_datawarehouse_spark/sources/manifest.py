"""Manifest-committed parquet tables — the one commit protocol for lake
tables (Delta/Iceberg's core idea on plain parquet).

The reference's declared DW-load stage upserts on key columns
(``DW_Output_Column_Config.IsKey``, ``1. Metadata Creation.sql:133``); on a
real lake that is Delta ``MERGE INTO``. Plain parquet directories cannot be
updated in place safely, and object stores have no atomic directory
rename, so every lake write goes through an indirection: data files are
IMMUTABLE and never renamed or deleted by a commit; what changes is a tiny
MANIFEST (the list of files that make up the table), and the only
mutation in the whole protocol is an atomic single-object swap of the
``CURRENT`` pointer (``os.replace`` here; a conditional PUT / ETag swap
on S3/GCS). Readers resolve CURRENT → manifest → file list once, then
read a consistent snapshot no matter what commits land meanwhile:

- ``write(df)``  — stage new files under ``data/batch-N/``, write
  ``manifest/v{N}.json`` naming the new files, swap CURRENT. A crash
  before the swap leaves orphan files readers never see.
- ``append(df)`` — same, manifest = previous manifest's files + staged.
- ``merge(updates, keys)`` — the key-based upsert (J3): read the current
  snapshot, ``transform.merge_upsert``, stage the result and commit it
  CONDITIONALLY on the base version, so a second writer working from
  the same base gets :class:`CommitConflict` instead of a lost update.
- ``delete(predicate)`` — merge-on-read DELETE (Delta/Iceberg v2
  deletion vectors): the matching rows' bits, packed 62-bit words keyed
  by (data file name, ``_metadata.row_index``), are staged like any
  batch and committed conditionally on the version the delete read. No
  data file is rewritten.
- ``compact(target_file_bytes)`` — bin-pack compaction: files at or
  above the target stay in the new manifest under their own paths
  (nothing copied); the smaller ones are packed first-fit-decreasing
  into target-sized groups, each rewritten as one file.
- ``compact_sorted(order_col, target_files)`` — clustering-preserving
  compaction: merge only files ADJACENT in ``order_col`` order, so
  per-file key ranges stay disjoint.

  Both stage their rewritten files, then commit conditionally on the
  version they planned from. The replaced files stay on disk until
  ``vacuum``, so an in-flight reader of the old manifest loses nothing.
- ``file_ranges(col)`` — the per-file zone map (min/max of ``col``) of
  a snapshot; ``read_files(files)`` reads the files a pruning decision
  kept.
- ``read(version)`` / ``versions()`` / ``diff(v_from, v_to, keys)`` —
  time travel and CDC over the committed manifests (versions start at
  1; a manifest written without its CURRENT swap is not a version).
- ``vacuum()``   — delete files referenced by NO retained manifest;
  the only destructive step, explicitly decoupled from commits.

The manifest json carries, next to the file list, the per-writer ``txns``
map and the ``deletes`` entries (one per delete: its vector files and
the data files it covers). Every commit copies both forward;
a delete entry keeps only the data files still in the new file list and
goes once none is left. ``_read_files`` is the one file reader, and it
applies the deletes, so every read, diff, merge and compaction sees only
surviving rows.

Scale: manifests are file lists (KBs per thousand files — at true table
scale this becomes a manifest tree like Iceberg's, same protocol);
commits are O(1) driver-side metadata; data reads/writes stay fully
distributed. Reference intent: the DW load stage's transactional table
(``1. Metadata Creation.sql:133,146``), re-expressed as the commit
protocol modern lakehouse formats actually use.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_MANIFEST_RE = re.compile(r"^v(\d+)\.json$")

WORD_BITS = 62  # deletion-vector word width: 1 << 63 overflows BIGINT (see q95)
_VECTOR_SCHEMA = "file STRING, word BIGINT, bits BIGINT"
#: a row's vector word and its bit in that word, from its ``row_index``
_WORD = f"_dv_row DIV {WORD_BITS}"
_BIT = f"shiftleft(CAST(1 AS BIGINT), CAST(_dv_row % {WORD_BITS} AS INT))"


def _swap_pointer(path: str, doc: dict) -> None:
    """Atomically replace the pointer file ``path`` with ``doc`` as JSON:
    write a sibling temp file, then ``os.replace`` it over ``path``.
    Readers see the old pointer or the new one, never a torn write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    os.replace(tmp, path)


def nullable_copy(schema):
    """Detached, all-nullable copy of a StructType.

    Parquet inference always yields nullable columns (Spark relaxes
    nullability on read), so a schema CACHE that declares what the writer
    handed it can flip read-side nullability vs the prior inference
    behavior — and aliasing the caller's live StructType invites the
    mutation bugs ``StructType.add`` makes easy. Normalizing on store
    keeps declared reads bit-identical to inference. Applied recursively:
    the reader relaxes nested struct/array/map nullability too. Only type
    nodes are rewritten; each field's ``metadata`` passes through as is."""
    from pyspark.sql.types import StructType

    def relax(node):
        if not isinstance(node, dict):
            return node  # a primitive type name
        out = dict(node)
        if out.get("type") == "struct":
            out["fields"] = [
                {**f, "nullable": True, "type": relax(f["type"])} for f in out["fields"]
            ]
        elif out.get("type") == "array":
            out.update(containsNull=True, elementType=relax(out["elementType"]))
        elif out.get("type") == "map":
            out.update(
                valueContainsNull=True,
                keyType=relax(out["keyType"]),
                valueType=relax(out["valueType"]),
            )
        return out

    return StructType.fromJson(relax(schema.jsonValue()))


def plan_first_fit_bins(
    item_sizes: list[int], target: int
) -> tuple[list[list[int]], list[int]]:
    """Plan a MINOR compaction over item indices ``0..n-1``: items of at
    least ``target`` bytes are CARRIED (returned second, ascending); the
    rest are packed first-fit-decreasing (largest first, ties by index)
    into bins whose byte total stays within ``target``. Planning is over
    sizes only, so the cost of the pass scales with the small-file
    backlog, not the table. Pure logic, property-tested in
    ``tests/test_properties.py``; :meth:`ManifestTable.compact` rewrites
    each bin as one file."""
    carried = [i for i, s in enumerate(item_sizes) if s >= target]
    small = sorted(
        (i for i, s in enumerate(item_sizes) if s < target),
        key=lambda i: (-item_sizes[i], i),
    )
    bins: list[list[int]] = []
    free: list[int] = []
    for i in small:
        for b, room in enumerate(free):
            if item_sizes[i] <= room:
                bins[b].append(i)
                free[b] -= item_sizes[i]
                break
        else:
            bins.append([i])
            free.append(target - item_sizes[i])
    return bins, carried


def plan_contiguous_runs(item_sizes: list[int], target_groups: int) -> list[list[int]]:
    """Split item indices ``0..n-1`` into exactly ``min(target_groups, n)``
    NON-EMPTY CONTIGUOUS runs with size-balanced byte totals. The budget
    is rebalanced as each run closes (``remaining_bytes /
    remaining_runs``), so one oversized item cannot starve later runs —
    a fixed ``total/target`` budget ended below target on uneven sizes
    (the l34 sf0.1 failure). Pure planning logic, property-tested in
    ``tests/test_properties.py``; :meth:`ManifestTable.compact_sorted`
    maps the runs back onto its key-ordered file list."""
    n = len(item_sizes)
    if n == 0:
        return []
    n_groups = min(max(1, target_groups), n)
    runs: list[list[int]] = []
    remaining_bytes = sum(item_sizes)
    i = 0
    for gi in range(n_groups):
        left = n_groups - gi  # runs still to fill, this one included
        budget = remaining_bytes / left
        run = [i]
        acc = item_sizes[i]
        i += 1
        # absorb consecutive items while under this run's fair share,
        # always leaving >= 1 item per remaining run; the last run
        # takes everything left
        while i < n and (
            gi == n_groups - 1
            or ((n - i) > (left - 1) and acc + item_sizes[i] <= budget)
        ):
            run.append(i)
            acc += item_sizes[i]
            i += 1
        remaining_bytes -= acc
        runs.append(run)
    return runs


class CommitConflict(RuntimeError):
    """Another writer moved CURRENT since this commit's base snapshot."""


class ManifestTable:
    """Parquet table with manifest commits and snapshot-isolated reads."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(os.path.join(path, "manifest"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        # Schema cache (r9 optimization — the Iceberg "schema lives in
        # table metadata" posture): every _stage records the staged
        # DataFrame's schema; snapshot reads then declare it instead of
        # re-running parquet footer inference per read (~50-200 ms of
        # driver work per call, several reads per lifecycle cert). If
        # two stages ever disagree (schema evolution), the cache
        # DISABLES itself and reads fall back to inference — behavior
        # identical to before. The cache is metadata only: every read
        # still scans the data files.
        self._schema = None
        self._schema_mixed = False

    # -- commit protocol ---------------------------------------------------

    def _current_path(self) -> str:
        return os.path.join(self.path, "manifest", "CURRENT")

    def current_version(self) -> int | None:
        try:
            with open(self._current_path()) as fh:
                return int(json.load(fh)["version"])
        except (OSError, ValueError, KeyError):
            return None

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, "manifest", f"v{version}.json")

    def versions(self) -> list[int]:
        """Committed versions, ascending: the manifests up to CURRENT that
        vacuum kept. A manifest written without its CURRENT swap is not a
        version. Driver-side directory listing, no data read."""
        cur = self.current_version()
        if cur is None:
            return []
        return [v for v in self._manifest_versions() if v <= cur]

    def _manifest_versions(self) -> list[int]:
        """Every manifest file on disk, committed or not, ascending."""
        found = (_MANIFEST_RE.match(n) for n in os.listdir(os.path.join(self.path, "manifest")))
        return sorted(int(m.group(1)) for m in found if m)

    def _load(self, version: int) -> dict:
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def _doc(self, version: int | None = None) -> dict:
        """Manifest json of a committed snapshot (CURRENT when ``version``
        is None; ``{"files": []}`` before the first commit). A version
        past CURRENT or removed by vacuum raises FileNotFoundError."""
        cur = self.current_version()
        v = cur if version is None else version
        if v is None:
            return {"files": []}
        if cur is None or v > cur:
            raise FileNotFoundError(f"version {v} is not committed in {self.path}")
        return self._load(v)

    def manifest(self, version: int | None = None) -> list[str]:
        """File list (relative paths) of a committed snapshot."""
        return self._doc(version)["files"]

    def _commit(
        self,
        files: list[str],
        expected_version: int | None = None,
        txn: tuple[str, int] | None = None,
        deletes: list[dict] | None = None,
    ) -> int:
        """Write manifest v{N+1} then atomically swap CURRENT to it.

        The swap is the ONLY mutation of shared state: ``os.replace`` is
        atomic on POSIX (object stores: conditional PUT). Everything
        before it is invisible to readers; a crash at any point leaves
        the previous snapshot intact and readable.

        ``expected_version`` makes the commit CONDITIONAL (optimistic
        concurrency): raise :class:`CommitConflict` instead of publishing
        when CURRENT no longer points at the version this commit's file
        list was derived from. On an object store the check-and-swap is
        one conditional PUT (If-Match on CURRENT's ETag); the local twin
        checks then replaces, which is race-free for the single-driver
        certification and documents the contract.

        ``txn=(writer_id, batch_id)`` rides INSIDE the manifest json as a
        cumulative per-writer high-water map, so an idempotent-append
        marker and the file list it guards are published by the SAME
        atomic swap — there is no window where the files are committed
        but the transaction marker is not (Delta's txnAppId/txnVersion
        shape). The map is copied forward on every commit, so it
        survives :meth:`vacuum` dropping old manifests.

        ``deletes`` replaces the snapshot's delete entries (:meth:`delete`,
        :func:`shallow_clone`); when None the current ones are copied
        forward. Either way each entry keeps only the data files still in
        ``files``, and an entry left with none is dropped, so a rewrite
        drops the vector entries of the files it replaced. The prior
        manifest is read once, for both maps."""
        cur = self.current_version()
        if expected_version is not None and (cur or 0) != expected_version:
            raise CommitConflict(
                f"commit based on v{expected_version}, CURRENT is v{cur or 0}"
            )
        prior = self._load(cur) if cur else {}
        txns = {k: int(x) for k, x in prior.get("txns", {}).items()}
        if txn is not None:
            txns[txn[0]] = int(txn[1])
        live = set(files)
        kept = []
        entries = prior.get("deletes", []) if deletes is None else deletes
        for e in entries:
            covered = [f for f in e["files"] if f in live]
            if covered:
                kept.append({"vector": e["vector"], "files": covered})
        v = (cur or 0) + 1
        doc = {"version": v, "files": sorted(files), "txns": txns}
        if kept:
            doc["deletes"] = kept
        with open(self._manifest_path(v), "w") as fh:
            json.dump(doc, fh)
        _swap_pointer(self._current_path(), {"version": v})
        return v

    def txns(self) -> dict[str, int]:
        """Per-writer committed-batch high-water map of the current
        snapshot (the idempotence state :func:`append_once` checks). Atomic
        with the file list: both live in the same manifest json."""
        return {k: int(x) for k, x in self._doc().get("txns", {}).items()}

    def _next_batch(self) -> int:
        """Allocate a batch number past EVERY existing data dir — version
        counters don't work here: a WAP-staged (uncommitted) batch or a
        concurrent writer's staging dir would collide with a
        version-derived number and be silently overwritten."""
        data_root = os.path.join(self.path, "data")
        existing = [
            int(d.split("-", 1)[1])
            for d in os.listdir(data_root)
            if d.startswith("batch-") and d.split("-", 1)[1].isdigit()
        ]
        return max(existing, default=0) + 1

    def _write_batch(self, df: DataFrame, batch: int) -> list[str]:
        """Write df's files under data/batch-{batch}/ (immutable once
        committed); return their table-relative paths."""
        rel = os.path.join("data", f"batch-{batch}")
        out = os.path.join(self.path, rel)
        df.write.mode("overwrite").parquet(out)
        return [
            os.path.join(rel, f)
            for f in os.listdir(out)
            if f.endswith(".parquet")
        ]

    def _stage(self, df: DataFrame, batch: int) -> list[str]:
        """Write a batch of table rows and record its schema in the cache
        (a deletion vector is written by :meth:`_write_batch` alone, so
        its schema never reaches the cache)."""
        files = self._write_batch(df, batch)
        staged = nullable_copy(df.schema)
        if self._schema is None and not self._schema_mixed:
            self._schema = staged
        elif self._schema is not None and staged != self._schema:
            self._schema, self._schema_mixed = None, True
        return files

    def _read_files(
        self, files: list[str], deletes: list[dict] | None = None, row_ids: bool = False
    ) -> DataFrame:
        """The one reader of the table's files: read exactly ``files``,
        declaring the cached schema when every staged batch agreed on one
        (skips per-read footer inference), then drop the rows ``deletes``
        marks.

        Deleted rows go through ONE broadcast left-anti join against the
        vector words, on (file name, ``row_index DIV 62``) plus a test of
        the row's bit. Spark part-file names carry their write job's
        UUID, so a name is unique within a table and stays the same when
        :func:`shallow_clone` rebases the path. Without deletes the plan
        is a plain file scan. ``row_ids`` keeps the row identity as
        ``_dv_file`` / ``_dv_row`` (:meth:`delete`, :meth:`file_ranges`)."""
        paths = [os.path.join(self.path, f) for f in files]
        if self._schema is None:
            df = self.spark.read.parquet(*paths)
        else:
            df = self.spark.read.schema(self._schema).parquet(*paths)
        if not (deletes or row_ids):
            return df
        df = df.select(
            "*",
            F.col("_metadata.file_name").alias("_dv_file"),
            F.col("_metadata.row_index").alias("_dv_row"),
        )
        if deletes:
            vec = F.broadcast(
                self.spark.read.schema(_VECTOR_SCHEMA).parquet(
                    *[os.path.join(self.path, f) for e in deletes for f in e["vector"]]
                )
            )
            hit = (
                (F.col("_dv_file") == vec["file"])
                & (F.expr(_WORD) == vec["word"])
                & (vec["bits"].bitwiseAND(F.expr(_BIT)) != 0)
            )
            df = df.join(vec, hit, "left_anti")
        return df if row_ids else df.drop("_dv_file", "_dv_row")

    # -- table operations --------------------------------------------------

    def write(self, df: DataFrame) -> int:
        """Replace the table content (manifest = the staged files only)."""
        return self._commit(self._stage(df, self._next_batch()))

    def append(self, df: DataFrame, txn: tuple[str, int] | None = None) -> int:
        """Append (manifest = previous files + staged files). ``txn``
        publishes an idempotent-append marker in the same atomic swap."""
        prior = self.manifest()
        return self._commit(
            prior + self._stage(df, self._next_batch()), txn=txn
        )

    def append_optimistic(self, df: DataFrame) -> tuple[int, int]:
        """Append under OPTIMISTIC CONCURRENCY CONTROL — the Delta/Iceberg
        multi-writer protocol: stage files once (immutable, invisible),
        then try to commit ``base-manifest + staged`` conditionally on
        CURRENT still being the base version. On :class:`CommitConflict`
        (another writer won the race) re-resolve the NEW current manifest
        and retry with the same staged files — appends commute on the
        file level, so a rebase is just re-reading the prior file list;
        no data is rewritten; a conflict after three retries raises. Returns
        ``(version, n_conflicts)``.

        This is why manifest tables scale to many concurrent writers:
        the data plane (staging) is fully parallel and conflict-free;
        only the O(1) pointer swap serializes."""
        staged = self.stage(df)
        for attempt in range(4):
            base = self.current_version() or 0
            prior = self.manifest(base) if base else []
            try:
                return self._commit(
                    prior + staged, expected_version=base
                ), attempt
            except CommitConflict:
                if attempt == 3:
                    raise
        raise AssertionError("unreachable")

    def merge(
        self,
        updates: DataFrame,
        keys: list[str],
        precedence: list[str] | None = None,
    ) -> int:
        """Key-based MERGE (J3): updates win on key match, unmatched target
        rows survive, new keys insert — committed as one new version.

        ``precedence``: optional newer-wins columns (see
        :func:`smfg_datawarehouse_spark.transform.merge_upsert`) — the
        conditional-merge form that makes out-of-order CDC apply safe:
        a stale update can never clobber a newer row already merged.

        The commit is conditional on the version the merge read: a writer
        whose base moved meanwhile gets :class:`CommitConflict` and its
        staged files stay invisible (vacuum reclaims them)."""
        from smfg_datawarehouse_spark.transform import merge_upsert

        cur = self.current_version()
        merged = updates if cur is None else merge_upsert(self.read(cur), updates, keys, precedence)
        return self._commit(self._stage(merged, self._next_batch()), expected_version=cur or 0)

    def delete(self, predicate) -> int:
        """Merge-on-read DELETE of the surviving rows matching
        ``predicate`` (SQL string or Column); returns how many rows it
        newly deleted. No data file is rewritten.

        The matching rows' bits are rolled up executor-side into packed
        62-bit words keyed by (data file name, ``row_index DIV 62``)
        (q95's ``bit_or(1 << bit)`` idiom, map-side combine), staged like
        any batch and committed CONDITIONALLY on the version the delete
        read: a concurrent writer gets :class:`CommitConflict`. The write
        job itself observes the data files the vector covers and its set
        bits (the newly deleted count), so the table is scanned once. The
        new manifest entry names the vector's files and the data files it
        covers. A delete matching no surviving row commits nothing (its
        empty batch is left for :meth:`vacuum`), so a replayed delete is
        a no-op returning 0. Cost ∝ deleted rows / 62 longs plus one
        manifest swap."""
        base = self.current_version()
        doc = self._doc(base)
        files, prior = doc["files"], doc.get("deletes", [])
        if not files:
            raise FileNotFoundError(f"no committed snapshot in {self.path}")
        names = {os.path.basename(f): f for f in files}
        seen = Observation()
        vector = (
            self._read_files(files, prior, row_ids=True)
            .where(predicate)
            .groupBy(F.col("_dv_file").alias("file"), F.expr(_WORD).alias("word"))
            .agg(F.bit_or(F.expr(_BIT)).alias("bits"))
            .observe(
                seen,
                F.collect_set("file").alias("files"),
                F.sum(F.bit_count("bits")).alias("n"),
            )
        )
        written = self._write_batch(vector, self._next_batch())
        got = seen.get
        if not got["n"]:
            return 0
        entry = {"vector": written, "files": sorted(names[n] for n in got["files"])}
        self._commit(files, expected_version=base, deletes=prior + [entry])
        return int(got["n"])

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read: resolve a manifest once, read exactly its
        surviving rows. Immune to concurrent commits (their files are
        disjoint) and to compaction (old files persist until vacuum)."""
        doc = self._doc(version)
        if not doc["files"]:
            raise FileNotFoundError(f"no committed snapshot in {self.path}")
        return self._read_files(doc["files"], doc.get("deletes"))

    def diff(self, v_from: int, v_to: int, keys: list[str]) -> DataFrame:
        """CDC snapshot diff: the row-level change set that turns snapshot
        ``v_from`` into ``v_to``, keyed on ``keys``.

        Returns one row per key present in either snapshot, classified as
        ``insert`` (key only in ``v_to``), ``delete`` (only in ``v_from``),
        ``update`` (both, any non-key column differs — null-safe), or
        ``unchanged``; non-key columns come back twice as ``old_<col>`` /
        ``new_<col>``. This is the changeset a downstream consumer replays
        (Delta CDF / Iceberg changelog equivalent), derived here from two
        plain snapshots with ONE full outer join keyed on the merge keys —
        a single shuffle each side, no log required, so it works on any
        pair of committed versions regardless of how many merges happened
        between them."""
        old = self.read(v_from)
        new = self.read(v_to)
        vals = [c for c in old.columns if c not in keys]
        if set(old.columns) != set(new.columns):
            raise ValueError(
                f"schema mismatch between v{v_from} and v{v_to}: "
                f"{sorted(old.columns)} vs {sorted(new.columns)}"
            )
        o = old.select(
            *keys, *[F.col(c).alias(f"old_{c}") for c in vals]
        ).withColumn("_in_old", F.lit(True))
        n = new.select(
            *keys, *[F.col(c).alias(f"new_{c}") for c in vals]
        ).withColumn("_in_new", F.lit(True))
        # null-safe key equality: a row whose merge key is NULL must match
        # itself across versions (plain `=` would misclassify it as a
        # simultaneous delete+insert). Catalyst extracts `<=>` as an
        # equi-join key, so this still plans as a hash/sort-merge join.
        cond = None
        for k in keys:
            c = o[k].eqNullSafe(n[k])
            cond = c if cond is None else (cond & c)
        joined = o.join(n, cond, "full_outer").select(
            *[F.coalesce(o[k], n[k]).alias(k) for k in keys],
            *[f"old_{c}" for c in vals],
            *[f"new_{c}" for c in vals],
            "_in_old",
            "_in_new",
        )
        changed = F.lit(False)
        for c in vals:
            changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        return joined.withColumn(
            "change_type",
            F.when(F.col("_in_old").isNull(), F.lit("insert"))
            .when(F.col("_in_new").isNull(), F.lit("delete"))
            .when(changed, F.lit("update"))
            .otherwise(F.lit("unchanged")),
        ).drop("_in_old", "_in_new")

    def _rewrite(
        self, base: int | None, carried: list[str], groups: list[DataFrame]
    ) -> int | None:
        """The commit step every compaction shares: stage each group as
        one batch, then commit ``carried`` + the staged files conditionally
        on ``base``, the version the plan was read from (a commit that
        landed meanwhile raises :class:`CommitConflict` instead of being
        dropped from the table). Nothing to rewrite commits nothing and
        returns ``base``."""
        if not groups:
            return base
        staged = [f for g in groups for f in self._stage(g, self._next_batch())]
        return self._commit(carried + staged, expected_version=base)

    def compact(self, target_file_bytes: int = 256 * 1024 * 1024) -> int | None:
        """MINOR compaction (:func:`plan_first_fit_bins`): files of at least
        ``target_file_bytes`` are carried into the new manifest under their
        own paths — zero bytes copied — and each first-fit-decreasing bin
        of smaller files is rewritten as ONE file by one job, so a table
        under the target becomes one file. Cost scales with the small-file
        backlog, not the table. Replaced files remain on disk for in-flight
        readers; :meth:`vacuum` reclaims them. Returns the committed
        version."""
        doc = self._doc()
        files = doc["files"]
        sizes = [os.path.getsize(os.path.join(self.path, f)) for f in files]
        bins, carried = plan_first_fit_bins(sizes, target_file_bytes)
        return self._rewrite(
            doc.get("version"),
            [files[i] for i in carried],
            [
                self._read_files(sorted(files[i] for i in b), doc.get("deletes")).coalesce(1)
                for b in bins
            ],
        )

    def compact_sorted(self, order_col: str, target_files: int) -> int | None:
        """CLUSTERING-PRESERVING compaction: merge only files ADJACENT in
        ``order_col`` order into ``min(target_files, n_files)`` files, so
        the compacted layout keeps disjoint per-file key ranges and every
        zone map / row-group statistic stays as selective as before. A
        size-only compaction (:meth:`compact`) would interleave ranges and
        silently destroy the file skipping a sorted table was built for.

        Plan over metadata: the per-file min of ``order_col``
        (:meth:`file_ranges`) orders the files; :func:`plan_contiguous_runs`
        groups consecutive files with a rebalanced byte budget; each group
        is rewritten with ``sortWithinPartitions`` so intra-file order
        survives too. Files with no surviving row carry no key range; they
        are folded into the first group (no rows, no layout effect) rather
        than left in the manifest. Returns the committed version (an empty
        table commits nothing)."""
        doc = self._doc()
        base, files = doc.get("version"), doc["files"]
        if not files:
            return base
        # file_ranges reads CURRENT: had it moved past base, the commit
        # on base raises CommitConflict
        ordered = [
            z["file"]
            for z in sorted(self.file_ranges(order_col), key=lambda z: (z["lo"], z["file"]))
        ]
        ranged = set(ordered)
        empties = [f for f in files if f not in ranged]
        if not ordered:  # every file is zero-row: one merged empty file
            ordered, empties = empties, []
        sizes = [os.path.getsize(os.path.join(self.path, f)) for f in ordered]
        groups = [
            [ordered[j] for j in run]
            for run in plan_contiguous_runs(sizes, target_files)
        ]
        groups[0].extend(empties)
        return self._rewrite(
            base,
            [],
            [
                self._read_files(g, doc.get("deletes"))
                .coalesce(1)
                .sortWithinPartitions(order_col)
                for g in groups
            ],
        )

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Delete data and deletion-vector files referenced by none of the
        last ``keep_last`` committed manifests (and drop every other
        manifest, including one written without its CURRENT swap).
        Returns removed rel-paths. The only destructive operation; runs
        strictly AFTER commits, so a reader that resolved a retained
        manifest never loses a file."""
        committed = self.versions()
        if not committed:
            return []
        keep_versions = committed[-keep_last:] if keep_last > 0 else []
        referenced: set[str] = set()
        for v in keep_versions:
            doc = self._load(v)
            referenced.update(doc["files"])
            referenced.update(f for e in doc.get("deletes", []) for f in e["vector"])
        removed = []
        data_root = os.path.join(self.path, "data")
        for sub in sorted(os.listdir(data_root)):
            subdir = os.path.join(data_root, sub)
            for f in sorted(os.listdir(subdir)):
                rel = os.path.join("data", sub, f)
                if f.endswith(".parquet") and rel not in referenced:
                    os.remove(os.path.join(self.path, rel))
                    removed.append(rel)
            if not any(fn.endswith(".parquet") for fn in os.listdir(subdir)):
                # only marker/_SUCCESS debris left — drop the batch dir
                shutil.rmtree(subdir)
        for v in self._manifest_versions():
            if v not in keep_versions:
                os.remove(self._manifest_path(v))
        return removed

    # -- write-audit-publish (WAP) ------------------------------------------

    def stage(self, df: DataFrame) -> list[str]:
        """WAP step 1: write a batch's files WITHOUT publishing. The files
        exist on disk but no manifest references them — invisible to every
        reader until :meth:`publish_append`. Batch numbers are allocated
        past any existing dir, so staged-but-never-published batches can't
        collide with later commits."""
        return self._stage(df, self._next_batch())

    def read_files(self, files: list[str]) -> DataFrame:
        """Read EXACTLY ``files`` — a staged batch (WAP step 2, the audit
        input) or the files a pruning decision kept out of a snapshot
        (:meth:`file_ranges`) — applying the current snapshot's deletes.
        An empty list raises ValueError: a pruned read that kept no file
        is a pruning decision to check, not a table to scan."""
        if not files:
            raise ValueError(f"no file to read in {self.path}")
        return self._read_files(files, self._doc().get("deletes"))

    def file_ranges(self, col: str) -> list[dict]:
        """Per-file ZONE MAP of the current snapshot: ``{"file", "lo",
        "hi"}`` with the min and max of ``col`` over each data file's
        surviving rows, in manifest order, ``file`` manifest-relative (so
        it goes straight back into :meth:`read_files`, which applies the
        same snapshot's deletes). One column-pruned scan grouped on
        the file; one row per file is collected. A file with no
        surviving row has no range and is absent. At true scale the same
        pairs come from the parquet footers the write produced; the scan
        keeps the statistic exact under deletes."""
        doc = self._doc()
        rows = (
            self._read_files(doc["files"], doc.get("deletes"), row_ids=True)
            .groupBy("_dv_file")
            .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
            .collect()
        )
        got = {r["_dv_file"]: r for r in rows}
        return [
            {"file": f, "lo": got[n]["lo"], "hi": got[n]["hi"]}
            for f in doc["files"]
            if (n := os.path.basename(f)) in got
        ]

    def publish_append(self, files: list[str]) -> int:
        """WAP step 3: append the audited staged files to the table in one
        atomic manifest swap. A batch that never reaches this call costs
        nothing to roll back — vacuum reclaims its files eventually."""
        return self._commit(self.manifest() + files)

    def publish_replace(self, files: list[str]) -> int:
        """Commit a manifest of EXACTLY ``files`` (retention/TTL shape:
        dropping a file group is a pointer move, not a delete — expired
        files stay on disk for in-flight readers until vacuum)."""
        return self._commit(list(files))


class MultiTableCatalog:
    """ATOMIC MULTI-TABLE snapshots — the capability single-table commit
    protocols (Delta, classic Iceberg) lack: a catalog-level pointer maps
    every table name to a pinned manifest version, and a transaction
    touching N tables becomes N per-table commits (invisible to catalog
    readers) followed by ONE atomic swap of the catalog pointer. A crash
    after some table commits but before the catalog swap leaves readers
    on the previous CONSISTENT version set — table-level pointers may run
    ahead, but the catalog never exposes a torn multi-table state. This
    is the fact/detail-consistency guarantee a warehouse load of
    orders+lineitem needs (reference: the multi-table curated load of
    SMFG_DW_ETL_DAG's table list, made transactional)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(os.path.join(path, "catalog"), exist_ok=True)
        self._tables: dict[str, ManifestTable] = {}

    def table(self, name: str) -> ManifestTable:
        if name not in self._tables:
            self._tables[name] = ManifestTable(
                self.spark, os.path.join(self.path, "tables", name)
            )
        return self._tables[name]

    def _current_path(self) -> str:
        return os.path.join(self.path, "catalog", "CURRENT")

    def current(self) -> dict[str, int] | None:
        try:
            with open(self._current_path()) as fh:
                doc = json.load(fh)
            return {k: int(v) for k, v in doc["tables"].items()}
        except (OSError, ValueError, KeyError):
            return None

    def transaction(self, writes: dict[str, DataFrame]) -> dict[str, int]:
        """Append all ``writes`` atomically AT THE CATALOG LEVEL: each
        table stages+publishes its own version first (catalog readers
        keep resolving the old pinned set), then one ``os.replace`` swaps
        the catalog pointer to the new version map. Tables absent from
        ``writes`` keep their pinned version."""
        pinned = dict(self.current() or {})
        # Per-table commits are independent until the swap: run them
        # concurrently (FAIR scheduler overlaps the write jobs — the same
        # posture a cluster load uses). The catalog pointer moves only
        # after EVERY table committed, so a failure in any write leaves
        # readers on the old pinned set with at worst a run-ahead
        # table-level pointer — exactly the torn-write crash window the
        # protocol tolerates by design.
        from concurrent.futures import ThreadPoolExecutor

        def _commit(item):
            name, df = item
            mt = self.table(name)
            return name, mt.append(df)

        with ThreadPoolExecutor(max_workers=max(1, len(writes))) as pool:
            pinned.update(dict(pool.map(_commit, writes.items())))
        _swap_pointer(self._current_path(), {"tables": pinned})
        return pinned

    def read(self, name: str) -> DataFrame:
        """Snapshot read at the CATALOG-pinned version (never the table's
        own, possibly-further-ahead pointer)."""
        pinned = self.current()
        if pinned is None or name not in pinned:
            raise FileNotFoundError(f"{name} not in any committed catalog snapshot")
        return self.table(name).read(version=pinned[name])


def shallow_clone(source: ManifestTable, dest_path: str) -> ManifestTable:
    """ZERO-COPY table clone (Delta SHALLOW CLONE shape): the clone's first
    manifest references the SOURCE's committed data files — and its
    deletion-vector files — by relative path; no bytes move. The clone
    diverges on its own writes (copy-on-write at commit granularity: new
    files land under the clone's data dir; the source never sees them).
    The clone's vacuum walks only its OWN data dir, so it can never
    reclaim source bytes; dropping a clone is rmdir. At 100 TB a dev/test
    clone is O(manifest) — this is why manifest-pointer tables make
    experimentation free."""
    dest = ManifestTable(source.spark, dest_path)
    doc = source._doc()
    if not doc["files"]:
        raise FileNotFoundError(f"no committed snapshot to clone in {source.path}")

    def rebase(f: str) -> str:
        return os.path.relpath(os.path.join(source.path, f), dest.path)

    dest._commit(
        [rebase(f) for f in doc["files"]],
        deletes=[
            {
                "vector": [rebase(f) for f in e["vector"]],
                "files": [rebase(f) for f in e["files"]],
            }
            for e in doc.get("deletes", [])
        ],
    )
    return dest


class ManifestTree:
    """TWO-LEVEL manifest (Iceberg's manifest-list shape) — how commit
    metadata itself scales past the flat file list :class:`ManifestTable`
    uses: each committed batch writes a BRANCH manifest (its file list +
    min/max stats of a chosen prune column), and the root manifest is a
    list of branch manifests with their stats. A reader with a predicate
    on the prune column loads the O(1) root, PRUNES whole branches whose
    [min, max] cannot match, and only then opens the surviving branch
    manifests — file listing cost scales with matching data, not table
    history. At 100 TB with daily commits, a one-day probe opens one
    branch manifest instead of 10⁵ file entries.

    Commit protocol is unchanged from :class:`ManifestTable`: branch
    manifests and data files are immutable once written; the only shared
    mutation is the atomic CURRENT swap of the root pointer.
    """

    def __init__(self, spark: SparkSession, path: str, prune_col: str):
        self.spark = spark
        self.path = path
        self.prune_col = prune_col
        os.makedirs(os.path.join(path, "manifest"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        self._table = ManifestTable(spark, path)  # reuse staging + swap

    def _root_path(self) -> str:
        return os.path.join(self.path, "manifest", "ROOT")

    def _root(self) -> list[dict]:
        try:
            with open(self._root_path()) as fh:
                return json.load(fh)["branches"]
        except (OSError, ValueError, KeyError):
            return []

    @staticmethod
    def _enc(v):
        """Order-preserving JSON encoding of a prune-column value:
        numbers and strings stay NATIVE (numeric stats compared
        numerically — ``str()`` storage made '9' > '11' and pruned a
        matching branch), date/datetime become ISO-8601 strings
        (zero-padded, so lexicographic == chronological). Probe bounds
        go through the same encoder, so stored and probed values always
        compare in the column's own order."""
        import datetime as _dt
        import decimal as _dec

        if isinstance(v, bool) or v is None:
            return v
        if isinstance(v, (int, float)):
            return v
        if isinstance(v, _dec.Decimal):
            return float(v)
        if isinstance(v, (_dt.datetime, _dt.date)):
            return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
        return str(v)

    def append(self, df: DataFrame) -> dict:
        """Stage the batch, write its branch manifest (files + prune-col
        min/max computed from the STAGED data — one footer-sized agg),
        atomically swap a new root listing all branches."""
        from pyspark.sql import functions as F

        files = self._table.stage(df)
        staged = self._table.read_files(files)
        lo, hi = staged.agg(
            F.min(self.prune_col), F.max(self.prune_col)
        ).first()
        branch_id = len(self._root()) + 1
        branch = {
            "branch": f"b{branch_id}.json",
            "min": self._enc(lo),
            "max": self._enc(hi),
            "n_files": len(files),
        }
        with open(os.path.join(self.path, "manifest", branch["branch"]), "w") as fh:
            json.dump({"files": sorted(files)}, fh)
        _swap_pointer(self._root_path(), {"branches": self._root() + [branch]})
        return branch

    def read_pruned(self, lo, hi) -> tuple[DataFrame, int, int]:
        """Snapshot read of rows whose prune column may lie in [lo, hi]:
        branch-level stats pruning first, file reads only from surviving
        branches. Returns (df, branches_total, branches_opened) so a
        certification can RAISE when pruning was vacuous. Branch stats
        are conservative (pruning never drops a matching row): probe
        bounds are passed through the SAME order-preserving encoder the
        stats were stored with, so numeric columns prune numerically and
        temporal columns prune on ISO order. The exact predicate is
        re-applied by the caller."""
        elo, ehi = self._enc(lo), self._enc(hi)
        branches = self._root()
        surviving = [b for b in branches if b["min"] <= ehi and b["max"] >= elo]
        files: list[str] = []
        for b in surviving:
            with open(os.path.join(self.path, "manifest", b["branch"])) as fh:
                files.extend(json.load(fh)["files"])
        if not files:
            raise FileNotFoundError("no branch overlaps the probe range")
        return self._table.read_files(files), len(branches), len(surviving)


def append_once(
    table: ManifestTable, df: DataFrame, writer_id: str, batch_id: int
) -> int | None:
    """IDEMPOTENT append — the exactly-once sink contract a streaming
    ``foreachBatch`` needs on top of at-least-once delivery (Delta's
    txnAppId/txnVersion idea): each manifest carries a per-writer
    high-water map of committed batch ids (``ManifestTable.txns``), and
    the marker for this batch is written INSIDE the same manifest json
    the commit swaps in — one atomic CURRENT swap publishes the files
    and the idempotence marker together, so there is NO window in which
    the files are committed but a redelivery of the same batch id would
    re-append. A replayed batch (same writer, batch id ≤ the snapshot's
    marker) is a NO-OP returning None; a crash before the swap leaves
    only invisible staged files the next attempt re-stages."""
    if batch_id <= table.txns().get(writer_id, -1):
        return None
    return table.append(df, txn=(writer_id, batch_id))
