"""Append-only audit ledger — the engine's process/run bookkeeping.

Re-expresses the reference's mutable MySQL audit tables
(``airflow_utility/process_logger.py:84-196``: DW_Process_Master INSERT +
UPDATE, DW_Process_Stage_Detail INSERT + UPDATE) as an **event-sourced
parquet ledger**: every L1-L6 operation appends an immutable event row;
current state is a latest-wins view (``row_number() over (partition by id
order by seq desc) = 1``). Appends never rewrite files, so the ledger needs
no transactional store and scales to any volume of runs.

The ledger is control-plane metadata: events are written and id seeds read
with pyarrow on the driver, and the run rollup works from the ledger's
in-memory stage state, so bookkeeping costs no Spark job. Spark reads the
ledger only for the ``process_master()``/``stage_detail()`` views.

Id allocation: the reference uses MySQL AUTO_INCREMENT + LAST_INSERT_ID
(``process_logger.py:99,130``). Here ids are driver-allocated under the
reference's own single-writer assumption (one run at a time per warehouse),
seeded from the ledger's current max at startup.
"""

from __future__ import annotations

import os
import threading
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

PROCESS_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("ProcessID", T.LongType(), False),
        T.StructField("Seq", T.LongType(), False),
        T.StructField("ProcessDate", T.DateType(), True),
        T.StructField("ProcessType", T.StringType(), True),  # EOD|HOURLY
        T.StructField("ProcessStartAt", T.TimestampType(), True),
        T.StructField("ProcessEndAt", T.TimestampType(), True),
        T.StructField("CurrentStage", T.StringType(), True),
        T.StructField("Status", T.StringType(), True),  # RUNNING|SUCCESS|FAILED|PARTIAL
        T.StructField("Remarks", T.StringType(), True),
        T.StructField("ErrorMessage", T.StringType(), True),
        T.StructField("CreatedBy", T.StringType(), True),
        T.StructField("EventAt", T.TimestampType(), False),
    ]
)

STAGE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("StageDetailID", T.LongType(), False),
        T.StructField("Seq", T.LongType(), False),
        T.StructField("ProcessID", T.LongType(), False),
        T.StructField("StageName", T.StringType(), True),
        T.StructField("TableID", T.LongType(), True),
        T.StructField("TableName", T.StringType(), True),
        T.StructField("StartTime", T.TimestampType(), True),
        T.StructField("EndTime", T.TimestampType(), True),
        T.StructField("RowCount", T.LongType(), True),
        T.StructField("Status", T.StringType(), True),  # PROCESSING|SUCCESS|FAILED
        T.StructField("ErrorMessage", T.StringType(), True),
        T.StructField("OutputPath", T.StringType(), True),
        T.StructField("CreatedBy", T.StringType(), True),
        T.StructField("EventAt", T.TimestampType(), False),
    ]
)


def _now() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)  # session TZ is UTC


_ARROW = {
    T.LongType(): pa.int64(),
    T.StringType(): pa.string(),
    T.DateType(): pa.date32(),
    T.TimestampType(): pa.timestamp("us"),
}


def _arrow_schema(schema: T.StructType) -> pa.Schema:
    return pa.schema([pa.field(f.name, _ARROW[f.dataType]) for f in schema.fields])


def append_event(path: str, schema: T.StructType, row: dict) -> None:
    """Append one event row as its own parquet file, via pyarrow on the
    driver (~ms): a metadata write must not cost a Spark job. Readers use
    an explicit schema, so files from mixed writers stay compatible."""
    table = pa.Table.from_pydict(
        {f.name: [row.get(f.name)] for f in schema.fields},
        schema=_arrow_schema(schema),
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        table,
        os.path.join(path, f"event-{uuid.uuid4().hex}.parquet"),
        compression="snappy",
    )


def read_events(
    path: str, schema: T.StructType, columns: list[str] | None = None
) -> pa.Table | None:
    """Every event in a ledger directory, or None when the directory is
    missing or holds no parquet file. Spark's ``_SUCCESS`` and ``.crc``
    side files are skipped; any other read error raises."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return None
    if not any(n.endswith(".parquet") and not n.startswith(("_", ".")) for n in names):
        return None
    return ds.dataset(path, schema=_arrow_schema(schema), format="parquet").to_table(
        columns=columns
    )


def max_event_value(path: str, schema: T.StructType, col: str) -> int:
    """Largest ``col`` in a ledger directory; 0 for a missing or empty one."""
    events = read_events(path, schema, [col])
    if events is None:
        return 0
    return int(pc.max(events[col]).as_py() or 0)


#: CreatedBy of every row the engine writes unless a call names another.
CREATED_BY = "engine"


def latest_wins(df: DataFrame, id_col: str) -> DataFrame:
    """Current-state view of an event table: one row per id, highest Seq."""
    w = W.partitionBy(id_col).orderBy(F.col("Seq").desc())
    return df.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")


class AuditLedger:
    """L1-L6 operations (SURVEY §2.8) over an event-sourced parquet ledger."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self._lock = threading.Lock()
        self._process_dir = os.path.join(base_dir, "process_master")
        self._stage_dir = os.path.join(base_dir, "stage_detail")
        self._next_process_id = (
            max_event_value(self._process_dir, PROCESS_EVENT_SCHEMA, "ProcessID") + 1
        )
        self._next_stage_id = (
            max_event_value(self._stage_dir, STAGE_EVENT_SCHEMA, "StageDetailID") + 1
        )
        self._seq = 0
        # driver-side cache of open rows so updates can re-emit full state;
        # finalize_run releases a process's stage rows (they are on disk)
        self._process_state: dict[int, dict] = {}
        self._stage_state: dict[int, dict] = {}
        self._process_stages: dict[int, list[int]] = {}

    # -- plumbing ----------------------------------------------------------

    def _next_seq(self) -> int:
        self._seq += 1
        return self._seq

    # -- L1: create_process_master (process_logger.py:84-100) ---------------

    def create_process_master(
        self,
        process_type: str = "EOD",
        current_stage: str = "STAGING_EXTRACT",
        status: str = "RUNNING",
        created_by: str | None = None,
    ) -> int:
        with self._lock:
            pid = self._next_process_id
            self._next_process_id += 1
            now = _now()
            state = dict(
                ProcessID=pid,
                Seq=self._next_seq(),
                ProcessDate=now.date(),
                ProcessType=process_type,
                ProcessStartAt=now,
                CurrentStage=current_stage,
                Status=status,
                CreatedBy=created_by or CREATED_BY,
                EventAt=now,
            )
            self._process_state[pid] = state
            append_event(self._process_dir, PROCESS_EVENT_SCHEMA, state)
            return pid

    # -- L4: update_process_master (process_logger.py:162-196) --------------

    def update_process_master(
        self,
        process_id: int,
        status: str | None = None,
        current_stage: str | None = None,
        remarks: str | None = None,
        error_message: str | None = None,
        process_end_at: datetime | None = None,
    ) -> None:
        with self._lock:
            state = dict(self._process_state.get(process_id, {"ProcessID": process_id}))
            for k, v in [
                ("Status", status),
                ("CurrentStage", current_stage),
                ("Remarks", remarks),
                ("ErrorMessage", error_message),
                ("ProcessEndAt", process_end_at),
            ]:
                if v is not None:
                    state[k] = v
            state["Seq"] = self._next_seq()
            state["EventAt"] = _now()
            self._process_state[process_id] = state
            append_event(self._process_dir, PROCESS_EVENT_SCHEMA, state)

    # -- L2: log_process_stage_detail (process_logger.py:107-132) -----------

    def log_stage_detail(
        self,
        process_id: int,
        stage_name: str,
        table_id: int | None = None,
        table_name: str | None = None,
        row_count: int | None = None,
        status: str = "PROCESSING",
        error_msg: str | None = None,
        output_path: str | None = None,
        created_by: str | None = None,
    ) -> int:
        with self._lock:
            sid = self._next_stage_id
            self._next_stage_id += 1
            now = _now()
            state = dict(
                StageDetailID=sid,
                Seq=self._next_seq(),
                ProcessID=process_id,
                StageName=stage_name,
                TableID=table_id,
                TableName=table_name,
                StartTime=now,
                RowCount=row_count,
                Status=status,
                ErrorMessage=error_msg,
                OutputPath=output_path,
                CreatedBy=created_by or CREATED_BY,
                EventAt=now,
            )
            self._stage_state[sid] = state
            self._process_stages.setdefault(process_id, []).append(sid)
            append_event(self._stage_dir, STAGE_EVENT_SCHEMA, state)
            return sid

    # -- L3: update_process_stage_detail (process_logger.py:135-156) --------

    def update_stage_detail(
        self,
        stage_detail_id: int,
        status: str = "SUCCESS",
        row_count: int | None = None,
        error_msg: str | None = None,
        output_path: str | None = None,
    ) -> None:
        with self._lock:
            state = dict(
                self._stage_state.get(stage_detail_id, {"StageDetailID": stage_detail_id})
            )
            state["Status"] = status
            if row_count is not None:
                state["RowCount"] = row_count
            if error_msg is not None:
                state["ErrorMessage"] = error_msg
            if output_path is not None:
                state["OutputPath"] = output_path
            state["EndTime"] = _now()
            state["Seq"] = self._next_seq()
            state["EventAt"] = state["EndTime"]
            self._stage_state[stage_detail_id] = state
            append_event(self._stage_dir, STAGE_EVENT_SCHEMA, state)

    # -- views ---------------------------------------------------------------

    def process_master(self) -> DataFrame:
        return latest_wins(self.spark.read.schema(PROCESS_EVENT_SCHEMA).parquet(self._process_dir), "ProcessID")

    def stage_detail(self) -> DataFrame:
        return latest_wins(self.spark.read.schema(STAGE_EVENT_SCHEMA).parquet(self._stage_dir), "StageDetailID")

    # -- L6: run-status rollup (PARTIAL semantics, DAG finalizer shape) ------

    #: Stage names that are per-event progress records, not work units: a
    #: realtime table already has a table-level REALTIME_STAGING row whose
    #: status decides the table; counting each micro-batch row too would
    #: double-count the table (and a table that failed after one good
    #: micro-batch would roll up PARTIAL instead of FAILED).
    INFORMATIONAL_STAGES = ("REALTIME_MICROBATCH",)

    def finalize_run(self, process_id: int) -> str:
        """Derive SUCCESS/PARTIAL/FAILED from stage statuses and close the
        master row (the reference's commented finalizer,
        ``dag/SMFG_DW_ETL_DAG.py:294-308``).

        Only each unit's FINAL attempt counts: with the runner's retry hook
        a table may leave FAILED rows for earlier attempts and then
        succeed — the highest StageDetailID per (StageName, table) decides.
        Rows without table identity (NULL TableName) are their own units,
        never collapsed. Informational stages (per-micro-batch progress
        rows) are excluded from the unit count entirely.

        The rollup reads this ledger's in-memory stage state, so only a
        process opened by this ledger can be finalized. It reads only this
        process's rows and then releases them: their events are already on
        disk, so a long-running scheduler's ledger holds the stage rows of
        unfinished runs only."""
        with self._lock:
            # only create_process_master sets ProcessStartAt
            if "ProcessStartAt" not in self._process_state.get(process_id, {}):
                raise ValueError(f"process {process_id} was not opened by this ledger")
            rows = [
                (r["StageDetailID"], r["StageName"], r["TableName"], r["Status"])
                for r in map(
                    self._stage_state.pop, self._process_stages.pop(process_id, [])
                )
            ]
        final: dict[tuple, str] = {}
        for sid, stage, table, status in sorted(rows):
            if stage not in self.INFORMATIONAL_STAGES:
                final[(stage, sid if table is None else table)] = status
        statuses = list(final.values())
        ok, bad = statuses.count("SUCCESS"), statuses.count("FAILED")
        status = "SUCCESS" if bad == 0 else ("FAILED" if ok == 0 else "PARTIAL")
        self.update_process_master(
            process_id,
            status=status,
            remarks=f"{ok} tables succeeded, {bad} failed",
            process_end_at=_now(),
        )
        return status
