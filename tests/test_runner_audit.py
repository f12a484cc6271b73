"""End-to-end run lifecycle: extraction over the zone lake with audit
ledger; failure isolation → PARTIAL; transform/load stage; merge upsert."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from smfg_datawarehouse_spark.audit import AuditLedger
from smfg_datawarehouse_spark.catalog import seed_fixture_catalog
from smfg_datawarehouse_spark.compiler import compile_extraction_plans
from smfg_datawarehouse_spark.runner import run_realtime_staging, run_staging_extraction
from smfg_datawarehouse_spark.sources.lake import LakeZones
from smfg_datawarehouse_spark.transform import (
    apply_output_mapping,
    merge_upsert,
    output_mapping_plan,
)


def _setup_raw(spark, zones: LakeZones):
    for name in ["lineitem", "orders", "customer"]:
        src = spark.read.parquet(f"/root/testdata/sf0.001/{name}.parquet")
        src.write.mode("overwrite").parquet(os.path.join(zones.raw, "tpch", name))


def test_full_run_success(spark, tmp_path):
    zones = LakeZones(str(tmp_path / "lake"))
    _setup_raw(spark, zones)
    audit = AuditLedger(spark, str(tmp_path / "audit"))
    cat = seed_fixture_catalog(spark)

    pid, results = run_staging_extraction(spark, cat, zones, audit)
    assert {r.table: r.status for r in results} == {
        "tpch.lineitem": "SUCCESS",
        "tpch.orders": "SUCCESS",
    }
    master = audit.process_master().where(F.col("ProcessID") == pid).collect()[0]
    assert master["Status"] == "SUCCESS"
    assert master["ProcessEndAt"] is not None

    # staging output respects the compiled projection
    li = spark.read.parquet(zones.staging_table_dir("tpch", "lineitem"))
    assert li.columns == ["Order_Key", "l_linenumber", "Qty", "Net_Price", "Return_Flag"]

    # audit row counts reconcile with staged data (reference test strategy §5)
    sd = audit.stage_detail().where(F.col("ProcessID") == pid)
    counts = {r["TableName"]: r["RowCount"] for r in sd.collect()}
    assert counts["tpch.lineitem"] == li.count()
    assert all(r["Status"] == "SUCCESS" for r in sd.collect())


def _last_job_id(spark) -> int:
    # the newest id, not a count (as in test_guards): the status store
    # retains a bounded number of jobs
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def test_one_spark_job_per_staged_table(spark, tmp_path):
    """With an explicit-schema source reader, staging a table is its one
    write job: the audited row count comes from the written files'
    parquet footers, not from a persisted recount."""
    zones = LakeZones(str(tmp_path / "lake"))
    _setup_raw(spark, zones)
    audit = AuditLedger(spark, str(tmp_path / "audit"))
    cat = seed_fixture_catalog(spark)

    def src_dir(plan):
        return os.path.join(zones.raw, plan.schema_name, plan.table_name)

    schemas = {p.table_name: spark.read.parquet(src_dir(p)).schema for p in compile_extraction_plans(cat)}

    def reader(s, plan):
        return s.read.schema(schemas[plan.table_name]).parquet(src_dir(plan))

    before = _last_job_id(spark)
    _pid, results = run_staging_extraction(spark, cat, zones, audit, source_reader=reader)
    assert [r.status for r in results] == ["SUCCESS"] * 2
    assert _last_job_id(spark) - before == len(results)
    for r in results:
        assert r.row_count == spark.read.parquet(r.output_path).count()


def _append_null_rows(spark, src_dir: str, partial: bool) -> None:
    """Append one file of three all-NULL rows (plus, if ``partial``, one
    row whose only non-NULL value is ``o_orderkey = -1``) to ``src_dir``."""
    schema = spark.read.parquet(src_dir).schema
    rows = [(None,) * len(schema)] * 3
    if partial:
        rows.append(tuple(-1 if f.name == "o_orderkey" else None for f in schema))
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src_dir)


def _all_null(df):
    return df.where(" AND ".join(f"`{c}` IS NULL" for c in df.columns))


def test_all_na_rows_not_landed_batch(spark, tmp_path):
    zones = LakeZones(str(tmp_path / "lake"))
    _setup_raw(spark, zones)
    src_dir = os.path.join(zones.raw, "tpch", "orders")
    n_src = spark.read.parquet(src_dir).count()
    _append_null_rows(spark, src_dir, partial=True)
    audit = AuditLedger(spark, str(tmp_path / "audit"))

    pid, results = run_staging_extraction(spark, seed_fixture_catalog(spark), zones, audit)
    staged = spark.read.parquet(zones.staging_table_dir("tpch", "orders"))
    assert staged.count() == n_src + 1  # the partly-NULL row is kept
    assert _all_null(staged).count() == 0
    audited = {
        r["TableName"]: r["RowCount"]
        for r in audit.stage_detail().where(F.col("ProcessID") == pid).collect()
    }
    for r in results:
        landed = spark.read.parquet(r.output_path).count()
        assert audited[r.table] == r.row_count == landed


def test_all_na_rows_not_landed_realtime(spark, tmp_path):
    zones = LakeZones(str(tmp_path / "lake"))
    _setup_raw(spark, zones)
    src_dir = os.path.join(zones.raw, "tpch", "orders")
    n_src = spark.read.parquet(src_dir).count()
    _append_null_rows(spark, src_dir, partial=True)
    audit = AuditLedger(spark, str(tmp_path / "audit"))
    cat = seed_fixture_catalog(spark)
    for row in cat.table_config:
        if row["TableName"] == "orders":
            row["RefreshFrequency"] = "REALTIME"

    def micro_counts(pid):
        sd = audit.stage_detail().where(
            (F.col("ProcessID") == pid) & (F.col("StageName") == "REALTIME_MICROBATCH")
        )
        return [r["RowCount"] for r in sd.collect()]

    pid, results = run_realtime_staging(spark, cat, zones, audit)
    out = zones.staging_table_dir("tpch", "orders")
    staged = spark.read.parquet(out)
    assert staged.count() == n_src + 1
    assert _all_null(staged).count() == 0
    assert results[0].row_count == sum(micro_counts(pid)) == staged.count()

    # a micro-batch of only all-NULL rows lands no rows and audits 0
    _append_null_rows(spark, src_dir, partial=False)
    pid2, results2 = run_realtime_staging(spark, cat, zones, audit)
    assert results2[0].status == "SUCCESS"
    assert results2[0].row_count == 0 and micro_counts(pid2) == [0]
    assert spark.read.parquet(out).count() == n_src + 1


def test_realtime_replayed_batch_lands_nothing(spark, tmp_path):
    """A micro-batch whose id the ``_landed_batches`` marker already holds
    (a replay after a crash between the append and the checkpoint commit)
    appends no rows and logs no REALTIME_MICROBATCH row."""
    zones = LakeZones(str(tmp_path / "lake"))
    _setup_raw(spark, zones)
    audit = AuditLedger(spark, str(tmp_path / "audit"))
    cat = seed_fixture_catalog(spark)
    for row in cat.table_config:
        if row["TableName"] == "orders":
            row["RefreshFrequency"] = "REALTIME"
    ckpt = tmp_path / "ckpt"
    marker = ckpt / "tpch" / "orders" / "_landed_batches"
    marker.parent.mkdir(parents=True)
    marker.write_text("0\n")

    pid, results = run_realtime_staging(spark, cat, zones, audit, checkpoint_root=str(ckpt))
    assert results[0].status == "SUCCESS" and results[0].row_count == 0
    micro = audit.stage_detail().where(
        (F.col("ProcessID") == pid) & (F.col("StageName") == "REALTIME_MICROBATCH")
    )
    assert micro.count() == 0
    out = zones.staging_table_dir("tpch", "orders")
    assert not [f for _r, _d, fs in os.walk(out) for f in fs if f.endswith(".parquet")]
    assert marker.read_text().split() == ["0"]


def test_partial_run_on_table_failure(spark, tmp_path):
    zones = LakeZones(str(tmp_path / "lake"))
    _setup_raw(spark, zones)
    os.rename(
        os.path.join(zones.raw, "tpch", "orders"),
        os.path.join(zones.raw, "tpch", "orders_missing"),
    )
    audit = AuditLedger(spark, str(tmp_path / "audit"))
    cat = seed_fixture_catalog(spark)
    pid, results = run_staging_extraction(spark, cat, zones, audit)
    statuses = {r.table: r.status for r in results}
    assert statuses["tpch.lineitem"] == "SUCCESS"
    assert statuses["tpch.orders"] == "FAILED"
    master = audit.process_master().where(F.col("ProcessID") == pid).collect()[0]
    assert master["Status"] == "PARTIAL"
    failed = (
        audit.stage_detail()
        .where((F.col("ProcessID") == pid) & (F.col("Status") == "FAILED"))
        .collect()
    )
    assert len(failed) == 1 and failed[0]["ErrorMessage"]


def test_output_mapping_and_merge(spark, tmp_path):
    zones = LakeZones(str(tmp_path / "lake"))
    _setup_raw(spark, zones)
    audit = AuditLedger(spark, str(tmp_path / "audit"))
    cat = seed_fixture_catalog(spark)
    run_staging_extraction(spark, cat, zones, audit)

    target, mapping, keys = output_mapping_plan(cat, 1)
    assert target == "dw.fact_lineitem"
    assert keys == ["order_key", "line_no"]
    staged = spark.read.parquet(zones.staging_table_dir("tpch", "lineitem"))
    out = apply_output_mapping(staged, mapping)
    # TargetPosition ordering + declared types
    assert out.columns == ["order_key", "line_no", "quantity", "net_price"]
    assert dict(out.dtypes)["net_price"] == "decimal(18,4)"
    assert dict(out.dtypes)["line_no"] == "int"

    # merge: target must be key-unique (MERGE precondition); synthetic
    # lineitem repeats (orderkey, linenumber), so dedup for the target
    target_df = out.dropDuplicates(keys).cache()
    updates = target_df.limit(10).withColumn("quantity", F.col("quantity") + 1000)
    merged = merge_upsert(target_df, updates, keys)
    assert merged.count() == target_df.count()
    bumped = merged.where(F.col("quantity") > 900).count()
    assert bumped == 10


def test_audit_id_allocation_resumes(spark, tmp_path):
    audit = AuditLedger(spark, str(tmp_path / "audit"))
    p1 = audit.create_process_master()
    audit2 = AuditLedger(spark, str(tmp_path / "audit"))  # fresh engine start
    p2 = audit2.create_process_master()
    assert p2 == p1 + 1


def test_retry_hook_recovers_and_ledger_keeps_attempt_history(spark, tmp_path):
    """Reference DAG declares retries/retry_delay (default_args, retries=0);
    the runner's retry hook re-attempts failed tables. A source that fails
    once then succeeds must yield a SUCCESS table + SUCCESS run, with the
    failed attempt's FAILED row preserved in the ledger (attempt history),
    and finalize_run counting only final attempts."""
    zones = LakeZones(str(tmp_path / "lake"))
    _setup_raw(spark, zones)
    audit = AuditLedger(spark, str(tmp_path / "audit"))
    cat = seed_fixture_catalog(spark)

    flaky_calls = {}

    def flaky_reader(s, plan):
        import os as _os

        n = flaky_calls.get(plan.full_table_name, 0)
        flaky_calls[plan.full_table_name] = n + 1
        if plan.table_name == "orders" and n == 0:
            raise RuntimeError("transient source outage")
        return s.read.parquet(
            _os.path.join(zones.raw, plan.schema_name, plan.table_name)
        )

    pid, results = run_staging_extraction(
        spark, cat, zones, audit, source_reader=flaky_reader, retries=1
    )
    assert {r.table: r.status for r in results} == {
        "tpch.lineitem": "SUCCESS",
        "tpch.orders": "SUCCESS",
    }
    master = audit.process_master().where(F.col("ProcessID") == pid).collect()[0]
    assert master["Status"] == "SUCCESS"  # not PARTIAL: retried attempt won
    orders_rows = (
        audit.stage_detail()
        .where((F.col("ProcessID") == pid) & (F.col("TableName") == "tpch.orders"))
        .orderBy("StageDetailID")
        .collect()
    )
    assert [r["Status"] for r in orders_rows] == ["FAILED", "SUCCESS"]
    assert "transient source outage" in orders_rows[0]["ErrorMessage"]


def test_retries_exhausted_still_partial(spark, tmp_path):
    zones = LakeZones(str(tmp_path / "lake"))
    _setup_raw(spark, zones)
    audit = AuditLedger(spark, str(tmp_path / "audit"))
    cat = seed_fixture_catalog(spark)

    def always_fail_orders(s, plan):
        import os as _os

        if plan.table_name == "orders":
            raise RuntimeError("hard outage")
        return s.read.parquet(
            _os.path.join(zones.raw, plan.schema_name, plan.table_name)
        )

    pid, results = run_staging_extraction(
        spark, cat, zones, audit, source_reader=always_fail_orders, retries=2
    )
    statuses = {r.table: r.status for r in results}
    assert statuses["tpch.orders"] == "FAILED"
    master = audit.process_master().where(F.col("ProcessID") == pid).collect()[0]
    assert master["Status"] == "PARTIAL"
    n_attempts = (
        audit.stage_detail()
        .where((F.col("ProcessID") == pid) & (F.col("TableName") == "tpch.orders"))
        .count()
    )
    assert n_attempts == 3  # 1 + 2 retries, all preserved


#: (steps, expected Status, expected Remarks). A ``("log", stage, table,
#: status)`` step logs one stage row with that status; an ``("update", i,
#: status)`` step closes the i-th logged row, the way the runner closes a
#: table row after its micro-batch rows are logged.
FINALIZE_CASES = {
    "retried_table_final_attempt_wins": (
        [
            ("log", "STAGING_EXTRACT", "s.a", "FAILED"),
            ("log", "STAGING_EXTRACT", "s.b", "SUCCESS"),
            ("log", "STAGING_EXTRACT", "s.a", "SUCCESS"),
        ],
        "SUCCESS",
        "2 tables succeeded, 0 failed",
    ),
    "null_table_name_rows_are_own_units": (
        [
            ("log", "INIT_STAGE", None, "SUCCESS"),
            ("log", "INIT_STAGE", None, "FAILED"),
        ],
        "PARTIAL",
        "1 tables succeeded, 1 failed",
    ),
    "null_stage_name_row_is_kept": (
        [
            ("log", None, "s.a", "FAILED"),
            ("log", "STAGING_EXTRACT", "s.a", "SUCCESS"),
        ],
        "PARTIAL",
        "1 tables succeeded, 1 failed",
    ),
    "microbatch_rows_are_excluded": (
        [
            ("log", "REALTIME_STAGING", "s.a", "PROCESSING"),
            ("log", "REALTIME_MICROBATCH", "s.a", "FAILED"),
            ("log", "REALTIME_MICROBATCH", "s.a", "SUCCESS"),
            ("update", 0, "SUCCESS"),
        ],
        "SUCCESS",
        "1 tables succeeded, 0 failed",
    ),
    "failure_after_good_microbatch_is_failed": (
        [
            ("log", "REALTIME_STAGING", "s.a", "PROCESSING"),
            ("log", "REALTIME_MICROBATCH", "s.a", "SUCCESS"),
            ("update", 0, "FAILED"),
        ],
        "FAILED",
        "0 tables succeeded, 1 failed",
    ),
}


def _replay(audit: AuditLedger, steps) -> int:
    """Open a process and log/update its stage rows as ``steps`` say."""
    pid = audit.create_process_master()
    sids = []
    for step in steps:
        if step[0] == "log":
            _, stage, table, status = step
            sids.append(
                audit.log_stage_detail(pid, stage, table_name=table, status=status)
            )
        else:
            _, i, status = step
            audit.update_stage_detail(sids[i], status=status)
    return pid


@pytest.mark.parametrize("case", sorted(FINALIZE_CASES))
def test_finalize_run_rollup(spark, tmp_path, case):
    steps, want_status, want_remarks = FINALIZE_CASES[case]
    audit = AuditLedger(spark, str(tmp_path / "audit"))
    other = audit.create_process_master()  # rows of another run never count
    audit.log_stage_detail(other, "STAGING_EXTRACT", table_name="s.a", status="FAILED")
    pid = _replay(audit, steps)
    assert audit.finalize_run(pid) == want_status
    master = audit.process_master().where(F.col("ProcessID") == pid).collect()[0]
    assert (master["Status"], master["Remarks"]) == (want_status, want_remarks)
    assert master["ProcessEndAt"] is not None


def test_finalize_run_releases_its_stage_rows(spark, tmp_path):
    """One ledger serves every run of a long-running scheduler: after
    ``finalize_run`` no stage row of that process stays in memory (its
    events are on disk), while the ledger views and every pinned rollup
    stay the same."""
    zones = LakeZones(str(tmp_path / "lake"))
    _setup_raw(spark, zones)
    audit = AuditLedger(spark, str(tmp_path / "audit"))
    cat = seed_fixture_catalog(spark)
    pids = [run_staging_extraction(spark, cat, zones, audit)[0] for _ in range(3)]
    assert audit._stage_state == {}
    master = {r["ProcessID"]: r["Status"] for r in audit.process_master().collect()}
    assert [master[p] for p in pids] == ["SUCCESS"] * 3
    sd = audit.stage_detail().where(F.col("ProcessID").isin(pids)).collect()
    assert len(sd) == 6 and {r["Status"] for r in sd} == {"SUCCESS"}
    for case, (steps, want_status, _remarks) in sorted(FINALIZE_CASES.items()):
        open_pid = _replay(audit, steps[:1])  # an unfinished run keeps its rows
        pid = _replay(audit, steps)
        assert audit.finalize_run(pid) == want_status, case
        assert [r["ProcessID"] for r in audit._stage_state.values()] == [open_pid]
        audit.finalize_run(open_pid)
    assert audit._stage_state == {}


def test_finalize_run_rejects_unopened_process(spark, tmp_path):
    audit = AuditLedger(spark, str(tmp_path / "audit"))
    pid = audit.create_process_master()
    with pytest.raises(ValueError, match="not opened"):
        audit.finalize_run(pid + 1)
    # a reopened ledger did not open the earlier process either
    with pytest.raises(ValueError, match="not opened"):
        AuditLedger(spark, str(tmp_path / "audit")).finalize_run(pid)


def test_unreadable_ledger_file_raises(spark, tmp_path):
    """Only a missing or empty ledger directory starts ids at 1: restarting
    ids over a ledger that could not be read would let ``latest_wins``
    merge two different processes into one."""
    AuditLedger(spark, str(tmp_path / "audit")).create_process_master()
    with open(tmp_path / "audit" / "process_master" / "junk.parquet", "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(ValueError, match="magic bytes"):  # pyarrow.ArrowInvalid
        AuditLedger(spark, str(tmp_path / "audit"))
    empty = tmp_path / "empty"
    (empty / "process_master").mkdir(parents=True)
    assert AuditLedger(spark, str(empty)).create_process_master() == 1
