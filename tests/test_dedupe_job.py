"""DedupeJob integration tests — the Spark port of the reference's
IncrementalIntegrationTest.java:112-157 (count + state-checkpoint + gap
scenarios) plus regressions for the partition-swap rewrite.

Generator: every 5th row duplicated (TransactionsGenerator.java:70-81,
dup at :76-78) with deterministic sub-second gaps (the reference uses
unseeded Random; fixtures must be deterministic, FIXTURES.md §1).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hedera_etl_spark.operators.dedupe import (
    FULL_STATE_KEY,
    INCREMENTAL_STATE_KEY,
    STATE_SCHEMA,
    DedupeJob,
    StateStore,
    footer_max,
    live_part_files,
)
from tests.planutil import job_ids

ROW_SCHEMA = T.StructType(
    [
        T.StructField("consensus_timestamp", T.LongType(), False),
        T.StructField("ingest_seq", T.LongType(), False),
        T.StructField("ts_sec", T.LongType(), True),
        T.StructField("part_date", T.DateType(), True),
    ]
)

BASE_NS = 1_570_800_000 * 1_000_000_000


def gen_rows(n: int, start_ns: int = BASE_NS, gap_ns: int = 137_000_000):
    """n logical rows, every 5th inserted twice; deterministic <1s gaps."""
    import datetime

    rows = []
    ns = start_ns
    for i in range(n):
        ns += gap_ns + (i * 7_919) % 500_000_000
        sec = ns // 1_000_000_000
        date = datetime.date.fromtimestamp(sec)
        rows.append((ns, 0, sec, date))
        if i % 5 == 0:
            rows.append((ns, 1, sec, date))
    return rows


def make_table(spark, tmp_path, rows):
    path = os.path.join(str(tmp_path), "tx")
    df = spark.createDataFrame(rows, ROW_SCHEMA)
    df.write.mode("overwrite").partitionBy("part_date").parquet(path)
    return path


def make_job(spark, tmp_path, path, slack=0):
    state = StateStore(spark, os.path.join(str(tmp_path), "state"))
    return (
        DedupeJob(spark, path, state, key="consensus_timestamp",
                  tiebreak="ingest_seq", lateness_slack_sec=slack),
        state,
    )


def test_incremental_removes_duplicates_and_saves_state(spark, tmp_path):
    """IncrementalIntegrationTest.testDeduplication: 100 logical rows with
    20 duplicates -> 100 rows after the run, state = window end."""
    rows = gen_rows(100)
    path = make_table(spark, tmp_path, rows)
    job, state = make_job(spark, tmp_path, path)

    result = job.run_incremental()
    assert result.duplicates_removed == 20
    final = spark.read.parquet(path)
    assert final.count() == 100
    assert final.select("consensus_timestamp").distinct().count() == 100
    # deterministic keep: the min ingest_seq row survives
    assert final.agg(F.sum("ingest_seq")).collect()[0][0] == 0
    assert int(state.read()[INCREMENTAL_STATE_KEY]) == max(r[2] for r in rows)


def test_second_run_is_noop(spark, tmp_path):
    path = make_table(spark, tmp_path, gen_rows(50))
    job, _ = make_job(spark, tmp_path, path)
    job.run_incremental()
    again = job.run_incremental()
    assert again.duplicates_removed == 0
    assert spark.read.parquet(path).count() == 50


def test_window_advance_on_new_data(spark, tmp_path):
    """New rows past the checkpoint are deduped by the next run without
    touching (or re-counting) the already-clean history."""
    first = gen_rows(40)
    path = make_table(spark, tmp_path, first)
    job, state = make_job(spark, tmp_path, path)
    job.run_incremental()

    # append a later batch (starts after the saved end), with duplicates
    last_ns = max(r[0] for r in first)
    second = gen_rows(40, start_ns=last_ns + 10_000_000_000)
    spark.createDataFrame(second, ROW_SCHEMA).write.mode("append").partitionBy(
        "part_date"
    ).parquet(path)

    result = job.run_incremental()
    assert result.duplicates_removed == 8
    assert spark.read.parquet(path).count() == 80
    assert int(state.read()[INCREMENTAL_STATE_KEY]) == max(r[2] for r in second)


def test_gap_scenario(spark, tmp_path):
    """IncrementalIntegrationTest.testGap: a timestamp gap far larger than
    any probe interval must not strand the window — the next run reaches
    the new data (our window-advance is max-driven, so the gap is crossed
    in one run; the reference needed two probes, :143-157)."""
    early = gen_rows(20)
    late = gen_rows(20, start_ns=BASE_NS + 10_000 * 1_000_000_000)  # +10000s gap
    path = make_table(spark, tmp_path, early + late)
    job, state = make_job(spark, tmp_path, path)

    result = job.run_incremental()
    assert result.duplicates_removed == 8
    assert spark.read.parquet(path).count() == 40
    assert int(state.read()[INCREMENTAL_STATE_KEY]) == max(r[2] for r in late)


@pytest.mark.slow
def test_full_dedup_heals_history(spark, tmp_path):
    """FullDeduplication.java:30-54: duplicates that land BELOW the
    incremental checkpoint (pathological lateness) are healed by run_full,
    which re-dedups [0, incrementalEnd]."""
    rows = gen_rows(30)
    path = make_table(spark, tmp_path, rows)
    job, state = make_job(spark, tmp_path, path)
    job.run_incremental()

    # replay an old row (below the checkpoint) — incremental won't see it
    old = [r for r in rows if r[1] == 0][3]
    spark.createDataFrame([(old[0], 9, old[2], old[3])], ROW_SCHEMA).write.mode(
        "append"
    ).partitionBy("part_date").parquet(path)
    assert job.run_incremental().duplicates_removed == 0

    result = job.run_full()
    assert result.duplicates_removed == 1
    assert spark.read.parquet(path).count() == 30
    assert int(state.read()[FULL_STATE_KEY]) == int(state.read()[INCREMENTAL_STATE_KEY])


def test_lateness_slack_defers_window_end(spark, tmp_path):
    """ST4 minus the UPDATE-probe: end = max(ts) - slack, so trailing rows
    stay untouched until they age past the slack (SURVEY §4 O6)."""
    rows = gen_rows(50)
    path = make_table(spark, tmp_path, rows)
    max_sec = max(r[2] for r in rows)
    job, state = make_job(spark, tmp_path, path, slack=5)
    result = job.run_incremental()
    assert result.end == max_sec - 5
    assert int(state.read()[INCREMENTAL_STATE_KEY]) == max_sec - 5


def test_null_ts_sec_rows_survive_rewrite(spark, tmp_path):
    """Regression (ADVICE r1): a NULL-timestamp row in a touched partition
    made the retain predicate NULL and vanished from the rewrite."""
    rows = gen_rows(20)
    null_row = [(rows[0][0] + 1, 0, None, rows[0][3])]  # same partition, null ts_sec
    path = make_table(spark, tmp_path, rows + null_row)
    job, _ = make_job(spark, tmp_path, path)
    job.run_incremental()
    final = spark.read.parquet(path)
    assert final.filter(F.col("ts_sec").isNull()).count() == 1
    assert final.count() == 21


def test_duplicate_free_partitions_not_rewritten(spark, tmp_path):
    """Only partitions containing a duplicated key are rewritten (write
    amplification guard): a clean partition inside the window keeps its
    original files byte-for-byte."""
    import datetime

    rows = gen_rows(20)
    path = make_table(spark, tmp_path, rows)
    # a clean partition on its own date, inside the window, no duplicates
    past_ns = BASE_NS - 86_400 * 5 * 1_000_000_000
    past = [(past_ns, 0, past_ns // 1_000_000_000,
             datetime.date.fromtimestamp(past_ns // 1_000_000_000))]
    spark.createDataFrame(past, ROW_SCHEMA).write.mode("append").partitionBy(
        "part_date"
    ).parquet(path)
    clean_dir = os.path.join(
        path, f"part_date={past[0][3].isoformat()}"
    )
    before = sorted(os.listdir(clean_dir))
    before_mtime = max(os.path.getmtime(os.path.join(clean_dir, f)) for f in before)

    job, _ = make_job(spark, tmp_path, path)
    result = job.run_incremental()
    assert result.duplicates_removed == 4

    final = spark.read.parquet(path)
    assert final.count() == 21
    assert sorted(os.listdir(clean_dir)) == before
    assert max(os.path.getmtime(os.path.join(clean_dir, f)) for f in before) == before_mtime


# ---------------------------------------------------------------------------
# Spark jobs that decide nothing: state I/O and the window end run on the
# driver, detection is one aggregate
# ---------------------------------------------------------------------------
def test_no_duplicate_incremental_runs_at_most_four_jobs(spark, tmp_path):
    """A run with nothing to heal reads the table once for the detection
    aggregate: no job for the state read or upsert, none for the window
    end, no second pass for the touched dates."""
    rows = [r for r in gen_rows(50) if r[1] == 0]
    path = make_table(spark, tmp_path, rows)
    job, state = make_job(spark, tmp_path, path)
    state.upsert(INCREMENTAL_STATE_KEY, "0")
    out = {}
    ids = job_ids(spark, "dedupe-no-dup", lambda: out.update(r=job.run_incremental()))
    assert out["r"].duplicates_removed == 0 and out["r"].rows_in_window == 50
    assert len(ids) <= 4, ids


def test_state_upsert_runs_no_spark_job(spark, tmp_path):
    state = StateStore(spark, os.path.join(str(tmp_path), "state"))

    def upserts():
        state.upsert("b", "2")
        state.upsert("a", "1")
        state.upsert("b", "3")

    assert job_ids(spark, "state-upsert", upserts) == []
    assert state.read() == {"a": "1", "b": "3"}


def test_state_written_by_spark_reads_back(spark, tmp_path):
    """A state dir written the Spark way (one coalesced part file plus
    _SUCCESS and .crc siblings) reads back unchanged and upserts in place."""
    path = os.path.join(str(tmp_path), "state")
    spark.createDataFrame(
        [(INCREMENTAL_STATE_KEY, "17"), (FULL_STATE_KEY, None)], STATE_SCHEMA
    ).coalesce(1).write.parquet(path)
    state = StateStore(spark, path)
    assert state.read() == {INCREMENTAL_STATE_KEY: "17", FULL_STATE_KEY: None}
    state.upsert(FULL_STATE_KEY, "9")
    assert state.read() == {INCREMENTAL_STATE_KEY: "17", FULL_STATE_KEY: "9"}


def test_state_written_driver_local_reads_through_spark(spark, tmp_path):
    path = os.path.join(str(tmp_path), "state")
    state = StateStore(spark, path)
    state.upsert(INCREMENTAL_STATE_KEY, "42")
    state.upsert(FULL_STATE_KEY, "7")
    rows = spark.read.schema(STATE_SCHEMA).parquet(path).collect()
    assert sorted((r["name"], r["value"]) for r in rows) == [
        (FULL_STATE_KEY, "7"),
        (INCREMENTAL_STATE_KEY, "42"),
    ]


@pytest.mark.parametrize("case", ["no_statistics", "all_null", "slack"])
def test_footer_window_end_matches_scan(spark, tmp_path, case):
    """The window end read from the part-file footers equals the scan's
    max(ts_sec) minus the slack: a file without statistics forces the
    scan, an all-null ts_sec file is skipped without one."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = gen_rows(30)
    path = make_table(spark, tmp_path, rows)
    top = max(r[2] for r in rows)
    extra = {"no_statistics": [top + 100], "all_null": [None, None]}.get(case)
    if extra:
        n = len(extra)
        part = sorted(glob.glob(os.path.join(path, "part_date=*")))[0]
        pq.write_table(
            pa.table({
                "consensus_timestamp": pa.array([BASE_NS - 1 - i for i in range(n)], pa.int64()),
                "ingest_seq": pa.array([0] * n, pa.int64()),
                "ts_sec": pa.array(extra, pa.int64()),
            }),
            os.path.join(part, "part-extra.parquet"),
            write_statistics=case != "no_statistics",
        )
    slack = 7 if case == "slack" else 0
    job, _ = make_job(spark, tmp_path, path, slack=slack)
    scan = spark.read.parquet(path).agg(F.max("ts_sec")).collect()[0][0]
    assert job._window_end() == scan - slack
    if case == "no_statistics":
        with pytest.raises(LookupError):
            footer_max(live_part_files(path), "ts_sec")
        with pytest.raises(LookupError):  # no part file: the scan decides
            footer_max([], "ts_sec")
    else:
        assert footer_max(live_part_files(path), "ts_sec") == scan == top


# ---------------------------------------------------------------------------
# crash-safety regressions (r2 VERDICT #4 / ADVICE dedupe.py:302)
# ---------------------------------------------------------------------------
def test_state_upsert_survives_crash_mid_write(spark, tmp_path, monkeypatch):
    """Kill the writer between the two renames: the old state must remain
    readable (the pre-fix in-place overwrite corrupted the only copy)."""
    import os as _os

    state = StateStore(spark, os.path.join(str(tmp_path), "state"))
    state.upsert("k", "1")
    assert state.read() == {"k": "1"}

    real_rename = _os.rename
    calls = {"n": 0}

    def failing_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:  # the tmp -> live rename
            raise OSError("injected crash")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", failing_rename)
    with pytest.raises(OSError):
        state.upsert("k", "2")
    monkeypatch.undo()
    # live path is gone, .__old fallback must serve the previous state
    assert state.read() == {"k": "1"}
    # and a subsequent upsert heals: wait — read() falls back, upsert
    # rewrites from that fallback
    state.upsert("k", "3")
    assert state.read() == {"k": "3"}


def test_swap_partitions_failure_preserves_replacement(spark, tmp_path, monkeypatch):
    """A move failure mid-swap must leave the temp replacement data on
    disk (the pre-fix finally-block rmtree destroyed it, losing the
    already-removed live partitions permanently)."""
    import glob
    import shutil as _shutil

    rows = gen_rows(60)
    path = make_table(spark, tmp_path, rows)
    job, _ = make_job(spark, tmp_path, path)

    real_move = _shutil.move
    calls = {"n": 0}

    def failing_move(src, dst):
        calls["n"] += 1
        raise OSError("injected crash before any partition lands")

    monkeypatch.setattr(_shutil, "move", failing_move)
    with pytest.raises(OSError):
        job.run_incremental()
    monkeypatch.undo()
    # the replacement temp dir must still exist with partition data
    tmp_dirs = glob.glob(path + ".__rewrite-*")
    assert tmp_dirs, "replacement data was destroyed on failure"
    assert glob.glob(os.path.join(tmp_dirs[0], "part_date=*"))
    # the live partition that was moved aside survives under its
    # dot-prefixed old name (spark readers ignore dot-dirs)
    olds = glob.glob(os.path.join(path, ".part_date=*.__old"))
    assert olds
    for d in tmp_dirs:
        _shutil.rmtree(d, ignore_errors=True)


def test_swap_crash_self_heals_on_next_run(spark, tmp_path, monkeypatch):
    """After a mid-swap crash (live partition moved aside, replacement not
    yet in), the NEXT job run must heal the table and complete the dedup —
    no manual recovery, no lost rows."""
    import shutil as _shutil

    rows = gen_rows(60)
    path = make_table(spark, tmp_path, rows)
    job, _ = make_job(spark, tmp_path, path)
    total_logical = spark.read.parquet(path).select("consensus_timestamp").distinct().count()

    calls = {"n": 0}
    real_move = _shutil.move

    def failing_move(src, dst):
        calls["n"] += 1
        raise OSError("injected crash")

    monkeypatch.setattr(_shutil, "move", failing_move)
    with pytest.raises(OSError):
        job.run_incremental()
    monkeypatch.setattr(_shutil, "move", real_move)

    # fresh job object (fresh state store path untouched by the failure)
    job2, _ = make_job(spark, tmp_path, path)
    result = job2.run_incremental()
    assert result.duplicates_removed > 0
    final = spark.read.parquet(path)
    assert final.count() == total_logical
    assert final.select("consensus_timestamp").distinct().count() == total_logical
    # no crash debris left behind
    import glob

    assert not glob.glob(path + ".__rewrite-*")
    assert not glob.glob(os.path.join(path, ".part_date=*.__old"))
