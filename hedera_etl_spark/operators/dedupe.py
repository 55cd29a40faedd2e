"""The deduplication engine — Spark-native port of the reference's
hedera-deduplication-bigquery module.

The reference is a Spring-scheduled job issuing templated BigQuery SQL
(AbstractDeduplication.java:94-126): read a KV state row, compute a
[start, end] timestamp window, detect duplicates with GROUP BY/HAVING
(GetDuplicatesTemplateQuery.java:33-36), atomically replace the window with
its deduped content via MERGE ON FALSE (RemoveDuplicatesTemplateQuery.java:29-43),
then upsert the new end into state (SetStateQuery.java:34-40).

Spark-native design decisions:

- The MERGE ON FALSE delete+insert is exactly partition-range overwrite
  semantics; we implement it with dynamic partition overwrite on a
  date-partitioned parquet table (Delta's replaceWhere where available).
- The reference's UPDATE-as-mutability-probe protocol
  (IncrementalDeduplication.java:89-107) exists only because BigQuery's
  streaming buffer rejects DML for ~30 min.  Parquet has no mutability
  horizon, so the window end is simply ``min(max(ts), now - lateness_slack)``
  — deterministic, no probing (SURVEY §4 O6).  On the parquet table
  ``max(ts)`` comes from the ``ts_sec`` max statistics in the footers of
  the live part files, read on the driver; only a row group that holds
  values but no statistics, or a table with no part file, falls back to
  a Spark scan (the Delta table keeps the scan).
- State lives in a tiny single-file parquet KV table with the reference's
  schema (state-schema.json:1-13) and keys
  (AbstractDeduplication.java:60-61): incremental/full LatestEndTimestamp.
  Two rows do not need a cluster: the parquet state is read and written
  driver-local with pyarrow, and Spark can still read the directory.
- Detection is one aggregate: the per-key count also carries the key's
  dates, so the row count, the excess and the partitions to rewrite come
  back in one collect.  A run without duplicates rewrites nothing.

Scale: the duplicate-collapse is a single shuffle on the dedup key *within
the affected date partitions only* — the time predicate prunes everything
else at the scan (SURVEY §4 O1).  At 100 TB with DAY partitions, an
incremental run touches ~1 partition.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hedera_etl_spark.schema import STATE_SCHEMA

INCREMENTAL_STATE_KEY = "incrementalLatestEndTimestamp"
FULL_STATE_KEY = "fullLatestEndTimestamp"


def delta_available() -> bool:
    """True when the delta-spark package is importable.

    The production path for the J1 rewrite on object storage is Delta's
    ``replaceWhere`` (a single atomic commit, concurrent-reader-safe,
    unlike the directory swap) and for J2 a real MERGE — both used
    automatically when the package exists; the parquet temp-path swap
    below is the dependency-free fallback this container runs.
    """
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def is_delta_table(path: str) -> bool:
    return os.path.isdir(os.path.join(path, "_delta_log"))


def replace_where_predicate(touched_dates: list) -> str:
    """The ``replaceWhere`` predicate for a partition-range rewrite: the
    exact SQL-literal IN list Delta's overwrite commit scopes itself to
    (the MERGE-ON-FALSE equivalent, RemoveDuplicatesTemplateQuery.java:
    29-43).  Pure string construction, unit-tested without delta-spark
    on the classpath."""
    dates = ", ".join(f"'{d}'" for d in touched_dates)
    return f"part_date IN ({dates})"


# ---------------------------------------------------------------------------
# window end from parquet footers (ST4 without a scan)
# ---------------------------------------------------------------------------
def live_part_files(table_path: str) -> list[str]:
    """The part files a Spark read of the DAY-partitioned table sees:
    ``part_date=*/*.parquet`` minus ``.``- and ``_``-prefixed names (swap
    siblings, ``_SUCCESS``, checksums)."""
    import glob

    return sorted(
        f for f in glob.glob(os.path.join(table_path, "part_date=*", "*.parquet"))
        if not os.path.basename(f).startswith((".", "_"))
    )


def footer_max(files: list[str], column: str):
    """Max of the top-level ``column`` over ``files``, from the row-group
    max statistics in their footers (None when no file holds a non-null
    value).  Files without the column and all-null row groups are
    skipped.  Raises ``LookupError`` when there is no file or a row group
    may hold values but carries no min/max statistics — the caller must
    scan instead (a scan of a table with no part file raises as before)."""
    import pyarrow.parquet as pq

    if not files:
        raise LookupError("no part file")
    best = None
    for f in files:
        md = pq.read_metadata(f)
        paths = [md.schema.column(j).path for j in range(md.num_columns)]
        if column not in paths:
            continue
        j = paths.index(column)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = rg.column(j).statistics
            if rg.num_rows == 0 or (
                st is not None and st.has_null_count and st.null_count == rg.num_rows
            ):
                continue
            if st is None or not st.has_min_max:
                raise LookupError(f"{f}: row group {g} has no {column} statistics")
            best = st.max if best is None else max(best, st.max)
    return best


# ---------------------------------------------------------------------------
# state table (S4/J2: GetStateQuery / SetStateQuery)
# ---------------------------------------------------------------------------
class StateStore:
    """KV state table with the reference's dedupe_state schema.

    The reference keeps it in BigQuery "because the task already relies on
    BigQuery" (README.md:65-67).  We keep it in a parquet directory holding
    one part file and emulate the MERGE upsert (SetStateQuery.java:34-40)
    with read-modify-replace — correct under the same single-writer
    discipline the reference assumes.  The parquet table is read and
    written driver-local with pyarrow: it holds two rows, so a Spark job
    per access is pure overhead.  The layout (``STATE_SCHEMA``, one part
    file inside the directory) stays readable by
    ``spark.read.schema(STATE_SCHEMA).parquet``, and a directory Spark
    wrote reads back the same.  A Delta state table goes through Spark.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> dict[str, str]:
        if delta_available() and is_delta_table(self.path):
            rows = self.spark.read.format("delta").load(self.path).collect()
            return {r["name"]: r["value"] for r in rows}
        import pyarrow.dataset as ds

        from hedera_etl_spark.fsutil import heal

        # a crash between upsert's two renames leaves the previous state
        # under the .__old sibling — restore it, don't just fall back
        heal(self.path)
        if not os.path.exists(self.path):
            return {}
        # ignores "_"- and "."-prefixed files (_SUCCESS, .crc), as Spark does
        rows = ds.dataset(self.path, schema=_arrow_state_schema(), format="parquet").to_table()
        return dict(zip(rows["name"].to_pylist(), rows["value"].to_pylist()))

    def upsert(self, name: str, value: str) -> None:
        """Crash-safe KV upsert via ``fsutil.atomic_replace``: at every
        instant either the live path or its ``.__old`` sibling holds a
        complete previous-or-new state, and a crash window left by a
        previous writer is healed before anything is deleted (the
        in-place overwrite this replaces could corrupt the only copy if
        the writer died mid-write).  The parquet branch runs no Spark
        job."""
        if delta_available() and not os.path.exists(self.path):
            # first write with delta on the classpath: CREATE the state
            # table as Delta so the MERGE branch is reachable for
            # self-created stores, not only pre-existing Delta tables
            # (r4 advice — previously a fresh store always went parquet
            # and the Delta path below could never trigger)
            src = self.spark.createDataFrame([(name, value)], STATE_SCHEMA)
            src.write.format("delta").save(self.path)
            return
        if delta_available() and is_delta_table(self.path):
            # the real MERGE (SetStateQuery.java:34-40): one ACID commit
            from delta.tables import DeltaTable

            src = self.spark.createDataFrame([(name, value)], STATE_SCHEMA)
            (
                DeltaTable.forPath(self.spark, self.path)
                .alias("t")
                .merge(src.alias("s"), "t.name = s.name")
                .whenMatchedUpdate(set={"value": "s.value"})
                .whenNotMatchedInsertAll()
                .execute()
            )
            return

        import pyarrow as pa
        import pyarrow.parquet as pq

        from hedera_etl_spark.fsutil import atomic_replace

        state = self.read()  # read() heals a prior crash window first
        state[name] = value
        names = sorted(state)
        table = pa.table(
            [names, [state[k] for k in names]], schema=_arrow_state_schema()
        )

        def write(tmp: str) -> None:
            os.makedirs(tmp)
            pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))

        atomic_replace(self.path, write)


def _arrow_state_schema():
    """``STATE_SCHEMA`` as a pyarrow schema (``name`` required, as Spark
    writes a non-nullable field)."""
    import pyarrow as pa

    return pa.schema(
        [pa.field(f.name, pa.string(), nullable=f.nullable) for f in STATE_SCHEMA.fields]
    )


# ---------------------------------------------------------------------------
# dedup collapse (A2/J1: RemoveDuplicatesTemplateQuery.java:29-43)
# ---------------------------------------------------------------------------
def collapse_duplicates(df: DataFrame, key, tiebreak: list[str] | None = None) -> DataFrame:
    """Keep exactly one row per key.

    The reference keeps an *arbitrary* row (ARRAY_AGG(x LIMIT 1),
    RemoveDuplicatesTemplateQuery.java:33) because its duplicates are
    byte-identical; for hash-stable results we keep the first row under an
    explicit tiebreak ordering when one is given, else dropDuplicates.
    A tiebreak made only of key columns orders nothing (every row of a
    group ties), so it is dropDuplicates too.
    """
    keys = [key] if isinstance(key, str) else list(key)
    if not tiebreak or set(tiebreak) <= set(keys):
        return df.dropDuplicates(keys)
    w = W.partitionBy(*keys).orderBy(*tiebreak)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# the scheduled jobs (AbstractDeduplication.runDedupe, steps 1-6)
# ---------------------------------------------------------------------------
@dataclass
class DedupeResult:
    start: int
    end: int
    duplicates_removed: int
    rows_in_window: int


@dataclass
class DedupeMetrics:
    """Driver-side gauges mirroring AbstractDeduplication.java:129-160
    (runs, affected rows, duplicates removed, last window end) — ST7."""

    runs: int = 0
    total_duplicates_removed: int = 0
    total_rows_scanned: int = 0
    last_window_end: int = 0
    history: list = None

    def record(self, result: "DedupeResult") -> None:
        self.runs += 1
        self.total_duplicates_removed += result.duplicates_removed
        self.total_rows_scanned += result.rows_in_window
        self.last_window_end = max(self.last_window_end, result.end)
        if self.history is None:
            self.history = []
        self.history.append(result)


class DedupeJob:
    """Incremental + full dedup over a DAY-partitioned parquet table.

    Table layout contract: partitioned by ``part_date`` (DATE), carries an
    epoch-seconds column ``ts_sec`` (the reference filters on
    UNIX_SECONDS(consensusTimestampTruncated) everywhere —
    GetDuplicatesTemplateQuery.java:35), a unique-key column and a tiebreak
    column.

    The window-advance protocol mirrors AbstractDeduplication.java:45-58 /
    IncrementalDeduplication.java:72-107 minus the streaming-buffer probe:
    start = saved end (inclusive: the filter column is not unique,
    IncrementalDeduplication.java:74-77), end = max available timestamp
    minus the lateness slack.
    """

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        state: StateStore,
        key: str = "consensus_timestamp",
        tiebreak: str | list[str] = "ingest_seq",
        lateness_slack_sec: int = 0,
    ):
        self.spark = spark
        self.table_path = table_path
        self.state = state
        self.key = key
        self.tiebreak = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak)
        self.lateness_slack_sec = lateness_slack_sec
        self.metrics = DedupeMetrics()

    @property
    def _use_delta(self) -> bool:
        return delta_available() and is_delta_table(self.table_path)

    def _heal_partitions(self) -> None:
        """Recover from a crash inside a previous ``_swap_partitions``:
        any partition whose live dir is missing but whose dot-prefixed
        ``.__old`` backup exists is renamed back, and fully-swapped
        leftovers (backup present AND live present) plus orphaned
        ``.__rewrite-*`` temp dirs are cleared.  Runs on every table
        read, so the crash window self-repairs on the next job run
        instead of requiring manual surgery (single-writer discipline,
        as documented on ``_swap_partitions``)."""
        import glob
        import shutil

        from hedera_etl_spark.fsutil import heal_partition_dirs

        heal_partition_dirs(self.table_path)
        for tmp in glob.glob(f"{self.table_path}.__rewrite-*"):
            shutil.rmtree(tmp, ignore_errors=True)

    def _read(self) -> DataFrame:
        if self._use_delta:
            return self.spark.read.format("delta").load(self.table_path)
        self._heal_partitions()
        return self.spark.read.parquet(self.table_path)

    def _window_end(self) -> int | None:
        """``max(ts_sec) - lateness_slack_sec`` (None for an empty table):
        from the part-file footers of the parquet table, by a scan when a
        row group lacks statistics, the table has no part file or it is
        Delta."""
        if self._use_delta:
            m = self._read().agg(F.max("ts_sec")).collect()[0][0]
        else:
            self._heal_partitions()
            try:
                m = footer_max(live_part_files(self.table_path), "ts_sec")
            except LookupError:
                m = self._read().agg(F.max("ts_sec")).collect()[0][0]
        if m is None:
            return None
        return int(m) - self.lateness_slack_sec

    def run_incremental(self) -> DedupeResult:
        state = self.state.read()
        start = int(state.get(INCREMENTAL_STATE_KEY, 0))
        end = self._window_end()
        if end is None or end < start:
            return DedupeResult(start, start, 0, 0)
        result = self._dedupe_window(start, end)
        self.state.upsert(INCREMENTAL_STATE_KEY, str(end))
        self.metrics.record(result)
        return result

    def run_full(self) -> DedupeResult:
        """Re-dedup all history below the incremental checkpoint — the
        24-hour safety net healing pathological lateness
        (FullDeduplication.java:30-54, window [0, incrementalEnd] at :68-75)."""
        state = self.state.read()
        end = int(state.get(INCREMENTAL_STATE_KEY, 0))
        result = self._dedupe_window(0, end)
        self.state.upsert(FULL_STATE_KEY, str(end))
        self.metrics.record(result)
        return result

    def _dedupe_window(self, start: int, end: int) -> DedupeResult:
        df = self._read()
        in_window = df.filter(F.col("ts_sec").between(start, end))
        # A1 detection + A5 row count + A6 excess fold + the partitions
        # holding a duplicated key, in ONE aggregate pass (the reference
        # issues three separate queries for the first three).  Only those
        # partitions are rewritten: the reference rewrites the whole range,
        # but at 100 TB write amplification dominates the rewrite.  The
        # touched-date list is bounded by the number of DAY partitions.
        key_counts = in_window.groupBy(self.key).agg(
            F.count("*").alias("num"), F.collect_set("part_date").alias("dates")
        )
        stats = key_counts.agg(
            F.coalesce(F.sum("num"), F.lit(0)).alias("n_rows"),
            F.coalesce(
                F.sum(F.when(F.col("num") > 1, F.col("num") - 1)), F.lit(0)
            ).alias("extra"),
            F.array_distinct(
                F.flatten(F.collect_set(F.when(F.col("num") > 1, F.col("dates"))))
            ).alias("touched"),
        ).collect()[0]
        n_rows, n_dups = int(stats["n_rows"]), int(stats["extra"])
        if n_dups == 0:
            # No-op fast path (AbstractDeduplication.java:109-111 only runs
            # the MERGE when duplicates exist).
            return DedupeResult(start, end, 0, n_rows)
        touched_dates = sorted(stats["touched"])

        # MERGE ON FALSE delete+insert == replace the touched partitions
        # with their deduped content (RemoveDuplicatesTemplateQuery.java:29-43).
        deduped = collapse_duplicates(
            in_window.filter(F.col("part_date").isin(touched_dates)),
            self.key,
            self.tiebreak,
        )
        # Outside-window rows in those partitions must be retained.  Rows
        # with NULL ts_sec would make the NOT-BETWEEN predicate NULL and
        # silently vanish from the rewrite — keep them explicitly.
        keep = df.filter(
            F.col("part_date").isin(touched_dates)
            & (~F.col("ts_sec").between(start, end) | F.col("ts_sec").isNull())
        )
        replacement = deduped.unionByName(keep)
        self._swap_partitions(replacement, touched_dates)
        return DedupeResult(start, end, n_dups, n_rows)

    def _swap_partitions(self, replacement: DataFrame, touched_dates: list) -> None:
        """Write the replacement partitions to a temp path, then swap the
        directories into the live table.

        This is the write-temp-then-rename commit pattern: the full
        replacement is durably on disk before any live partition is
        touched, so a failed write leaves the table untouched (a failed
        swap is re-runnable since the temp data persists).  Unlike an
        in-place dynamic-partition overwrite it never reads and rewrites
        the same files, so no lineage break (localCheckpoint) is needed —
        at 100 TB that previously materialized every touched partition in
        executor memory.  Single-writer discipline, same assumption as the
        reference's one scheduler thread (DedupeConfiguration.java:35);
        the production path on object storage is Delta replaceWhere.
        """
        import shutil
        import uuid

        if self._use_delta:
            # one ACID commit replacing exactly the touched partitions —
            # concurrent readers see either the old or the new snapshot,
            # never a half-swapped directory (the MERGE-equivalent path,
            # RemoveDuplicatesTemplateQuery.java:29-43)
            (
                replacement.write.format("delta")
                .mode("overwrite")
                .option("replaceWhere", replace_where_predicate(touched_dates))
                .save(self.table_path)
            )
            return

        tmp_path = f"{self.table_path}.__rewrite-{uuid.uuid4().hex[:8]}"
        replacement.write.mode("overwrite").partitionBy("part_date").parquet(tmp_path)
        # Per-partition: move the live dir aside (dot-prefixed so parquet
        # readers ignore it mid-swap), rename the replacement in, then drop
        # the old copy.  tmp_path is only removed after the WHOLE loop
        # succeeds — if any move raises, both the replacement data and every
        # not-yet-swapped live partition survive on disk for a re-run (the
        # previous version rmtree'd tmp in a finally block, which destroyed
        # the replacement for all unswapped partitions on a mid-loop
        # failure).
        from hedera_etl_spark.fsutil import old_sibling

        for entry in os.listdir(tmp_path):
            if not entry.startswith("part_date="):
                continue
            live = os.path.join(self.table_path, entry)
            old = old_sibling(live)
            if os.path.exists(old):
                # a prior crash left a backup: restore it if the live dir
                # is missing (NEVER delete the only copy), else it is a
                # fully-swapped leftover and can go
                if not os.path.exists(live):
                    os.rename(old, live)
                else:
                    shutil.rmtree(old, ignore_errors=True)
            if os.path.exists(live):
                os.rename(live, old)
            shutil.move(os.path.join(tmp_path, entry), live)
            shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp_path, ignore_errors=True)
