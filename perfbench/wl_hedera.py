"""Workload ``hedera_two_tier``: the paper's product, stream plus healer.

1. Live query: an ``IngestPipeline`` with defaults starts first and
   commits one warm-up file (a query's first micro-batch carries one-off
   planning and code generation).  It then idles through steps 2-3, as an
   always-on stream does while the healer runs.
2. Backfill: an at-least-once bulk replay that arrives as three groups of
   files, each drained by one availableNow run of a second
   ``IngestPipeline`` with ``dedupe_in_stream=False`` (tier 0 off).  The
   first drain compiles that query's plans and is not in the rate.
3. Catch-up: ``DedupeJob.run_incremental`` heals the backfill replays.
4. Live files: ``hedera_gen.py``, a separate process, publishes the
   measured files open-loop.  Once every file is committed and the live
   query is idle, ``run_incremental`` runs.
5. ``run_full`` heals the late redeliveries below the incremental window.

Dedupe never overlaps a stream append: the parquet partition swap in
``DedupeJob._swap_partitions`` is single-writer, so every dedupe call
waits until the live query has committed every published file and is idle.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import harness as H
import hedera_gen as G

KEY = "consensusTimestamp"
#: the backfill arrives as this many equal groups of files, each drained
#: by its own availableNow run; the per-layer drain rate leaves out the
#: first ``WARMUP_DRAINS``, whose query plans are still being compiled
BACKFILL_DRAINS = 3
WARMUP_DRAINS = 1


def _timed_state_store(base_cls, timings: dict):
    class TimedStateStore(base_cls):
        """``StateStore`` whose read/upsert wall times are recorded from
        outside (the object ``DedupeJob`` is given)."""

        def read(self):
            t0 = time.perf_counter()
            try:
                return super().read()
            finally:
                timings.setdefault("read", []).append(time.perf_counter() - t0)

        def upsert(self, name, value):
            t0 = time.perf_counter()
            try:
                return super().upsert(name, value)
            finally:
                timings.setdefault("upsert", []).append(time.perf_counter() - t0)

    return TimedStateStore


class HederaTwoTier:
    name = "hedera_two_tier"

    def __init__(self, ctx):
        self.ctx = ctx
        # live file 0 is the warm-up file; the rest are latency samples
        self.n_live_files = 1 + max(1, round(ctx.seconds / G.LIVE_INTERVAL_S))
        self.layer: dict = {}
        self.checks: dict = {}
        self.attempted = 0
        self.failed = 0
        self.state_timings: dict = {}

    # -- set-up ----------------------------------------------------------
    def stage(self, root: str) -> dict:
        """Make the inputs from the seed, write the backfill and build the
        pipeline objects under ``root``."""
        from hedera_etl_spark.operators.dedupe import DedupeJob, StateStore
        from hedera_etl_spark.streaming.ingest import IngestPipeline

        spark = self.ctx.spark
        self.bf = G.backfill_plan(self.ctx.seed, G.BACKFILL_LINES, G.BACKFILL_FILES)
        self.live = G.live_plan(self.ctx.seed, self.bf, self.n_live_files, G.LIVE_LINES_PER_FILE)
        d = {k: os.path.join(root, k) for k in ("staged", "backfill", "live", "table", "errors",
                                                 "ckpt_bf", "ckpt_live", "state", "gen")}
        for k in ("staged", "backfill", "live", "gen"):
            os.makedirs(d[k])
        for i, lines in enumerate(self.bf.files):
            G.write_file(os.path.join(d["staged"], f"bf-{i:03d}.json"), lines)
        self.state_timings.clear()
        store_cls = _timed_state_store(StateStore, self.state_timings) if self.ctx.trace else StateStore
        d["bf_pipe"] = IngestPipeline(
            spark, d["backfill"], d["table"], d["errors"], d["ckpt_bf"], dedupe_in_stream=False
        )
        d["live_pipe"] = IngestPipeline(spark, d["live"], d["table"], d["errors"], d["ckpt_live"])
        d["job"] = DedupeJob(spark, d["table"], store_cls(spark, d["state"]), key=KEY, tiebreak=KEY)
        return d

    # -- measured phase ----------------------------------------------------
    def run(self, d: dict) -> dict:
        ctx, tr = self.ctx, self.ctx.tracer
        sc = ctx.spark.sparkContext

        # 1. live query and its warm-up file
        q = d["live_pipe"].start(available_now=False)
        H.wait_until(lambda: "Waiting" in q.status["message"], 60, "live query start")
        with tr.span("streaming.ingest.warmup", parent="measure"):
            warm = G.live_file_name(0)
            G.write_file(os.path.join(d["live"], warm), self.live.files[0])
            self._wait_idle(q, d["ckpt_live"], {warm})
        warm_last = q.lastProgress["batchId"]

        # 2. backfill drains: each group of files is moved into the input
        # dir (rename: atomic) and drained by one availableNow run
        lines, walls, bf_prog, bf_runs = [], [], [], []
        for k in range(BACKFILL_DRAINS):
            group = range(k, len(self.bf.files), BACKFILL_DRAINS)
            for i in group:
                name = f"bf-{i:03d}.json"
                os.rename(os.path.join(d["staged"], name), os.path.join(d["backfill"], name))
            with tr.span("streaming.ingest.backfill", parent="measure", drain=k):
                t0 = time.perf_counter()
                bq = d["bf_pipe"].start(available_now=True)
                if not bq.awaitTermination(150):
                    raise TimeoutError("backfill drain did not finish")
                drain_s = time.perf_counter() - t0
            if bq.exception() is not None:
                raise RuntimeError(f"backfill query failed: {bq.exception()}")
            lines.append(sum(len(self.bf.files[i]) for i in group))
            walls.append(drain_s)
            prog = H.progress_records(bq, ctx.spark)
            bf_prog += prog
            bf_runs.append(str(bq.runId))
            self.attempted += 1 + len(prog)
        bf_counts = H.merge_counts([H.job_group_counts(sc, r) for r in bf_runs]) \
            if ctx.trace else None
        self._expect("backfill_rows", d["bf_pipe"].metrics.valid_rows,
                     len(self.bf.unique) + len(self.bf.replayed))
        self._expect("backfill_errors", d["bf_pipe"].metrics.error_rows, len(self.bf.malformed))
        after_bf = H.dir_stats(d["table"], "part_date=")

        # 3. catch-up (the live query is idle)
        catchup = self._dedupe(d, "catchup", "run_incremental")
        self._expect("catchup_duplicates", catchup["result"].duplicates_removed, len(self.bf.replayed))
        self._expect("catchup_partitions", catchup["partitions_rewritten"],
                     len({(t.ts_sec - G.BASE_S) // G.DAY_S for t in self.bf.replayed}))

        # 4. open-loop live files, then an incremental
        log = os.path.join(d["gen"], "live.jsonl")
        count = self.n_live_files - 1
        with tr.span("generator.live", parent="measure", files=count):
            subprocess.run(
                [sys.executable, os.path.join(ctx.bench_dir, "hedera_gen.py"),
                 "--seed", str(ctx.seed), "--files", str(self.n_live_files),
                 "--out", d["live"], "--log", log],
                check=True, timeout=60 + count * G.LIVE_INTERVAL_S,
            )
        gen_log = H.read_jsonl(log)
        with tr.span("streaming.ingest.drain_wait", parent="measure"):
            self._wait_idle(q, d["ckpt_live"], {r["file"] for r in gen_log})
        incremental = self._dedupe(d, "incremental", "run_incremental")
        self._expect("incremental_duplicates", incremental["result"].duplicates_removed, 0)
        q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"live query failed: {q.exception()}")
        live_prog = H.progress_records(q, ctx.spark)
        live_counts = H.job_group_counts(sc, str(q.runId)) if ctx.trace else None
        self.attempted += 1 + len(live_prog)
        after_live = H.dir_stats(d["table"], "part_date=")

        # 5. full dedupe heals the late redeliveries
        full = self._dedupe(d, "full", "run_full")
        self._expect("full_duplicates", full["result"].duplicates_removed, len(self.live.late))

        self._check_table(d)
        self._expect("live_rows_in", sum(p["numInputRows"] for p in live_prog), self.live.n_lines)
        self._expect("live_valid_rows", d["live_pipe"].metrics.valid_rows,
                     len(self.live.new) + len(self.live.late))

        # latency per live file: due -> end of the trigger that committed it
        file_batch = H.file_batches(d["ckpt_live"], live_prog)
        missing = [r["file"] for r in gen_log if r["file"] not in file_batch]
        if missing:
            raise RuntimeError(f"no micro-batch read live files {missing[:3]}")
        lags = [file_batch[r["file"]]["end"] - r["due"] for r in gen_log]
        measured = [p for p in live_prog if p["numInputRows"] > 0 and p["batchId"] > warm_last]
        # the closed-loop work: ingest the backfill and heal the table (the
        # live segment runs on the generator's clock, so it is left out)
        dedupe_s = catchup["wall"] + incremental["wall"] + full["wall"]
        e2e = {"work_s": sum(walls) + dedupe_s}
        self.samples = {"live_lag": len(lags), "live_batches": len(measured),
                        "backfill_drain_s": walls, "dedupe_s": dedupe_s}
        if ctx.trace:
            L = self.layer
            L["streaming.ingest.backfill.warmup_rate"] = \
                sum(lines[:WARMUP_DRAINS]) / sum(walls[:WARMUP_DRAINS])
            L["streaming.ingest.backfill.rate"] = \
                sum(lines[WARMUP_DRAINS:]) / sum(walls[WARMUP_DRAINS:])
            L["operators.dedupe.total_s"] = dedupe_s
            self._layers(d, bf_prog, bf_counts, live_prog, live_counts, measured, file_batch,
                         gen_log, lags, {"catchup": catchup, "incremental": incremental,
                                         "full": full}, after_bf, after_live)
        return e2e

    # -- helpers ---------------------------------------------------------
    def _expect(self, name, got, want) -> None:
        self.checks[name] = (got, want)
        if got != want:
            self.failed += 1

    def _wait_idle(self, q, ckpt: str, files: set) -> None:
        """Block until every file in ``files`` is in a committed micro-batch
        and the query has run the no-data batch that follows (or 1 s has
        passed without one)."""
        def committed():
            offsets = H.source_file_offsets(ckpt)
            return all(f in offsets for f in files) and \
                max(offsets[f] for f in files) <= H.committed_source_offset(ckpt)
        H.wait_until(committed, 120, "live files to commit")
        t_done = time.time()

        def idle():
            if q.status["isTriggerActive"]:
                return False
            last = q.lastProgress
            return (last is not None and last["numInputRows"] == 0) or time.time() - t_done > 1.0
        H.wait_until(idle, 60, "live query to go idle")
        if q.exception() is not None:
            raise RuntimeError(f"live query failed: {q.exception()}")

    def _dedupe(self, d, tag: str, method: str) -> dict:
        """Run one ``DedupeJob`` call; partitions rewritten come from
        listings of the table before and after."""
        ctx, sc = self.ctx, self.ctx.spark.sparkContext
        before = H.partition_files(d["table"])
        n_read = len(self.state_timings.get("read", []))
        n_up = len(self.state_timings.get("upsert", []))
        group = f"perfbench-dedupe-{tag}"
        with ctx.tracer.span(f"operators.dedupe.{tag}", parent="measure"), \
                H.job_group(sc, group, ctx.trace):
            t0 = time.perf_counter()
            res = getattr(d["job"], method)()
            wall = time.perf_counter() - t0
        self.attempted += 1
        after = H.partition_files(d["table"])
        rewritten = [p for p in after if p in before and after[p] != before[p]]
        info = {"result": res, "wall": wall, "partitions_rewritten": len(rewritten)}
        if ctx.trace:
            c = info["counts"] = H.job_group_counts(sc, group)
            rows_rewritten = 0
            if rewritten:
                paths = [os.path.join(d["table"], p) for p in rewritten]
                rows_rewritten = ctx.spark.read.parquet(*paths).count()
            info["layer"] = {
                "s": wall,
                "window_rows": res.rows_in_window,
                "duplicates_removed": res.duplicates_removed,
                "partitions_rewritten": len(rewritten),
                "rows_rewritten": rows_rewritten,
                "rewrite_useful_ratio": res.duplicates_removed / rows_rewritten if rows_rewritten else 0.0,
                "jobs": c["jobs"],
                "tasks": c["tasks"],
                "state_read_s": sum(self.state_timings.get("read", [])[n_read:]),
                "state_upsert_s": sum(self.state_timings.get("upsert", [])[n_up:]),
            }
        return info

    def _check_table(self, d) -> None:
        """After ``run_full``: one row per generated valid key, the
        generator's fee sum, and every malformed line in the errors table."""
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        with self.ctx.tracer.span("check.table", parent="run"):
            row = spark.read.parquet(d["table"]).agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct(KEY).alias("keys"),
                F.sum("transaction.body.transactionFee").alias("fees"),
            ).collect()[0]
            err = spark.read.parquet(d["errors"]).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.crc32(F.col("table_row").cast("binary"))).alias("crc"),
            ).collect()[0]
        keys = self.bf.unique + self.live.new
        self._expect("table_rows", row["n"], len(keys))
        self._expect("table_keys", row["keys"], len(keys))
        self._expect("table_fee_sum", row["fees"], sum(t.fee for t in keys))
        self._expect("errors_rows", err["n"], len(self.bf.malformed))
        self._expect("errors_crc_sum", err["crc"], G.crc_sum(self.bf.malformed))

    def _layers(self, d, bf_prog, bf_counts, live_prog, live_counts, measured, file_batch,
                gen_log, lags, dedupes, after_bf, after_live):
        from pyspark.sql import functions as F

        from hedera_etl_spark.transform import parse_transactions

        L, tr = self.layer, self.ctx.tracer
        for p in bf_prog + live_prog:
            tr.add("streaming.ingest.microbatch", p["start"], p["end"], parent="measure",
                   query=p["runId"], batch=p["batchId"], rows=p["numInputRows"],
                   durationMs=p["durationMs"])
        for r, lag in zip(gen_log, lags):
            tr.add("generator.file", r["due"], r["due"] + lag, parent="measure",
                   file=r["file"], batch=file_batch[r["file"]]["batchId"],
                   published=r["published"])

        def p50(key):
            return H.median([p["durationMs"].get(key, 0) / 1000 for p in measured])

        ing = "streaming.ingest."
        n = len(live_prog)
        m = d["live_pipe"].metrics
        L[ing + "batches"] = n
        L[ing + "empty_batches"] = sum(1 for p in live_prog if p["numInputRows"] == 0)
        L[ing + "empty_batch_ratio"] = L[ing + "empty_batches"] / n
        L[ing + "trigger_s_p50"] = p50("triggerExecution")
        L[ing + "add_batch_s_p50"] = p50("addBatch")
        L[ing + "latest_offset_s_p50"] = p50("latestOffset")
        L[ing + "wal_commit_s_p50"] = p50("walCommit")
        L[ing + "queue_wait_s_p50"] = H.percentile(
            [file_batch[r["file"]]["start"] - r["due"] for r in gen_log], 50)
        L[ing + "jobs_per_batch"] = live_counts["jobs"] / n
        L[ing + "tasks_per_batch"] = live_counts["tasks"] / n
        L[ing + "failed_tasks"] = live_counts["failed_tasks"] + bf_counts["failed_tasks"]
        L[ing + "rows_in"] = self.live.n_lines
        L[ing + "valid_rows"] = m.valid_rows
        L[ing + "error_rows"] = m.error_rows
        L[ing + "replays_collapsed"] = self.live.n_lines - m.valid_rows - m.error_rows
        L[ing + "lag_samples"] = len(lags)
        L[ing + "commit_lag_p50_s"] = H.percentile(lags, 50)
        L[ing + "commit_lag_p90_s"] = H.percentile(lags, 90)
        L[ing + "backfill.jobs"] = bf_counts["jobs"]
        L[ing + "backfill.tasks"] = bf_counts["tasks"]

        # open loop: files published but not yet committed, at each publish
        commits = [file_batch[r["file"]]["end"] for r in gen_log]
        L["generator.backlog_files_max"] = max(
            sum(1 for x in gen_log if x["published"] <= r["published"])
            - sum(1 for c in commits if c <= r["published"])
            for r in gen_log
        )
        L["generator.late_s_max"] = max(r["published"] - r["due"] for r in gen_log)
        L["generator.files"] = len(gen_log)

        for tag, info in dedupes.items():
            for k, v in info["layer"].items():
                L[f"operators.dedupe.{tag}.{k}"] = v
        L["operators.dedupe.state_read_s"] = H.median(self.state_timings["read"])
        L["operators.dedupe.state_upsert_s"] = H.median(self.state_timings["upsert"])
        for tag, st in (("after_backfill", after_bf), ("after_live", after_live)):
            L[f"table.{tag}.partitions"] = st["dirs"]
            L[f"table.{tag}.files"] = st["files"]
            L[f"table.{tag}.bytes"] = st["bytes"]
        counts = [i["counts"] for i in dedupes.values()] + [live_counts, bf_counts]
        L["spark.retention_ok"] = int(H.retention_covers(self.ctx.spark.sparkContext, counts))

        # transform layer alone: parse the backfill lines, every column hashed
        spark = self.ctx.spark
        with tr.span("transform.parse_transactions", parent="run"):
            t0 = time.perf_counter()
            typed, errors = parse_transactions(spark.read.text(d["backfill"]))
            n_typed = typed.select(F.xxhash64(*typed.columns).alias("h")).agg(
                F.count("h"), F.expr("bit_xor(h)")).collect()[0][0]
            n_err = errors.count()
            parse_s = time.perf_counter() - t0
        self._expect("parse_rows", n_typed + n_err, self.bf.n_lines)
        L["transform.parse_tx_per_s"] = self.bf.n_lines / parse_s
