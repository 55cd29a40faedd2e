"""Measurement helpers shared by the workloads.

Everything here observes the program from outside: wall clocks around
public calls, Spark's public status APIs (``StatusTracker``,
``StreamingQuery.recentProgress``), the streaming checkpoint's file log,
directory listings and ``/proc``.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import time
from datetime import datetime


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
class Tracer:
    """In-memory spans (name, start, end, parent, run id), written once at
    the end of the run.  Disabled, every call is a no-op."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list = []

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = None, **attrs):
        if not self.enabled:
            yield attrs
            return
        start = time.time()
        try:
            yield attrs
        finally:
            self.add(name, start, time.time(), parent, **attrs)

    def add(self, name: str, start: float, end: float, parent: str | None = None, **attrs):
        if self.enabled:
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent,
                 "run_id": self.run_id, **attrs}
            )

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


# ---------------------------------------------------------------------------
# Spark job / stage / task counts
# ---------------------------------------------------------------------------
def job_group_counts(sc, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks of one job group, read from
    ``SparkContext.statusTracker()``.  A stage shared by several jobs
    (a skipped, reused shuffle stage) is counted once."""
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stages = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    tasks = failed = ran = 0
    for sid in stages:
        st = tracker.getStageInfo(sid)
        if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
            continue  # skipped: its tasks ran under the job that computed it
        ran += 1
        tasks += st.numCompletedTasks
        failed += st.numFailedTasks
    return {
        "jobs": len(job_ids),
        "stages": ran,
        "tasks": tasks,
        "failed_tasks": failed,
        "max_job_id": max(job_ids, default=-1),
        "max_stage_id": max(stages, default=-1),
    }


def merge_counts(counts: list) -> dict:
    """``job_group_counts`` of several job groups taken together."""
    out = {k: sum(c[k] for c in counts) for k in ("jobs", "stages", "tasks", "failed_tasks")}
    for k in ("max_job_id", "max_stage_id"):
        out[k] = max(c[k] for c in counts)
    return out


@contextlib.contextmanager
def job_group(sc, group: str, enabled: bool):
    """Tag the jobs the calling thread submits with ``group`` (traced runs
    only; the untraced run leaves the thread's properties alone)."""
    if not enabled:
        yield
        return
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def retention_covers(sc, counts: list) -> bool:
    """True when no job or stage of this SparkContext can have been evicted
    from the status store: job and stage ids start at 0 per context, so the
    highest ids seen bound the numbers ever submitted."""
    conf = sc.getConf()
    retained_jobs = int(conf.get("spark.ui.retainedJobs", "1000"))
    retained_stages = int(conf.get("spark.ui.retainedStages", "1000"))
    max_job = max((c["max_job_id"] for c in counts), default=-1)
    max_stage = max((c["max_stage_id"] for c in counts), default=-1)
    return max_job + 1 <= retained_jobs and max_stage + 1 <= retained_stages


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------
def progress_records(query, spark) -> list:
    """``recentProgress`` of the micro-batches that ran, as plain dicts with
    epoch ``start``/``end``.  Progress reported while an idle query polls
    for data (no ``addBatch``) is left out.  Raises when the buffer is
    full, as the oldest batches may then have been dropped from it."""
    recent = query.recentProgress
    cap = int(spark.conf.get("spark.sql.streaming.numRecentProgressUpdates"))
    if len(recent) >= cap:
        raise RuntimeError(
            f"recentProgress holds {len(recent)} updates, its limit: early micro-batches "
            "may be missing; raise spark.sql.streaming.numRecentProgressUpdates")
    out = []
    for p in recent:
        d = json.loads(p.json) if hasattr(p, "json") else dict(p)
        if "addBatch" not in d["durationMs"]:
            continue
        start = datetime.fromisoformat(d["timestamp"].replace("Z", "+00:00")).timestamp()
        d["start"] = start
        d["end"] = start + d["durationMs"].get("triggerExecution", 0) / 1000.0
        out.append(d)
    return out


def source_file_offsets(checkpoint: str) -> dict:
    """Input file basename -> file-source log offset, from the source's
    metadata log in the checkpoint (``sources/0``; a compacted log file
    carries every earlier entry too).  The offset counts source batches,
    which differ from query batch ids once a no-data batch has run."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def _log_offset(offset) -> int:
    if offset is None:
        return -1
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int(offset["logOffset"])


def file_batches(checkpoint: str, progress: list) -> dict:
    """Input file basename -> the progress record of the micro-batch that
    read it: the batch whose file-source offset range holds the file's
    offset."""
    ranges = [
        (_log_offset(p["sources"][0]["startOffset"]), _log_offset(p["sources"][0]["endOffset"]), p)
        for p in progress if p["numInputRows"] > 0
    ]
    out = {}
    for name, off in source_file_offsets(checkpoint).items():
        for lo, hi, p in ranges:
            if lo < off <= hi:
                out[name] = p
                break
    return out


def committed_source_offset(checkpoint: str) -> int:
    """File-source offset covered by the latest committed micro-batch, from
    the checkpoint's ``commits`` and ``offsets`` logs (-1 before any)."""
    commits = os.path.join(checkpoint, "commits")
    ids = [int(n) for n in os.listdir(commits) if n.isdigit()] if os.path.isdir(commits) else []
    if not ids:
        return -1
    with open(os.path.join(checkpoint, "offsets", str(max(ids)))) as fh:
        lines = [line for line in fh.read().splitlines() if line.startswith("{")]
    return _log_offset(lines[-1]) if len(lines) > 1 else -1


# ---------------------------------------------------------------------------
# listings, memory, stats
# ---------------------------------------------------------------------------
def dir_stats(path: str, prefix: str = "") -> dict:
    """Visible subdirectories (optionally by name prefix), data files and
    bytes under ``path``; dot- and underscore-names are skipped like the
    readers skip them."""
    parts = files = size = 0
    if not os.path.isdir(path):
        return {"dirs": 0, "files": 0, "bytes": 0}
    for entry in os.listdir(path):
        if entry.startswith((".", "_")):
            continue
        full = os.path.join(path, entry)
        if os.path.isdir(full):
            if entry.startswith(prefix):
                parts += 1
            for root, dnames, fnames in os.walk(full):
                dnames[:] = [d for d in dnames if not d.startswith((".", "_"))]
                for f in fnames:
                    if not f.startswith((".", "_")):
                        files += 1
                        size += os.path.getsize(os.path.join(root, f))
        elif entry.startswith(prefix):
            files += 1
            size += os.path.getsize(full)
    return {"dirs": parts, "files": files, "bytes": size}


def partition_files(table: str) -> dict:
    """``part_date=...`` dir -> sorted tuple of its data file names."""
    out = {}
    if not os.path.isdir(table):
        return out
    for entry in os.listdir(table):
        if entry.startswith("part_date="):
            full = os.path.join(table, entry)
            out[entry] = tuple(sorted(f for f in os.listdir(full) if f.endswith(".parquet")))
    return out


def _proc_tree(root_pid: int) -> list:
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of the Python driver and its
    JVM.  Python workers are left out: how many of them are alive when
    this is read varies from run to run."""
    total_kb = 0
    me = os.getpid()
    for pid in _proc_tree(me):
        try:
            if pid != me:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() != "java":
                        continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def percentile(values: list, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return s[k - 1]


def median(values: list) -> float:
    return statistics.median(values)


def mean(values: list) -> float:
    return statistics.fmean(values)


def wait_until(pred, timeout: float, what: str, poll: float = 0.05):
    deadline = time.time() + timeout
    while True:
        v = pred()
        if v:
            return v
        if time.time() > deadline:
            raise TimeoutError(f"timed out after {timeout:.0f}s waiting for {what}")
        time.sleep(poll)


def read_jsonl(path: str) -> list:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]
