"""Seeded Hedera transaction load generator.

Two roles:

- a library: ``backfill_plan`` and ``live_plan`` derive every line the
  benchmark feeds the ingest pipeline from ``--seed`` alone, together
  with the expected end state (keys, fee sum, malformed lines) that the
  correctness check compares the table against;
- a single separate process (``python3 hedera_gen.py --seed N --files F
  --out DIR --log LOG``) that publishes live files ``1 .. F-1`` open-loop
  (file 0 is the warm-up file, which the benchmark writes itself before
  the backfill): file ``i`` is due at ``start + (i - 1) * LIVE_INTERVAL_S``
  whatever the system under test is doing, each file is written under a
  hidden name and renamed into the watched directory (atomic publish), and
  every file's due time, publish time and line count go to a JSON-lines
  log.

Line shape follows ``queries/txops.py:tx_json_corpus``: a numeric
``consensusTimestamp`` (nanoseconds), quoted int64 fee and amounts, a
nested transfer list summing to zero and one unknown field.

Shares are exact per seed, not drawn per line:

- backfill: ``round(n * 0.01)`` malformed lines, ``round(n * 0.05)``
  replays of distinct valid keys taken from ``REPLAY_DAYS`` of the
  ``DAYS`` DAY partitions;
- live: ``round(lines * 0.05)`` in-window replays of earlier live keys in
  every file, and ``round(total * 0.005)`` late redeliveries of distinct
  backfill keys spread over files ``1 ..``.  Late keys are older than the
  newest backfill second, so they sit below the incremental dedupe
  window and only ``run_full`` heals them.  File 0 carries none: it is
  committed before the backfill, so a backfill key in it would reach the
  table first and the catch-up dedupe would remove its backfill copy.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import zlib
from dataclasses import dataclass

NS = 1_000_000_000
DAY_S = 86_400
#: first DAY partition of the backfill: 2019-10-12 00:00 UTC
BASE_S = 18_181 * DAY_S
DAYS = 30
REPLAY_DAYS = 20
MALFORMED_SHARE = 0.01
BACKFILL_REPLAY_SHARE = 0.05
LIVE_REPLAY_SHARE = 0.05
LATE_SHARE = 0.005
BACKFILL_LINES = 20_000
BACKFILL_FILES = 12
LIVE_LINES_PER_FILE = 50
LIVE_INTERVAL_S = 0.05  # 50 lines every 50 ms: 1,000 tx/s


def tx_line(ts_ns: int, seq: int, fee: int) -> str:
    acct = 1001 + seq % 5000
    amount = 1 + seq % 997
    return json.dumps(
        {
            "consensusTimestamp": ts_ns,
            "transactionType": 7 + seq % 21,
            "transaction": {"body": {"transactionFee": str(fee), "memo": f"m{seq}"}},
            "transactionRecord": {
                "transferList": {
                    "accountAmounts": [
                        {
                            "accountID": {"shardNum": "0", "realmNum": "0", "accountNum": str(acct)},
                            "amount": str(amount),
                        },
                        {
                            "accountID": {"shardNum": "0", "realmNum": "0", "accountNum": "98"},
                            "amount": str(-amount),
                        },
                    ]
                }
            },
            "generateRecord": True,
        },
        separators=(",", ":"),
    )


@dataclass
class Tx:
    ts_ns: int
    fee: int
    line: str

    @property
    def ts_sec(self) -> int:
        return self.ts_ns // NS


@dataclass
class BackfillPlan:
    files: list  # list[list[str]]
    unique: list  # list[Tx], ordered by key
    replayed: list  # list[Tx]
    malformed: list  # list[str]
    replay_days: list  # list[int]

    @property
    def n_lines(self) -> int:
        return sum(len(f) for f in self.files)

    @property
    def max_ts_sec(self) -> int:
        return self.unique[-1].ts_sec


@dataclass
class LivePlan:
    files: list  # list[list[str]], in publish order
    new: list  # list[Tx]: first-seen live keys
    late: list  # list[Tx]: backfill keys redelivered late
    late_per_file: list  # list[int]

    @property
    def n_lines(self) -> int:
        return sum(len(f) for f in self.files)


def backfill_plan(seed: int, n_lines: int, n_files: int) -> BackfillPlan:
    rng = random.Random(f"hedera-backfill-{seed}")
    n_malformed = round(n_lines * MALFORMED_SHARE)
    n_replay = round(n_lines * BACKFILL_REPLAY_SHARE)
    n_unique = n_lines - n_malformed - n_replay
    # keys spread evenly over DAYS partitions; each key owns a disjoint
    # slot of the span, so keys are unique and ordered by index
    slot = DAYS * DAY_S * NS // n_unique
    unique = []
    for i in range(n_unique):
        ts = BASE_S * NS + i * slot + rng.randrange(slot)
        fee = rng.randrange(10_000, 2_000_000)
        unique.append(Tx(ts, fee, tx_line(ts, i, fee)))
    replay_days = sorted(rng.sample(range(DAYS), REPLAY_DAYS))
    day_set = set(replay_days)
    candidates = [t for t in unique if (t.ts_sec - BASE_S) // DAY_S in day_set]
    replayed = rng.sample(candidates, n_replay)
    malformed = []
    for j in range(n_malformed):
        ts = BASE_S * NS + rng.randrange(DAYS * DAY_S * NS)
        whole = tx_line(ts, n_unique + j, rng.randrange(10_000, 2_000_000))
        malformed.append(whole[: len(whole) // 2])
    lines = [t.line for t in unique] + [t.line for t in replayed] + malformed
    rng.shuffle(lines)
    per = -(-len(lines) // n_files)
    files = [lines[k * per : (k + 1) * per] for k in range(n_files)]
    return BackfillPlan(files, unique, replayed, malformed, replay_days)


def live_plan(
    seed: int, backfill: BackfillPlan, n_files: int, lines_per_file: int
) -> LivePlan:
    rng = random.Random(f"hedera-live-{seed}")
    total = n_files * lines_per_file
    n_rep = round(lines_per_file * LIVE_REPLAY_SHARE)
    n_late = round(total * LATE_SHARE)
    # late keys must lie strictly below the newest backfill second: the
    # incremental window starts at that second inclusively
    old = [t for t in backfill.unique if t.ts_sec < backfill.max_ts_sec]
    late = rng.sample(old, n_late)
    late_per_file = [0] * n_files
    # file 0 (the warm-up file) carries no late key
    for k in rng.sample(range(lines_per_file, total), n_late):
        late_per_file[k // lines_per_file] += 1
    # live keys continue in the DAY partition after the backfill
    base_ns = (BASE_S + DAYS * DAY_S) * NS
    step = 1_000_000  # 1 ms of consensus time per new live key
    new: list = []
    files = []
    late_iter = iter(late)
    for f in range(n_files):
        n_late_f = late_per_file[f]
        n_new = lines_per_file - n_rep - n_late_f
        fresh = []
        for _ in range(n_new):
            seq = len(new)
            ts = base_ns + seq * step + rng.randrange(step)
            fee = rng.randrange(10_000, 2_000_000)
            tx = Tx(ts, fee, tx_line(ts, 10_000_000 + seq, fee))
            new.append(tx)
            fresh.append(tx)
        # replays of live keys already published or in this very file
        window = new[max(0, len(new) - 4 * lines_per_file) :]
        lines = [t.line for t in fresh]
        lines += [rng.choice(window).line for _ in range(n_rep)]
        lines += [next(late_iter).line for _ in range(n_late_f)]
        rng.shuffle(lines)
        files.append(lines)
    return LivePlan(files, new, late, late_per_file)


def crc_sum(lines) -> int:
    """Order-free digest of a multiset of lines (Spark: ``sum(crc32(col))``)."""
    return sum(zlib.crc32(s.encode()) for s in lines)


def _render(lines: list) -> str:
    return "\n".join(lines) + "\n"


def _atomic_write(path: str, body: str) -> None:
    """Write under a hidden sibling name, then rename: file-stream sources
    skip dot-files, so readers never see a half-written file."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp")
    with open(tmp, "w") as fh:
        fh.write(body)
    os.rename(tmp, path)


def write_file(path: str, lines: list) -> None:
    _atomic_write(path, _render(lines))


def publish(files: list, names: list, out_dir: str, interval: float, log_path: str) -> None:
    """Open-loop publish: file ``i`` is due at ``start + i * interval``,
    where ``start`` is fixed once every file body is rendered.  A late
    publish never shifts the schedule of the files after it."""
    bodies = [_render(lines) for lines in files]
    start = time.time() + 0.05
    records = []
    for i, (body, name) in enumerate(zip(bodies, names)):
        due = start + i * interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        _atomic_write(os.path.join(out_dir, name), body)
        records.append(
            {"file": name, "due": due, "published": time.time(), "lines": len(files[i])}
        )
    with open(log_path, "w") as fh:
        for r in records:
            fh.write(json.dumps(r) + "\n")


def live_file_name(index: int) -> str:
    return f"live-{index:05d}.json"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="publish the live files 1 .. FILES-1 open-loop")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--files", type=int, required=True, help="live files, warm-up file 0 included")
    p.add_argument("--out", required=True)
    p.add_argument("--log", required=True)
    a = p.parse_args(argv)
    bf = backfill_plan(a.seed, BACKFILL_LINES, BACKFILL_FILES)
    plan = live_plan(a.seed, bf, a.files, LIVE_LINES_PER_FILE)
    idx = range(1, a.files)
    publish(
        [plan.files[i] for i in idx],
        [live_file_name(i) for i in idx],
        a.out,
        LIVE_INTERVAL_S,
        a.log,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
