"""Pins the load generator: shares exact per seed, deterministic plans,
atomic publish and an open-loop schedule.

    python3 -m pytest perfbench/test_hedera_gen.py -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import hedera_gen as G  # noqa: E402

N_LINES, N_FILES = 4_000, 4
LIVE_FILES, LIVE_LINES = 12, 200


def _key(line: str) -> int:
    return json.loads(line)["consensusTimestamp"]


def test_backfill_shares_are_exact():
    bf = G.backfill_plan(7, N_LINES, N_FILES)
    lines = [x for f in bf.files for x in f]
    assert len(lines) == N_LINES and len(bf.files) == N_FILES
    assert len(bf.malformed) == round(N_LINES * G.MALFORMED_SHARE)
    assert len(bf.replayed) == round(N_LINES * G.BACKFILL_REPLAY_SHARE)
    assert len(bf.unique) == N_LINES - len(bf.malformed) - len(bf.replayed)
    # malformed lines do not parse; every other line is a known key
    for m in bf.malformed:
        try:
            json.loads(m)
        except ValueError:
            continue
        raise AssertionError(f"malformed line parses: {m}")
    keys = [t.ts_ns for t in bf.unique]
    assert len(set(keys)) == len(keys)
    days = {(t.ts_sec - G.BASE_S) // G.DAY_S for t in bf.unique}
    assert days == set(range(G.DAYS))
    # replays: distinct keys, all inside the replay days
    replay_days = {(t.ts_sec - G.BASE_S) // G.DAY_S for t in bf.replayed}
    assert replay_days <= set(bf.replay_days) and len(bf.replay_days) == G.REPLAY_DAYS
    assert len({t.ts_ns for t in bf.replayed}) == len(bf.replayed)
    valid = [x for x in lines if x not in set(bf.malformed)]
    assert len(valid) - len({_key(x) for x in valid}) == len(bf.replayed)


def test_live_shares_are_exact():
    bf = G.backfill_plan(7, N_LINES, N_FILES)
    live = G.live_plan(7, bf, LIVE_FILES, LIVE_LINES)
    n_rep = round(LIVE_LINES * G.LIVE_REPLAY_SHARE)
    assert len(live.files) == LIVE_FILES
    assert all(len(f) == LIVE_LINES for f in live.files)
    assert len(live.late) == round(LIVE_FILES * LIVE_LINES * G.LATE_SHARE)
    assert sum(live.late_per_file) == len(live.late)
    # the warm-up file is committed before the backfill: no late key in it
    assert live.late_per_file[0] == 0
    backfill_keys = {t.ts_ns for t in bf.unique}
    late_keys = {t.ts_ns for t in live.late}
    # late redeliveries: distinct backfill keys below the incremental window
    assert len(late_keys) == len(live.late) and late_keys <= backfill_keys
    assert all(t.ts_sec < bf.max_ts_sec for t in live.late)
    seen: set = set()
    for f, lines in enumerate(live.files):
        keys = [_key(x) for x in lines]
        assert sum(k in late_keys for k in keys) == live.late_per_file[f]
        fresh = [k for k in keys if k not in late_keys and k not in seen]
        # replays repeat a live key published earlier or in this file
        assert len(keys) - live.late_per_file[f] - len(set(fresh)) == n_rep
        seen.update(fresh)
    assert len(seen) == len(live.new)
    # live keys sort after every backfill key
    assert min(t.ts_ns for t in live.new) > max(backfill_keys)


def test_plans_are_deterministic_per_seed():
    a = G.backfill_plan(3, N_LINES, N_FILES)
    b = G.backfill_plan(3, N_LINES, N_FILES)
    c = G.backfill_plan(4, N_LINES, N_FILES)
    assert a.files == b.files and a.files != c.files
    assert G.live_plan(3, a, 4, 50).files == G.live_plan(3, b, 4, 50).files


def test_warm_up_file_never_carries_a_late_key():
    bf = G.backfill_plan(11, N_LINES, N_FILES)
    for seed in range(40):
        # five late keys among 1,000 lines: a draw over every line would
        # put one in file 0 for about two seeds in three
        live = G.live_plan(seed, bf, 5, LIVE_LINES)
        assert sum(live.late_per_file) == 5 and live.late_per_file[0] == 0


def test_cli_publishes_files_after_the_warm_up_file(tmp_path):
    out, log = tmp_path / "live", tmp_path / "live.jsonl"
    out.mkdir()
    assert G.main(["--seed", "5", "--files", "4", "--out", str(out), "--log", str(log)]) == 0
    bf = G.backfill_plan(5, G.BACKFILL_LINES, G.BACKFILL_FILES)
    plan = G.live_plan(5, bf, 4, G.LIVE_LINES_PER_FILE)
    names = [G.live_file_name(i) for i in (1, 2, 3)]
    assert sorted(os.listdir(out)) == names
    assert [json.loads(x)["file"] for x in log.read_text().splitlines()] == names
    for i, name in zip((1, 2, 3), names):
        assert (out / name).read_text().splitlines() == plan.files[i]


def test_publish_is_atomic_and_open_loop(tmp_path, monkeypatch):
    files = [[f"line-{i}-{j}" for j in range(i + 1)] for i in range(6)]
    names = [G.live_file_name(i) for i in range(6)]
    interval = 0.05
    real_rename = os.rename
    calls = []

    def slow_first_rename(src, dst):
        # the system stalls on the first publish; later files must keep
        # their schedule
        assert os.path.basename(src).startswith(".")  # written hidden first
        calls.append(dst)
        if len(calls) == 1:
            import time

            time.sleep(3 * interval)
        real_rename(src, dst)

    monkeypatch.setattr(G.os, "rename", slow_first_rename)
    log = tmp_path / "log.jsonl"
    G.publish(files, names, str(tmp_path), interval, str(log))
    recs = [json.loads(x) for x in log.read_text().splitlines()]
    start = recs[0]["due"]
    for i, r in enumerate(recs):
        assert abs(r["due"] - (start + i * interval)) < 1e-9
        assert r["published"] >= r["due"]
        assert r["lines"] == len(files[i])
        assert (tmp_path / names[i]).read_text().splitlines() == files[i]
    # after the stall the generator catches up instead of shifting the grid
    assert recs[-1]["published"] - recs[-1]["due"] < 2 * interval
    assert not [p for p in os.listdir(tmp_path) if p.startswith(".")]
