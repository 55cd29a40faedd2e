"""Police the rotation ledger (VERDICT r13 #8 / r14 #2).

The driver records only the FIRST 50 registry entries each round, so parked
entries rely on (a) a named in-window verifier and (b) periodic rotation
back IN.  Before this test existed, staleness policing depended on the
judge reading COVERAGE.md by hand; now the suite FAILS when

- the ledger and the registry drift (missing/extra entries),
- a ledger ``window`` flag disagrees with ``QuerySpec.driver_visible``,
- a parked hash entry's last driver-green age exceeds 4 rounds
  (``tools/ledger.MAX_PARKED_AGE``), judged against the round currently
  being built (1 + newest CORRECTNESS_r{N}.json); the last driver-green
  round itself is read from those driver files, not from the ledger,
- a parked entry has no named verifier,
- COVERAGE.md's rendered table drifts from the JSON source of truth.
"""

from __future__ import annotations

import json
import sys
import types
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools import ledger as L  # noqa: E402


def _registry():
    from hedera_etl_spark.queries import load_registry

    return load_registry()


def test_ledger_clean():
    errs = L.validate(L.load(), _registry())
    assert not errs, "rotation-ledger violations:\n" + "\n".join(errs)


def _parked_victim(ledger):
    return next(
        n for n, r in ledger.items()
        if not r.get("window") and not r.get("bench_only_rows_only")
    )


def _driver_files_without(tmp_path, victim, from_round=0):
    """A copy of the repo's driver files with ``victim`` dropped from every
    round >= ``from_round``."""
    for p in L.REPO.glob("CORRECTNESS_r*.json"):
        rows = json.loads(p.read_text())
        if int(p.stem.split("_r")[1]) >= from_round:
            rows.pop(victim, None)
        (tmp_path / p.name).write_text(json.dumps(rows))
    return tmp_path


def test_ledger_staleness_rule_actually_bites(tmp_path):
    """The staleness check must FAIL for an artificially aged row — guards
    against the rule rotting into a tautology."""
    ledger = L.load()
    victim = _parked_victim(ledger)
    rnd = L.driver_record()[0]
    root = _driver_files_without(tmp_path, victim, from_round=rnd - L.MAX_PARKED_AGE - 1)
    assert L.driver_record(root)[1][victim] < rnd - L.MAX_PARKED_AGE
    errs = L.validate(ledger, _registry(), root)
    assert any(victim in e and "rotate it IN" in e for e in errs)


def test_ledger_never_checked_parked_entry_bites(tmp_path):
    ledger = L.load()
    victim = _parked_victim(ledger)
    errs = L.validate(ledger, _registry(), _driver_files_without(tmp_path, victim))
    assert any(victim in e and "never driver-checked" in e for e in errs)


def test_green_rounds_come_from_synthetic_driver_files(tmp_path):
    """Driver files alone set each row's last green round: a row counts
    green in round N only when N's file lists it with rows, schema and
    hash all matching.  A parked row last green long ago still fails even
    though newer files list it (not hash-green); a parked row green in the
    newest file passes; a file name that is not a round is ignored."""
    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    red = {**green, "hash_match": False}
    files = {
        10: {"stale": green, "fresh": green, "inside": green},
        11: {"stale": green, "fresh": red},
        15: {"stale": red, "fresh": red, "inside": green},
        16: {"stale": {**green, "rows_match": None}, "fresh": green},
    }
    for n, rows in files.items():
        (tmp_path / f"CORRECTNESS_r{n}.json").write_text(json.dumps(rows))
    (tmp_path / "CORRECTNESS_r16_partial.json").write_text(json.dumps({"stale": green}))
    ledger = {
        "stale": {"window": False, "verifier": "inside (IN)"},
        "fresh": {"window": False, "verifier": "inside (IN)"},
        "inside": {"window": True, "verifier": "driver window"},
    }
    registry = {
        "stale": types.SimpleNamespace(driver_visible=False, oracle="sql"),
        "fresh": types.SimpleNamespace(driver_visible=False, oracle="sql"),
        "inside": types.SimpleNamespace(driver_visible=True, oracle="sql"),
    }
    assert L.driver_record(tmp_path) == (17, {"stale": 11, "fresh": 16, "inside": 15})
    errs = L.validate(ledger, registry, tmp_path)
    assert errs == [
        f"stale: parked with last driver-green r11, age 6 > {L.MAX_PARKED_AGE} at r17 — rotate it IN"
    ]
    assert "| `stale` | out | r11 |" in L.emit_md(ledger, tmp_path)


def test_coverage_md_table_in_sync():
    """COVERAGE.md's ledger table must be exactly what tools/ledger.py
    emits from the JSON — the prose doc cannot drift from the machine row."""
    txt = (Path(L.COVERAGE)).read_text()
    block = L.emit_md(L.load())
    assert L.BEGIN in txt and L.END in txt, "COVERAGE.md lost its LEDGER markers"
    start = txt.index(L.BEGIN)
    end = txt.index(L.END) + len(L.END)
    assert txt[start:end] == block, (
        "COVERAGE.md ledger table drifted from tools/coverage_ledger.json — "
        "run `python tools/ledger.py --emit-md`"
    )
