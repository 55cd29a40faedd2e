#!/usr/bin/env python3
"""Rotation-ledger tooling (VERDICT r13 #8 / r14 #2).

``tools/coverage_ledger.json`` is the machine-readable source of truth for
the driver-window rotation ledger: one row per registry entry with

- ``window``              — True when the entry is inside the 50-entry
                            driver window (must match ``QuerySpec.driver_visible``),
- ``verifier``            — for parked entries, the in-window entry/pytest
                            that transitively keeps the family driver-checked,
- ``bench_only_rows_only``— True for the two production-hash twins whose
                            oracle is rows-only BY DESIGN (xxhash64 has no
                            DuckDB twin); they are exempt from staleness
                            policing and are pinned pair-equal to their md5
                            siblings in pytest instead.

An entry's last driver-green round is not kept in the ledger: it is read
from the driver's own ``CORRECTNESS_r<N>.json`` files (``driver_record``).
An entry is green in round N when that file lists it with rows, schema and
hash all matching.

``tests/test_ledger.py`` polices this file every run: registry sync, window
flags, and the staleness rule (no parked hash entry older than
``MAX_PARKED_AGE`` rounds).  ``python tools/ledger.py --emit-md`` regenerates
the markdown table between the LEDGER markers in COVERAGE.md so the prose
document can never drift from the JSON and the driver files.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
LEDGER = REPO / "tools" / "coverage_ledger.json"
COVERAGE = REPO / "COVERAGE.md"

#: A parked entry must have been driver-green within this many rounds.
#: 4 = the bar VERDICT r13 #8 / r14 #2 set ("age exceeds 4 rounds").
MAX_PARKED_AGE = 4

BEGIN = "<!-- LEDGER:BEGIN (generated by tools/ledger.py --emit-md) -->"
END = "<!-- LEDGER:END -->"


def load() -> dict[str, dict]:
    with open(LEDGER) as f:
        return json.load(f)


#: the CORRECTNESS row fields that must all be true for a driver-green row
GREEN_FIELDS = ("rows_match", "schema_match", "hash_match")


def driver_record(root: Path = REPO) -> tuple[int, dict[str, int]]:
    """``(round, green)`` from ``root``'s ``CORRECTNESS_r<N>.json`` files:
    the round now being built (1 + the newest file's N) and, per entry,
    the newest N whose file lists it driver-green."""
    rnd, green = 1, {}
    for p in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if not m:
            continue
        n = int(m.group(1))
        rnd = max(rnd, n + 1)
        for name, row in json.loads(p.read_text()).items():
            if all(row.get(k) is True for k in GREEN_FIELDS):
                green[name] = max(green.get(name, n), n)
    return rnd, green


def validate(ledger: dict[str, dict], registry: dict, root: Path = REPO) -> list[str]:
    """Return a list of human-readable violations (empty = clean), judged
    against the driver files in ``root``."""
    errs: list[str] = []
    lk, rk = set(ledger), set(registry)
    if lk != rk:
        errs.append(f"ledger/registry key drift: only-ledger={sorted(lk - rk)} only-registry={sorted(rk - lk)}")
    rnd, greens = driver_record(root)
    for name in sorted(lk & rk):
        row, spec = ledger[name], registry[name]
        if bool(row.get("window")) != bool(spec.driver_visible):
            errs.append(f"{name}: ledger window={row.get('window')} != driver_visible={spec.driver_visible}")
        if row.get("bench_only_rows_only"):
            if spec.oracle is not None and spec.driver_visible:
                errs.append(f"{name}: marked bench_only_rows_only but is a driver-visible hash entry")
            continue
        green = greens.get(name)
        if not row.get("window"):
            if green is None:
                errs.append(f"{name}: parked but never driver-checked — rotate it IN")
            elif rnd - green > MAX_PARKED_AGE:
                errs.append(
                    f"{name}: parked with last driver-green r{green}, age {rnd - green} > {MAX_PARKED_AGE} at r{rnd} — rotate it IN"
                )
            if not str(row.get("verifier", "")).strip() or row.get("verifier") == "driver window":
                errs.append(f"{name}: parked without a named in-window verifier")
    return errs


def emit_md(ledger: dict[str, dict], root: Path = REPO) -> str:
    greens = driver_record(root)[1]
    lines = [
        BEGIN,
        "",
        "| entry | window | last driver-green | verifier when parked |",
        "|---|---|---|---|",
    ]
    for name in sorted(ledger):
        row = ledger[name]
        if row.get("bench_only_rows_only"):
            green = "n/a (rows-only oracle by design)"
        elif name not in greens:
            green = "— (never; pending this round)"
        else:
            green = f"r{greens[name]}"
        win = "IN" if row.get("window") else "out"
        lines.append(f"| `{name}` | {win} | {green} | {row.get('verifier', '')} |")
    lines += ["", END]
    return "\n".join(lines)


def rewrite_coverage(ledger: dict[str, dict]) -> None:
    txt = COVERAGE.read_text()
    block = emit_md(ledger)
    if BEGIN in txt:
        txt = re.sub(re.escape(BEGIN) + r".*?" + re.escape(END), block, txt, flags=re.S)
    else:
        raise SystemExit("COVERAGE.md has no LEDGER markers — add them first")
    COVERAGE.write_text(txt)


if __name__ == "__main__":
    import sys

    sys.path.insert(0, str(REPO))
    ledger = load()
    from hedera_etl_spark.queries import load_registry

    errs = validate(ledger, load_registry())
    for e in errs:
        print("VIOLATION:", e, file=sys.stderr)
    if "--emit-md" in sys.argv:
        rewrite_coverage(ledger)
        print("COVERAGE.md ledger table regenerated")
    print(f"ledger: {len(ledger)} rows, round r{driver_record()[0]}, {len(errs)} violation(s)")
    sys.exit(1 if errs else 0)
