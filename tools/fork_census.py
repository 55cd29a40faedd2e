#!/usr/bin/env python3
"""Child processes the Spark JVM starts, bucketed by perfbench phase.

Record one traced perfbench run with Java Flight Recorder (every JVM the
run starts, the spark-submit launcher included, writes its own file into
the directory), then read the ``jdk.ProcessStart`` events back::

    mkdir -p /tmp/jfr
    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/jfr/ \\
        python3 perfbench/run.py --workload hedera_two_tier --seed 1 --seconds 5 --trace 1
    python3 tools/fork_census.py /tmp/jfr .perfbench/spans/hedera_two_tier-seed1.jsonl

Each start is charged to the shortest phase span of the run that
contains it (``streaming.ingest.backfill`` is split by its ``drain``
attribute).  Prints one JSON object: the total, the starts inside the
``measure`` span, per command, per phase, and per micro-batch
(``[phase, batch id, starts]``).
"""

from __future__ import annotations

import collections
import json
import os
import subprocess
import sys
from datetime import datetime
from pathlib import Path


def process_starts(jfr_dir: str) -> list[tuple[float, str]]:
    """(epoch seconds, command) of every ``jdk.ProcessStart`` event in
    the recordings under ``jfr_dir``."""
    starts = []
    for rec in sorted(Path(jfr_dir).glob("*.jfr")):
        out = subprocess.run(
            ["jfr", "print", "--json", "--events", "jdk.ProcessStart", str(rec)],
            check=True, capture_output=True, text=True,
        ).stdout
        for ev in json.loads(out)["recording"]["events"]:
            v = ev["values"]
            starts.append((datetime.fromisoformat(v["startTime"]).timestamp(), v["command"]))
    return starts


#: spans that mark one item inside a phase, not a phase
ITEM_SPANS = ("streaming.ingest.microbatch", "generator.file")


def census(starts, spans) -> dict:
    phases = [s for s in spans if s["name"] not in ITEM_SPANS]

    def phase(t: float) -> str:
        inside = [s for s in phases if s["start"] <= t <= s["end"]]
        if not inside:
            return "(outside the run's spans)"
        s = min(inside, key=lambda s: s["end"] - s["start"])
        return f"{s['name']}[{s['drain']}]" if "drain" in s else s["name"]

    def count(span) -> int:
        return sum(span["start"] <= t <= span["end"] for t, _ in starts)

    return {
        "total": len(starts),
        "measured": sum(count(s) for s in spans if s["name"] == "measure"),
        "by_command": dict(
            collections.Counter(os.path.basename(c.split()[0]) for _, c in starts).most_common()
        ),
        "by_phase": dict(collections.Counter(phase(t) for t, _ in starts).most_common()),
        "per_microbatch": [
            [phase(s["start"]), s["batch"], count(s)]
            for s in sorted(spans, key=lambda s: s["start"])
            if s["name"] == "streaming.ingest.microbatch"
        ],
    }


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    jfr_dir, span_file = argv
    with open(span_file) as fh:
        spans = [json.loads(line) for line in fh if line.strip()]
    print(json.dumps(census(process_starts(jfr_dir), spans), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
