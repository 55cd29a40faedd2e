"""Plan-string tree walking for scan-to-join pin assertions.

Spark's ``executedPlan().toString()`` renders the physical plan as an
indented tree (children prefixed by ``+-``/``:-`` with ``:``/space
fillers), and under AQE appends an ``== Initial Plan ==`` copy that must
be split off before counting nodes (docs/PERF_NOTES.md).  The node text
starts at the first character outside the tree-drawing charset, so the
parent chain of any line is recoverable by walking upward through
strictly-decreasing indents — enough to assert the ONE property the
incremental-store probes pin: the history scan reaches its probe join
with no Exchange in between (VERDICT r9 #1).
"""

from __future__ import annotations

import re


def plan_of(df) -> str:
    return (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )


def _indent(line: str) -> int:
    m = re.search(r"[^\s:+\-]", line)
    return m.start() if m else len(line)


def assert_scan_probes_unshuffled(
    plan: str, path_fragment: str, join_kind: str = "BroadcastHashJoin"
) -> None:
    """Every parquet scan whose Location contains ``path_fragment`` must
    reach its nearest enclosing Join through ZERO Exchange nodes, and
    that join must be ``join_kind`` — i.e. the history side of a store
    probe is consumed map-side (streamed through a broadcast join),
    never shuffled, however large the store has grown."""
    lines = [ln for ln in plan.splitlines() if ln.strip()]
    scan_idx = [
        i
        for i, ln in enumerate(lines)
        if "Scan parquet" in ln and path_fragment in ln
    ]
    assert scan_idx, f"no parquet scan matching {path_fragment!r} in plan:\n{plan}"
    for i in scan_idx:
        cur = _indent(lines[i])
        chain: list[str] = []
        for j in range(i - 1, -1, -1):
            ind = _indent(lines[j])
            if ind < cur:
                cur = ind
                chain.append(lines[j])
                if "Join" in lines[j]:
                    break
        assert chain and "Join" in chain[-1], (
            f"store scan never reaches a join:\n{plan}"
        )
        assert join_kind in chain[-1], (
            f"store probe is not a {join_kind}: {chain[-1].strip()}\n{plan}"
        )
        for anc in chain[:-1]:
            assert "Exchange" not in anc, (
                f"history shuffled before its probe join: {anc.strip()}\n{plan}"
            )


def job_ids(spark, group, fn):
    """Ids of the Spark jobs ``fn`` submits, tagged with job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the async listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))
