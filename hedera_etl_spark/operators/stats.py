"""Per-query execution statistics for the batch path (ST7).

The reference scrapes each BigQuery job's statistics after it finishes —
runtime and DML-affected rows into gauges (TemplateQuery.java:67-77).
The Spark-native mirror: every instrumented action rides an
``Observation`` (the exact mechanism the streaming ingest already uses
per micro-batch) for the row count, and wall-clock wrapping for the
runtime.  A JVM ``QueryExecutionListener`` would capture the same
numbers, but classic PySpark has no Python-side batch listener API (only
streaming has ``StreamingQueryListener``) — a py4j callback listener
would couple the engine to gateway internals, while ``observe`` is
public, codegen-friendly, and adds one scalar aggregate to the plan.

Usage::

    runner = InstrumentedRunner()
    rows = runner.collect("q04_minmax_probe", df)          # read path
    runner.write("ingest_append", typed,
                 lambda d: d.write.mode("append").parquet(path))
    runner.registry.latest("q04_minmax_probe").runtime_ms
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class QueryStats:
    """One job's statistics — the runtime/affected-rows gauge pair."""

    name: str
    runtime_ms: float
    rows: int


@dataclass
class QueryStatsRegistry:
    """Driver-side gauge registry: history plus last-value per name
    (the AtomicLong gauges of TemplateQuery.Metrics)."""

    history: list = field(default_factory=list)

    def record(self, stats: QueryStats) -> None:
        self.history.append(stats)

    def latest(self, name: str) -> QueryStats | None:
        for s in reversed(self.history):
            if s.name == name:
                return s
        return None


class InstrumentedRunner:
    """Wraps batch actions with runtime + row-count capture."""

    def __init__(self, registry: QueryStatsRegistry | None = None):
        self.registry = registry or QueryStatsRegistry()

    def _observed(self, name: str, df: DataFrame) -> tuple[DataFrame, Observation]:
        obs = Observation(f"stats_{name}_{len(self.registry.history)}")
        return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs

    def collect(self, name: str, df: DataFrame) -> list:
        """Run a read query to collect(), recording stats."""
        observed, obs = self._observed(name, df)
        t0 = time.time()
        out = observed.collect()
        self.registry.record(
            QueryStats(name, (time.time() - t0) * 1000.0, obs.get["rows"])
        )
        return out

    def write(self, name: str, df: DataFrame, writer_fn) -> None:
        """Run a write action (``writer_fn(observed_df)``), recording
        stats — ``rows`` is the written-row count, the analogue of the
        reference's NumDmlAffectedRows gauge."""
        observed, obs = self._observed(name, df)
        t0 = time.time()
        writer_fn(observed)
        self.registry.record(
            QueryStats(name, (time.time() - t0) * 1000.0, obs.get["rows"])
        )


# ---------------------------------------------------------------------------
# Skew-cap observability (VERDICT r7: "no silent caps")
# ---------------------------------------------------------------------------
#: monotone suffix so repeated cap sites inside ONE plan get distinct
#: Observation names (Spark requires observed-metric names to be unique
#: per query execution); the caller's dict key stays stable.
_CAP_OBS_SEQ = iter(range(1, 1 << 30))

#: hidden sentinel metric name (stripped from every read): observed row
#: count, used to tell "populated row of aggregate defaults from an
#: eliminated subtree" apart from "metrics over a genuinely empty frame"
_OBS_SENTINEL = "__observed_rows"


class RobustObservation:
    """A plan-riding metric with an elimination-proof fallback.

    Spark 4.1 hazard (measured in this container): when AQE's
    empty-relation propagation collapses the plan ABOVE an observed node
    — e.g. a skew cap that drops EVERY bucket, so a downstream join side
    reads 0 rows — the final executed plan no longer contains the
    ``CollectMetricsExec`` node, and the JVM ``Observation`` is finished
    with a schema-less zero-field ``GenericRow``.  ``Observation.get``
    then crashes inside ``PythonSQLUtils.toPyRow`` (assertion failure).
    The degenerate corpus — the case observability exists FOR — is
    exactly the one whose metrics vanish.

    ``get`` therefore probes the JVM row's field count via py4j first:
    a populated row is read the normal way (zero extra jobs — the
    metrics rode the caller's action); an eliminated one falls back to
    ONE aggregate job over the fallback frame (the rare, degenerate
    path; the fallback re-executes the observed subtree, and the result
    is cached so repeat reads never re-pay it) — or, for a
    ``trust_zeros`` observation, reads as all zeros with no job.  When
    SEVERAL eliminated observations stack along one pipeline (a
    fully-emptied corpus with per-stage gauges), each read re-runs its
    own stage subtree once — accepted trade: pinning every stage frame
    with a checkpoint would tax the COMMON path to subsidize the
    degenerate one.  A property, so
    the ergonomics match ``Observation.get``: consumers read
    ``obs.get["rows"]`` either way.  Like ``Observation.get``, it
    blocks until the observed plan's first action has completed.

    Metric authors own their null-handling: both paths return each
    metric's NATIVE value (the fallback is the same ``agg`` the observed
    node would run), so a metric that can see an empty/all-NULL frame
    must coalesce itself — exactly what ``observe_bucket_cap``'s
    count/max metrics do.  Reads return a COPY, so the cache stays
    authoritative even if a consumer mutates its result in place.
    """

    def __init__(
        self, obs: Observation, fallback: DataFrame, trust_zeros: bool = False
    ):
        self._obs = obs
        self._fallback = fallback
        self._trust_zeros = trust_zeros
        self._cached: dict | None = None

    @property
    def get(self) -> dict:
        if self._cached is None:
            self._cached = self._read()
        return dict(self._cached)

    def _read(self) -> dict:
        # The elimination probe reads PRIVATE PySpark internals (py4j
        # handle + getRow), correct on the pinned Spark 4.1.2
        # (Observation.get itself calls getRow): 0 fields = the observed
        # node was eliminated.  If an upstream refactor moves either,
        # degrade to the fallback aggregate instead of turning every
        # metric read into an AttributeError (ADVICE r8 #3).
        try:
            fields = self._obs._jo.getRow().length()
        except Exception:
            fields = None
        if fields == 0 and self._trust_zeros:
            # main-lineage node: eliminated only over an empty frame,
            # where every trusted metric is zero (see robust_observe)
            return dict.fromkeys(self._fallback.columns, 0)
        if not fields:  # eliminated, or the probe failed
            return self._run_fallback()
        vals = dict(self._obs.get)
        if not self._trust_zeros:
            # Second elimination flavor (r16, found via a fresh-store
            # streaming epoch): a subtree discarded as UNREFERENCED
            # (e.g. the build side of a join whose other side is
            # statically empty) completes the observation with a
            # POPULATED row of aggregate defaults — count = 0 — which
            # the length probe cannot tell from a real zero.  The
            # sentinel row-count disambiguates: zero observed rows
            # means either "executed over an empty frame" (fallback
            # recomputes the same zeros) or "never executed" (fallback
            # recomputes the truth) — both correct, one rare extra job.
            seen = vals.pop(_OBS_SENTINEL, None)
            if seen is None or seen == 0:
                return self._run_fallback()
        return vals

    def recompute(self) -> dict:
        """Re-derive the metrics with the fallback aggregate (one job),
        whatever the plan-riding row said; the result replaces the cached
        read.  For callers whose own invariant rules out the reading
        ``get`` returned (connected_components' zero-state guard)."""
        self._cached = self._run_fallback()
        return dict(self._cached)

    def _run_fallback(self) -> dict:
        vals = self._fallback.collect()[0].asDict()
        vals.pop(_OBS_SENTINEL, None)
        return vals


def robust_observe(
    df: DataFrame, name: str, *metrics, trust_zeros: bool = False
) -> tuple[DataFrame, "RobustObservation"]:
    """Attach ``metrics`` to ``df`` as an elimination-proof observation:
    returns the observed frame and the ``RobustObservation`` to read
    after the caller's action.  ``name`` gets a monotone suffix so
    repeated sites inside ONE plan stay unique (Spark requires observed
    names unique per query execution).  A metric aliased like the
    hidden sentinel (``__observed_rows``) is rejected.

    A hidden row-count sentinel rides along so a populated-but-all-
    default row (the unreferenced-subtree elimination flavor — see
    ``RobustObservation.get``) is detected and sent to the fallback.

    ``trust_zeros=True`` is for observed nodes on the action's MAIN
    lineage, which Spark eliminates only when their output is empty.
    It drops the sentinel and reads an eliminated node as all-zero
    metrics, so an empty frame costs no extra job; every metric must be
    zero over an empty frame.  An all-zero reading is then taken as
    is, whether measured or the default row of an action that completed
    the observation before its node ran (a lazy checkpoint, say).  A
    caller whose own invariant rules out a zero reading calls
    ``RobustObservation.recompute`` (connected_components accepts a
    (0, 0) state only as its first state or after a (0, 0) state)."""
    obs = Observation(f"{name}.{next(_CAP_OBS_SEQ)}")
    sentinel = [] if trust_zeros else [F.count(F.lit(1)).alias(_OBS_SENTINEL)]
    fallback = df.agg(*metrics, *sentinel)
    # a caller metric under the sentinel's name would collide with it
    if fallback.columns.count(_OBS_SENTINEL) != len(sentinel):
        raise ValueError(
            f"robust_observe: metric alias {_OBS_SENTINEL!r} is reserved"
        )
    return (
        df.observe(obs, *metrics, *sentinel),
        RobustObservation(obs, fallback, trust_zeros=trust_zeros),
    )


def counted_checkpoint(
    df: DataFrame, name: str, *metrics
) -> tuple[DataFrame, dict]:
    """Materialize ``df`` with ONE eager ``localCheckpoint`` and read its
    row count (``"n"``) plus ``metrics`` from that same job — a stage's
    count never costs a job of its own.

    Safe by construction: the observed node is the ROOT of the
    checkpointed plan and the eager checkpoint is the first action to
    touch it, so no earlier action can complete the observation with a
    default row and no empty-relation rewrite of another query can drop
    the node.  Spark eliminates a root node only when its output is
    empty, so the observation trusts zeros (``trust_zeros``): every
    metric must read zero over an empty frame (coalesce sums)."""
    df, obs = robust_observe(
        df, name, F.count(F.lit(1)).alias("n"), *metrics, trust_zeros=True
    )
    df = df.localCheckpoint()
    return df, {k: int(v) for k, v in obs.get.items()}


def observe_bucket_cap(
    df: DataFrame,
    size_col: str,
    max_bucket: int,
    cap_observations: dict | None,
    cap_key: str,
) -> DataFrame:
    """Attach dropped-member metrics for a bucket skew cap.

    Every ``max_bucket`` guard in the engine (LSH candidate buckets,
    IVF primary buckets, winnowing fingerprint fan-out) trades recall
    for boundedness by DROPPING rows in oversized buckets.  That loss
    must never be silent: given a frame that still carries the bucket
    size in ``size_col`` (i.e. BEFORE the cap filter), this registers a
    ``RobustObservation`` under ``cap_observations[cap_key]`` whose
    metrics ride the caller's own action — zero extra jobs unless AQE
    eliminates the observed node (see ``RobustObservation``):

    - ``capped_members``: rows about to be dropped by the cap;
    - ``max_bucket_size``: largest bucket seen (cap-tuning signal).

    Read via ``cap_counts(cap_observations)`` after an action has run.
    ``cap_observations=None`` attaches nothing (zero overhead).
    """
    if cap_observations is None:
        return df
    # both aggregates coalesced: over an EMPTY observed frame (e.g. an
    # epoch whose survivors carry no embeddings) sum/max are NULL, and
    # a NULL metric poisons both the plan-riding read and the fallback
    metrics = [
        F.coalesce(
            F.sum(F.when(F.col(size_col) > max_bucket, 1).otherwise(0)),
            F.lit(0),
        ).alias("capped_members"),
        F.coalesce(F.max(size_col), F.lit(0)).alias("max_bucket_size"),
    ]
    observed, robust = robust_observe(df, cap_key, *metrics)
    cap_observations[cap_key] = robust
    return observed


def cap_counts(cap_observations: dict) -> dict:
    """Normalize a cap-observation dict to plain ``{key: {metric: int}}``.

    Values are either ``RobustObservation`` objects (plan-riding caps —
    read only AFTER the action has run) or plain dicts (driver-side
    caps, e.g. the IVF history hot-bucket cap)."""
    return {
        k: dict(v.get) if isinstance(v, RobustObservation) else dict(v)
        for k, v in cap_observations.items()
    }
