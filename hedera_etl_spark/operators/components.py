"""Distributed connected components — the terminal stage of near-dup
deduplication.

Every near-dup detector in this engine (MinHash/LSH, SimHash, n-gram
Jaccard, embedding cosine — operators/textdedup.py, operators/similarity.py)
emits verified PAIRS.  A training-data pipeline then needs the transitive
closure: doc A ~ B and B ~ C must collapse to ONE kept document even when
(A, C) was never scored.  That closure is connected components over the
pair graph.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the standard
shuffle-native formulation:

- large-star: every node points its LARGER neighbors at the smallest
  member of its neighborhood (including itself);
- small-star: every node points its smaller-or-equal neighbors (and
  itself) at that minimum.

Each round is a groupBy-free window aggregate + filter over the edge
list; the edge set provably converges to per-component stars whose
center is the component minimum in O(log^2 n) rounds (O(log n) in
practice), INDEPENDENT of graph diameter — plain min-label propagation
needs O(diameter) rounds and dies on chain topologies.  No step ever
materializes a component on one machine or on the driver: per-round
driver traffic is one (count, checksum) row for the fixpoint test.

Scale properties:
- per-round shuffle is O(|E|); edges only ever point toward smaller ids,
  so |E| is non-increasing after the first round;
- per-node state in a round is its neighbor MIN (a window min over the
  grouping exchange), never a collected neighbor list — a celebrity node
  with 10^8 neighbors costs a wide window partition, not a buffer;
- each round references its input once (both edge orientations come
  from one ``explode`` projection, never a self-union), so a round's
  plan grows by a constant, not by doubling;
- lineage is cut every two rounds with an eager localCheckpoint (the
  same iterate-then-pin pattern as ivf_train_kmeans's driver-side
  centroids); without it round k replans the whole k-deep plan.

Reference parity note: the reference system has no graph stage — its
dedup is exact-key only (RemoveDuplicatesTemplateQuery.java:29-43).
This operator extends the engine's LLM-pipeline surface (SURVEY §2
extras), composing with the near-dup detectors' pair outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _canonical(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected edges as (u=min, v=max), self-loops dropped.

    SQL-text construction throughout this module (r16, guide §7.3): the
    fixpoint loop rebuilds both stars every round, and the Column-chain
    form cost ~1,160 py4j round-trips (~1.1 s of driver wall) per
    composed prepare build; the text form produces the IDENTICAL
    analyzed plan in a handful of calls.
    """
    return (
        edges.selectExpr(
            f"least(`{src}`, `{dst}`) AS u", f"greatest(`{src}`, `{dst}`) AS v"
        )
        .filter("u <> v")
        .na.drop()
        .distinct()
    )


def _two_rows(
    df: DataFrame, names: tuple, first: tuple, second: tuple
) -> DataFrame:
    """Two output rows per input row, columns ``names``: one holding the
    expressions ``first``, one holding ``second`` — a fan-out that
    references ``df`` once, where a union of two projections would
    reference it twice and double the plan every star round.

    ``explode`` of an array, not ``inline``: AQE's empty-relation
    propagation passes through an Explode generator but stops at any
    other, so an empty graph still collapses to an empty relation."""

    def struct(exprs):
        return "named_struct(" + ", ".join(
            f"'{n}', {e}" for n, e in zip(names, exprs)
        ) + ")"

    return df.selectExpr(
        f"explode(array({struct(first)}, {struct(second)})) AS e"
    ).selectExpr("e.*")


def _large_star(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """(v, m) for every neighbor v > u, where m = min(N(u) + {u}).

    The neighborhood minimum is a window min over the symmetrized edge
    list — the window's partition exchange on u is the only shuffle.

    ``dedup=False`` skips the output ``distinct`` (one exchange per
    round, r16): when the result feeds straight into ``_small_star``,
    whose own final ``distinct`` dedups anyway, duplicate edges only
    ride through one window — the per-round edge SET (and so the
    fixpoint checksums and round count) is bit-identical.
    """
    # both orientations of every edge
    sym = _two_rows(edges, ("a", "b"), ("u", "v"), ("v", "u"))
    out = (
        sym.selectExpr(
            "least(a, min(b) OVER (PARTITION BY a)) AS m", "a", "b"
        )
        .filter("b > a")
        .selectExpr("m AS u", "b AS v")
        .filter("u <> v")
    )
    return out.distinct() if dedup else out


def _small_star(edges: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v <= u plus u itself, m = that minimum.

    Operates on the (min, max)-oriented edges: grouping key is the LARGER
    endpoint, so each node links its smaller neighbors (and itself) to
    the smallest of them.
    """
    # all u < v by canonical orientation, so min(u) over v is the minimum
    starred = edges.selectExpr("u", "v", "min(u) OVER (PARTITION BY v) AS m")
    # relink (m, u) and self-link (m, v)
    return (
        _two_rows(starred, ("u", "v"), ("m", "u"), ("m", "v"))
        .filter("u <> v")
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components of the undirected graph given as edge pairs.

    Returns (node, component) for every node APPEARING IN AN EDGE, where
    ``component`` is the smallest node id in its component (the
    deterministic cluster representative every dedup keeper rule wants).
    Component roots map to themselves.  Isolated nodes never appear in
    ``edges`` and so not in the output — union the node universe in the
    caller (``collapse_components`` does).

    ``max_iterations`` is a safety rail, not a tuning knob: convergence
    is O(log^2 n) worst-case, so 25 rounds covers any realistic graph;
    hitting the rail raises rather than returning a half-merged
    clustering (a silent partial merge would under-deduplicate).

    The fixpoint test (count, xxhash64 checksum) rides the rounds' OWN
    materialization as ``observe`` metrics (r15 optimization round):
    the eager localCheckpoint is already an action, so the metrics come
    out of the same job — the previous separate ``agg().collect()``
    re-read the whole checkpointed edge set once per round, an O(|E|)
    pass that observe makes free at any scale (measured −26% on the
    bench pair graph, identical rounds and fixpoint values).

    r16 job fusion (guide §5 driver round-trips, §1.2 fewer passes):
    each checkpoint job computes the canonicalization (first job only)
    plus TWO star rounds, with an Observation riding EVERY round
    boundary inside the job — three (count, checksum) states from one
    action.  Convergence still stops at the first round k with
    state(k) == state(k-1), read off the ride-along metrics, so the
    round sequence and the returned edge set are bit-identical to the
    one-round-per-job loop (stars are invariant at the fixpoint, so the
    at-most-one extra star pair a job computes past convergence is the
    same computation the old confirm round paid as its own job).

    Cost as it stands: every star round emits both rows of its fan-out
    from one ``explode`` projection (``_two_rows``), so a two-round
    checkpoint's optimized plan holds its input relation ONCE (the
    earlier union form held it 2^4 = 16 times, and the eager checkpoint
    spent most of its wall in Catalyst planning).  Each checkpoint is
    one action per two rounds (its AQE shuffle stages run as jobs of
    their own); a graph that is already a set of stars, the common
    near-dup output, needs one.  An EMPTY graph runs a single Spark job
    in all: AQE eliminates its round boundaries, and an eliminated
    boundary reads as the (0, 0) state with no fallback aggregate
    (``robust_observe(trust_zeros=True)``).

    Zero-state guard (ADVICE r16 b): a star round over a non-empty edge
    set never returns an empty one (a component of two or more nodes
    keeps an edge), so a (0, 0) state is accepted only as the first
    state or after a (0, 0) state.  Anywhere else it can only be an
    observation completed before its node ran, and it is recomputed
    with the fallback aggregate instead of ending the loop early.
    """

    from hedera_etl_spark.operators.stats import robust_observe

    def _observed(e: DataFrame):
        # robust_observe, not a bare Observation: on an empty graph, AQE
        # empty-relation propagation eliminates the CollectMetrics nodes
        # and a bare .get crashes.  Round boundaries sit on the
        # checkpoint job's MAIN lineage, so they can only be eliminated
        # when the edge set is truly empty, where (0, 0) IS the state:
        # trust_zeros reads them so with no extra job.
        return robust_observe(
            e,
            "cc.round",
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("sig"),
            trust_zeros=True,
        )

    def _state(obs, prev):
        # .get blocks until the job carrying the CollectMetrics node —
        # the eager localCheckpoint below, always — reports.  Coupled to
        # eager=True: a lazy checkpoint would never run the job and
        # .get has no timeout (ADVICE r15).
        vals = obs.get
        if (vals["n"], vals["sig"]) == (0, 0) and prev not in (None, (0, 0)):
            vals = obs.recompute()  # the zero-state guard above
        return (int(vals["n"]), int(vals["sig"]))

    cur, obs0 = _observed(_canonical(edges, src, dst))
    prev = None  # state before the first observed round; None = not yet known
    for _ in range((max_iterations + 1) // 2):
        r1, obs1 = _observed(_small_star(_large_star(cur, dedup=False)))
        r2, obs2 = _observed(_small_star(_large_star(r1, dedup=False)))
        cur = r2.localCheckpoint(eager=True)  # ONE job: both rounds (+canonical)
        if prev is None:
            prev = _state(obs0, None)
        s1 = _state(obs1, prev)
        if s1 == prev:
            break
        s2 = _state(obs2, s1)
        if s2 == s1:
            break
        prev = s2
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — raise max_iterations (expected only on graphs "
            "far beyond O(log^2 n) = 25 rounds, i.e. never)"
        )

    # fixpoint edges are (root, member) stars; roots point to themselves
    members_and_roots = _two_rows(
        cur, ("node", "component"), ("v", "u"), ("u", "u")
    )
    return members_and_roots.distinct()


def collapse_components(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Keeper decision per document from near-dup pairs.

    ``ids``: one row per document (the corpus universe); ``pairs``: the
    verified near-dup pairs from any detector.  Returns
    (id_col, component, keep) where ``component`` is the cluster
    representative (min id; singletons are their own cluster) and
    ``keep`` marks exactly one row per component — the min-id keeper
    rule, matching exact_duplicates' deterministic choice.

    The join against components is a LEFT join on the id: documents in
    no pair stay singletons without ever entering the graph shuffle.
    """
    comp = connected_components(pairs, src=src, dst=dst)
    out = (
        ids.select(F.col(id_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )
    return out.select(
        id_col,
        "component",
        (F.col(id_col) == F.col("component")).alias("keep"),
    )


def cluster_size_profile(decision: DataFrame) -> DataFrame:
    """Duplication histogram over a keeper-decision frame (the output
    of :func:`collapse_components` / :func:`collapse_components_by_score`):
    (cluster_size, n_clusters, n_docs), descending by size — the
    standard curation report ("how duplicated is this corpus?"): the
    singleton row is the unique mass, the tail rows are the boilerplate
    farms worth inspecting before committing to a dedup threshold.

    Two narrow aggregates (component -> size, size -> counts); the
    second one's key cardinality is the number of DISTINCT cluster
    sizes — tiny at any corpus scale."""
    sizes = decision.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn("n_docs", F.col("cluster_size") * F.col("n_clusters"))
        .orderBy(F.col("cluster_size").desc())
    )


def collapse_components_by_score(
    ids: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Keeper decision electing the HIGHEST-``score_col`` member of each
    near-dup cluster (ties → min id) instead of the min id — the
    FineWeb-style retention rule: near-dup variants of one page differ
    in boilerplate/extraction quality, and keeping the best-scored copy
    retains strictly better text than keeping whichever crawled first.

    Returns (id_col, component, keep) — same contract as
    :func:`collapse_components` (``component`` stays the min-id cluster
    representative so cluster identity is stable across keeper rules;
    ``keep`` marks exactly one row per cluster).  NULL scores sort last
    (a scoreless doc never outranks a scored one).

    Scale: the graph stage is unchanged; the election adds ONE window
    keyed by component — clusters are duplicate groups (small by
    construction), and row_number streams within the partition, so even
    a degenerate celebrity cluster costs a spillable sort, not a buffer.
    """
    comp = connected_components(pairs, src=src, dst=dst)
    out = (
        ids.select(F.col(id_col), F.col(score_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("component"),
            score_col,
        )
    )
    w = W.partitionBy("component").orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col).asc()
    )
    return out.select(
        id_col,
        "component",
        (F.row_number().over(w) == 1).alias("keep"),
    )
