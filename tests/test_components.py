"""Connected components: known topologies in, exact clusterings out.

Ground truth is an in-test union-find — the point of each case is a graph
SHAPE that breaks a naive implementation: long chains (O(diameter) for
plain label propagation), merged stars, cliques (the common dup-cluster
shape), and pair-less singletons.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.planutil import job_ids


def _truth(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    """Min-id component labels via union-find."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in range(n_nodes)}


def _run(spark, edges: list[tuple[int, int]]):
    from hedera_etl_spark.operators.components import connected_components

    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    return {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }


@pytest.mark.parametrize(
    "name,edges,n",
    [
        # a 24-node chain: diameter 23 — plain min-label propagation
        # needs ~23 rounds, large/small-star a handful
        ("chain", [(i, i + 1) for i in range(23)], 24),
        # two cliques bridged by one edge, plus an untouched clique
        (
            "cliques",
            [(a, b) for a in range(5) for b in range(a + 1, 5)]
            + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
            + [(4, 10)]
            + [(a, b) for a in range(20, 23) for b in range(a + 1, 23)],
            23,
        ),
        # two stars merged at their centers, reversed edge orientations
        ("stars", [(5, i) for i in range(5)] + [(15, i) for i in range(10, 15)] + [(15, 5)], 16),
        # duplicate and self-descriptive edges must be harmless
        ("dups", [(1, 2), (2, 1), (1, 2), (2, 3), (3, 3)], 4),
    ],
)
def test_components_match_union_find(spark, name, edges, n):
    got = _run(spark, edges)
    want = _truth(n, edges)
    touched = {x for e in edges for x in e if e[0] != e[1]}
    assert got == {x: want[x] for x in touched}, name


def test_empty_edges_give_empty_output(spark):
    from hedera_etl_spark.operators.components import connected_components

    df = spark.createDataFrame([], "src LONG, dst LONG")
    assert connected_components(df).count() == 0


def test_collapse_keeps_min_per_cluster_and_singletons(spark):
    from hedera_etl_spark.operators.components import collapse_components

    ids = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(1, 4), (4, 6), (2, 3)], "doc_a LONG, doc_b LONG"
    )
    rows = {r["doc_id"]: (r["component"], r["keep"]) for r in collapse_components(ids, pairs).collect()}
    assert rows == {
        0: (0, True),
        1: (1, True), 4: (1, False), 6: (1, False),
        2: (2, True), 3: (2, False),
        5: (5, True), 7: (7, True),
    }


def test_collapse_composes_with_minhash_pairs(spark):
    """End-to-end: near-dup pairs from the MinHash detector collapse into
    keeper decisions — the actual pipeline a training-data dedup runs."""
    from hedera_etl_spark.operators.components import collapse_components
    from hedera_etl_spark.operators.textdedup import minhash_lsh_neardups

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, text_a),
            (2, text_a),            # clone of 1
            (3, text_a + " tail"),  # near-dup of 1 (and transitively of 2)
            (4, "completely different words in this one here now"),
        ],
        ["doc_id", "text"],
    )
    pairs = minhash_lsh_neardups(docs, threshold=0.5).select("doc_a", "doc_b")
    rows = {
        r["doc_id"]: (r["component"], r["keep"])
        for r in collapse_components(docs.select("doc_id"), pairs).collect()
    }
    assert rows == {1: (1, True), 2: (1, False), 3: (1, False), 4: (4, True)}


def test_nonconvergence_rail_raises(spark):
    from hedera_etl_spark.operators.components import connected_components

    df = spark.createDataFrame([(i, i + 1) for i in range(23)], "src LONG, dst LONG")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iterations=1)


def test_fused_rounds_reference_their_input_once(spark):
    """Two fused star rounds over a checkpointed edge frame hold that
    frame ONCE in the optimized plan; a self-union per round held it
    2^4 = 16 times, so the eager checkpoint job spent its wall planning."""
    from hedera_etl_spark.operators.components import _large_star, _small_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(23)], "u LONG, v LONG"
    ).localCheckpoint(eager=True)
    r1 = _small_star(_large_star(edges, dedup=False))
    r2 = _small_star(_large_star(r1, dedup=False))
    plan = r2._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1, plan


def test_empty_graph_runs_no_fallback_job(spark):
    """An empty pair set: AQE eliminates every round boundary, and each
    one reads as the (0, 0) state — collapse_components runs exactly the
    jobs of its one eager checkpoint, no fallback aggregate."""
    from hedera_etl_spark.operators.components import (
        _canonical,
        _large_star,
        _small_star,
        collapse_components,
    )

    ids = spark.createDataFrame([(i,) for i in range(5)], ["doc_id"])
    pairs = spark.createDataFrame([], "doc_a LONG, doc_b LONG")

    def checkpoint_only():
        e = _canonical(pairs, "doc_a", "doc_b")
        for _ in range(2):
            e = _small_star(_large_star(e, dedup=False))
        e.localCheckpoint(eager=True)

    want = job_ids(spark, "cc-empty-checkpoint", checkpoint_only)
    decision = None

    def collapse():
        nonlocal decision
        decision = collapse_components(ids, pairs)

    got = job_ids(spark, "cc-empty-collapse", collapse)
    assert len(want) >= 1 and len(got) == len(want)
    assert sorted(
        (r["doc_id"], r["component"], r["keep"]) for r in decision.collect()
    ) == [(i, i, True) for i in range(5)]


def test_chain_rows_and_round_count_pinned(spark, monkeypatch):
    """A 24-node chain (diameter 23): the returned rows and the fixpoint
    (count, checksum) state of every round boundary are pinned at their
    values from the union-form star rounds — converged at round 6, the
    seventh state confirming the sixth."""
    from hedera_etl_spark.operators import stats
    from hedera_etl_spark.operators.components import connected_components

    rounds = []  # every round-boundary observation, canonical state first
    real = stats.robust_observe

    def spy(df, name, *metrics, **kw):
        out, obs = real(df, name, *metrics, **kw)
        rounds.append(obs)
        return out, obs

    monkeypatch.setattr(stats, "robust_observe", spy)
    df = spark.createDataFrame([(i, i + 1) for i in range(23)], "src LONG, dst LONG")
    rows = sorted(
        (r["node"], r["component"]) for r in connected_components(df).collect()
    )
    assert rows == [(i, 0) for i in range(24)]
    states = [(o.get["n"], o.get["sig"]) for o in rounds]
    assert states == [
        (23, -2821313303946420543),
        (23, 1402102356763626431),
        (23, 4468339414575627997),
        (23, 6209141781325605640),
        (23, -3409897764592509506),
        (23, -8606869991897652865),
        (23, -8606869991897652865),
    ]


def test_zero_state_after_nonempty_round_does_not_end_loop(
    spark, monkeypatch
):
    """ADVICE r16 (b): a (0, 0) reading after a non-empty round is an
    observation completed before its job ran, never a fixpoint — it must
    be recomputed, not allowed to end the loop on a half-merged graph."""
    from hedera_etl_spark.operators import stats
    from hedera_etl_spark.operators.components import connected_components

    real = stats.robust_observe
    made = []

    class _ReadsZero:
        """Every reading after the canonical state comes back (0, 0)."""

        def __init__(self, obs):
            self._obs = obs

        @property
        def get(self):
            return {"n": 0, "sig": 0}

        def recompute(self):
            return self._obs.recompute()

    def stub(df, name, *metrics, **kw):
        out, obs = real(df, name, *metrics, **kw)
        made.append(obs)
        return out, (obs if len(made) == 1 else _ReadsZero(obs))

    monkeypatch.setattr(stats, "robust_observe", stub)
    edges = [(i, i + 1) for i in range(23)]
    got = _run(spark, edges)
    assert got == _truth(24, edges)


class TestScoreKeeper:
    """collapse_components_by_score: best-in-cluster retention."""

    def test_highest_score_wins_with_min_id_ties(self, spark):
        from pyspark.sql import functions as F

        from hedera_etl_spark.operators.components import (
            collapse_components,
            collapse_components_by_score,
        )

        ids = spark.createDataFrame(
            [(1, 0.2), (2, 0.9), (3, 0.9), (4, None), (10, 0.1)],
            "doc_id long, q double",
        )
        # cluster {1,2,3,4} via a chain; 10 is a singleton
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], ["doc_a", "doc_b"]
        )
        rows = {
            r["doc_id"]: r
            for r in collapse_components_by_score(ids, pairs, "q").collect()
        }
        # component representative stays the min id (stable identity)
        assert all(rows[i]["component"] == 1 for i in (1, 2, 3, 4))
        # 2 and 3 tie at 0.9 -> min id 2 keeps; NULL never wins
        assert [i for i in (1, 2, 3, 4) if rows[i]["keep"]] == [2]
        assert rows[10]["keep"] and rows[10]["component"] == 10
        # exactly one keeper per component, same clusters as min-id rule
        minid = collapse_components(ids.select("doc_id"), pairs)
        assert {
            (r["doc_id"], r["component"]) for r in minid.collect()
        } == {(r["doc_id"], r["component"]) for r in rows.values()}

    @pytest.mark.slow
    def test_pipeline_keeper_score_col(self, spark):
        from hedera_etl_spark.operators.llm_pipeline import (
            prepare_training_corpus,
        )

        base = "the quick brown fox jumps over the lazy dog runs far today"
        docs = spark.createDataFrame(
            [
                (1, base, 0.1),            # near-dup cluster, low score
                (2, base + " zzz", 0.9),   # same cluster, best score
                (3, "completely different words about spark plans", 0.5),
            ],
            "doc_id long, text string, q double",
        )
        minid = prepare_training_corpus(
            docs, near_threshold=0.5, min_tokens=0, sample_rate=1.0
        )
        assert sorted(r["doc_id"] for r in minid.collect()) == [1, 3]
        best = prepare_training_corpus(
            docs, near_threshold=0.5, min_tokens=0, sample_rate=1.0,
            keeper_score_col="q",
        )
        assert sorted(r["doc_id"] for r in best.collect()) == [2, 3]
        with pytest.raises(ValueError, match="keeper_score_col"):
            prepare_training_corpus(
                docs, near_threshold=0.5, min_tokens=0,
                keeper_score_col="nope",
            ).collect()


def test_cluster_size_profile(spark):
    from hedera_etl_spark.operators.components import (
        cluster_size_profile,
        collapse_components,
    )

    ids = spark.createDataFrame([(i,) for i in range(1, 9)], ["doc_id"])
    # clusters: {1,2,3} (chain), {4,5}, singletons 6,7,8
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], ["doc_a", "doc_b"])
    prof = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"])
        for r in cluster_size_profile(
            collapse_components(ids, pairs)
        ).collect()
    }
    assert prof == {3: (1, 3), 2: (1, 2), 1: (3, 3)}
    assert sum(n_docs for _, n_docs in prof.values()) == 8  # totality
