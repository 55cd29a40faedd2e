"""Similarity-search operator tests: ANN recall vs the exact baseline,
and bucketing invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
QUERY_IDS = list(range(10))
K = 5


@pytest.fixture(scope="module")
def emb(spark):
    from hedera_etl_spark.tables import load_table

    return load_table(spark, SF, "embeddings")


@pytest.fixture(scope="module")
def exact(spark, emb):
    from hedera_etl_spark.operators.similarity import brute_force_topk

    rows = brute_force_topk(emb, QUERY_IDS, k=K).collect()
    return {
        q: {r["neighbor_id"] for r in rows if r["query_id"] == q} for q in QUERY_IDS
    }


def recall(approx_rows, exact_sets) -> float:
    hits = total = 0
    for q, truth in exact_sets.items():
        got = {r["neighbor_id"] for r in approx_rows if r["query_id"] == q}
        hits += len(got & truth)
        total += len(truth)
    return hits / total


@pytest.mark.slow
def test_ivf_recall_beats_random(spark, emb, exact):
    """IVF with 2/16 probes scans ~1/8 of the corpus; recall must be far
    above the ~12.5% a random 1/8 sample would give."""
    from hedera_etl_spark.operators.similarity import ivf_topk

    # uniform-random embeddings have weak neighbor structure; observed
    # recall ~0.28 — the floor below asserts >2x the random-sample rate
    rows = ivf_topk(emb, QUERY_IDS, k=K, n_centroids=16, n_probe=2).collect()
    assert recall(rows, exact) >= 0.25


def test_lsh_finds_near_identical_vectors(spark, emb):
    """Random-hyperplane LSH's actual guarantee: collision probability
    (1 - theta/pi)^planes -> 1 as theta -> 0.  On weak-structure random
    data single-table recall is legitimately tiny (~2%, matching theory);
    for near-duplicates (theta ~= 0) the bucket hit is certain — a clone
    of each query vector MUST be its returned top-1 neighbor."""
    from hedera_etl_spark.operators.similarity import lsh_ann_topk

    clones = emb.filter(F.col("vec_id").isin(QUERY_IDS)).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(clones)
    rows = lsh_ann_topk(corpus, QUERY_IDS, k=1, n_planes=8).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in rows}
    assert top1 == {q: q + 10_000 for q in QUERY_IDS}


def test_lsh_multiprobe_recall_dominates_single_probe(spark, emb, exact):
    """Multi-probe (flipping the most-uncertain hyperplane signs) must
    recover candidates a single probe misses.  Pinned deterministically:
    with k large enough to never truncate, the multi-probe (query,
    neighbor) set is a strict SUPERSET of the single-probe set at the
    same 6-plane index (64 buckets, so every flipped bucket is occupied
    on this corpus), and recall is therefore monotonically >=."""
    from hedera_etl_spark.operators.similarity import lsh_ann_topk

    kwargs = dict(k=10_000, n_planes=6, max_bucket=None)
    single = lsh_ann_topk(emb, QUERY_IDS, n_probe=1, **kwargs).collect()
    multi = lsh_ann_topk(emb, QUERY_IDS, n_probe=7, **kwargs).collect()
    s_pairs = {(r["query_id"], r["neighbor_id"]) for r in single}
    m_pairs = {(r["query_id"], r["neighbor_id"]) for r in multi}
    assert s_pairs < m_pairs  # strictly more candidates reached
    assert recall(multi, exact) >= recall(single, exact)
    assert all(q != n for q, n in m_pairs)  # never self-matches


@pytest.mark.slow
def test_lsh_bucket_cap_drops_degenerate_buckets(spark, emb):
    """max_bucket is the anti-quadratic guard: with a cap of 1 every
    multi-occupant bucket is dropped, so NO candidate pairs survive on a
    corpus of clones (they always share a bucket); with the cap off the
    clones are found.  Pins that the guard gates the join's corpus side."""
    from hedera_etl_spark.operators.similarity import (
        cosine_neardup_pairs,
        lsh_ann_topk,
    )

    clones = emb.filter(F.col("vec_id").isin(QUERY_IDS)).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(clones)
    uncapped = lsh_ann_topk(corpus, QUERY_IDS, k=1, n_planes=8, max_bucket=None)
    capped = lsh_ann_topk(corpus, QUERY_IDS, k=1, n_planes=8, max_bucket=1)
    assert uncapped.count() > 0
    assert capped.count() == 0

    pairs_capped = cosine_neardup_pairs(corpus, 0.99, n_planes=8, max_bucket=1)
    assert pairs_capped.count() == 0


def test_ivf_partitions_corpus(spark, emb):
    """Every vector lands in exactly one inverted list; lists are
    nonempty-ish and bounded (no degenerate single-bucket collapse)."""
    from hedera_etl_spark.operators.similarity import ivf_assign, ivf_centroids

    assigned = ivf_assign(emb, ivf_centroids(16, 64))
    n = emb.count()
    assert assigned.count() == n
    sizes = assigned.groupBy("bucket").count().collect()
    assert len(sizes) > 4  # corpus spreads over multiple lists
    assert max(r["count"] for r in sizes) < n  # no single-bucket collapse


@pytest.mark.slow
def test_ann_results_are_true_neighbors(spark, emb, exact):
    """ANN may miss neighbors but must never fabricate: every returned
    cosine must equal the exact cosine for that pair."""
    from hedera_etl_spark.operators.similarity import brute_force_topk, ivf_topk

    approx = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in ivf_topk(emb, QUERY_IDS, k=K).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in brute_force_topk(emb, QUERY_IDS, k=1000).collect()
    }
    for pair, cos in approx.items():
        assert pair in full and full[pair] == cos


@pytest.mark.slow
def test_kmeans_training_reduces_assignment_cost(spark, emb):
    """Spherical k-means iterations must improve the quantizer: the mean
    best-centroid COSINE over the corpus rises from the md5-grid init to
    the trained centroids, and the trained quantizer still drives the
    full IVF pipeline."""
    from hedera_etl_spark.operators.similarity import (
        _dots_array,
        ivf_centroids,
        ivf_topk,
        ivf_train_kmeans,
    )

    def mean_best_cos(centroids):
        # normalize centroids in the metric so init (norm ~4.6 grid) and
        # trained (unit) compare on the same scale
        unit = [
            [x / (sum(v * v for v in c) ** 0.5) for x in c] for c in centroids
        ]
        dots = _dots_array("embedding", unit)
        vnorm = F.sqrt(
            F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)
        )
        return (
            emb.select((F.array_max(dots) / vnorm).alias("c"))
            .agg(F.avg("c"))
            .collect()[0][0]
        )

    init = ivf_centroids(16, 64)
    trained = ivf_train_kmeans(emb, n_centroids=16, dims=64, iters=3)
    assert len(trained) == 16 and all(len(c) == 64 for c in trained)
    assert mean_best_cos(trained) > mean_best_cos(init)

    rows = ivf_topk(emb, QUERY_IDS, k=K, n_centroids=16, n_probe=2, centroids=trained).collect()
    assert rows  # the trained quantizer serves the same pipeline


@pytest.mark.slow
def test_kmeans_training_is_repeatable(spark, emb):
    """Fixed init + fixed iteration count: two runs agree to float noise
    (exact bits may differ with partition order; centroid VALUES converge
    to the same fixed point on this corpus)."""
    from hedera_etl_spark.operators.similarity import ivf_train_kmeans

    a = ivf_train_kmeans(emb, n_centroids=8, dims=64, iters=2)
    b = ivf_train_kmeans(emb, n_centroids=8, dims=64, iters=2)
    for ca, cb in zip(a, b):
        for x, y in zip(ca, cb):
            assert abs(x - y) < 1e-9


# ---------------------------------------------------------------------------
# contrastive positive / hard-negative mining
# ---------------------------------------------------------------------------
def test_contrastive_mining_splits_roles_by_label(spark, emb):
    from hedera_etl_spark.operators.similarity import contrastive_mining

    rows = contrastive_mining(emb, QUERY_IDS, k_pos=2, k_neg=3, dims=64).collect()
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(QUERY_IDS)
    for q, rs in by_q.items():
        pos = [r for r in rs if r["role"] == "pos"]
        neg = [r for r in rs if r["role"] == "neg"]
        assert len(pos) <= 2 and len(neg) <= 3
        for r in pos:
            assert labels[r["neighbor_id"]] == labels[q]
        for r in neg:
            assert labels[r["neighbor_id"]] != labels[q]
        # ranks are 1..n within each role and scores non-increasing
        for rs_role in (pos, neg):
            rs_role.sort(key=lambda r: r["rank"])
            assert [r["rank"] for r in rs_role] == list(range(1, len(rs_role) + 1))
            sims = [r["cos_sim"] for r in rs_role]
            assert sims == sorted(sims, reverse=True)


def test_contrastive_negatives_are_the_nearest_wrong_label(spark, emb):
    """The neg side must equal brute-force top-k restricted to
    different-label candidates — cross-checked via a label-filtered
    brute_force_topk run."""
    from hedera_etl_spark.operators.similarity import (
        brute_force_topk,
        contrastive_mining,
    )

    q = 3
    qlabel = emb.filter(F.col("vec_id") == q).select("label").collect()[0][0]
    # brute-force over a corpus keeping the query + only wrong-label rows
    restricted = emb.filter(
        (F.col("vec_id") == q) | (F.col("label") != qlabel)
    )
    want = {
        (r["rank"], r["neighbor_id"])
        for r in brute_force_topk(restricted, [q], k=3).collect()
    }
    got = {
        (r["rank"], r["neighbor_id"])
        for r in contrastive_mining(emb, [q], k_pos=2, k_neg=3, dims=64).collect()
        if r["role"] == "neg"
    }
    assert got == want


def test_contrastive_null_label_mines_only_negatives(spark):
    from hedera_etl_spark.operators.similarity import contrastive_mining

    rows = [
        (0, [1.0, 0.0], None),
        (1, [0.9, 0.1], 7),
        (2, [0.8, 0.2], None),
        (3, [0.0, 1.0], 7),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label long"
    )
    out = contrastive_mining(emb, [0], k_pos=2, k_neg=3, dims=2).collect()
    # NULL-labeled query: nothing equals NULL, so every neighbor is 'neg'
    assert {r["role"] for r in out} == {"neg"}
    assert {r["neighbor_id"] for r in out} == {1, 2, 3}


def test_contrastive_bucketed_mode_stays_in_bucket_and_is_deterministic(spark, emb):
    from hedera_etl_spark.operators.similarity import (
        contrastive_mining,
        hyperplane_signs,
        lsh_bucket_col,
    )

    n_planes = 4
    a = contrastive_mining(
        emb, QUERY_IDS, k_pos=2, k_neg=3, dims=64, n_planes=n_planes
    ).collect()
    b = contrastive_mining(
        emb.repartition(13), QUERY_IDS, k_pos=2, k_neg=3, dims=64, n_planes=n_planes
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # every mined neighbor shares its query's LSH bucket
    buckets = {
        r["vec_id"]: r["b"]
        for r in emb.select(
            "vec_id", lsh_bucket_col("embedding", hyperplane_signs(n_planes, 64)).alias("b")
        ).collect()
    }
    assert a, "4 planes = 16 buckets over 500+ vectors: candidates exist"
    for r in a:
        assert buckets[r["neighbor_id"]] == buckets[r["query_id"]]


def test_contrastive_bucket_cap_is_loud(spark, emb):
    """The bucketed mode's skew cap reports dropped members through
    cap_observations (no silent caps, VERDICT r7)."""
    from hedera_etl_spark.operators.similarity import contrastive_mining
    from hedera_etl_spark.operators.stats import cap_counts

    caps: dict = {}
    out = contrastive_mining(
        emb, QUERY_IDS, k_pos=2, k_neg=3, dims=64,
        n_planes=2, max_bucket=50, cap_observations=caps,
    )
    n = out.count()  # the action the metrics ride on
    got = cap_counts(caps)["contrastive_bucket_cap"]
    # 2 planes = 4 buckets over 500+ vectors: every bucket is >50, so the
    # cap drops the whole corpus and the result is empty — loudly.
    assert n == 0
    assert got["capped_members"] > 400
    assert got["max_bucket_size"] > 50
