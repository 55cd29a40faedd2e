"""Skew caps must be LOUD (VERDICT r7 "no silent caps").

Every ``max_bucket`` guard trades recall for boundedness by dropping
rows in oversized buckets.  These tests pin the observability contract:
a constructed boilerplate corpus produces a NONZERO dropped-member
count, a clean corpus produces ZERO, and the within-batch semantic
cluster-loss accounting (ADVICE r8) counts members whose keeper a later
pipeline stage removed.
"""

from __future__ import annotations

import math

import pytest

from hedera_etl_spark.operators.stats import cap_counts
from hedera_etl_spark.operators.textdedup import minhash_lsh_neardups

DIMS = 8


def _unit(seed: int, bump: float = 0.0) -> list[float]:
    import random

    rng = random.Random(seed)
    v = [rng.uniform(-1, 1) for _ in range(DIMS)]
    v[0] += bump
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


# ---------------------------------------------------------------------------
# LSH bucket cap (textdedup.lsh_candidates)
# ---------------------------------------------------------------------------
def test_lsh_cap_counter_nonzero_on_boilerplate(spark):
    # 8 documents with IDENTICAL text: every band bucket holds all 8,
    # max_bucket=4 drops all 24 (doc, band) memberships
    docs = spark.createDataFrame(
        [(i, "the same boilerplate footer text everywhere") for i in range(8)],
        "doc_id long, text string",
    )
    caps: dict = {}
    pairs = minhash_lsh_neardups(
        docs, n=3, k=9, bands=3, threshold=0.5, max_bucket=4,
        cap_observations=caps,
    )
    assert pairs.count() == 0  # the cap dropped the only candidate bucket
    got = cap_counts(caps)["lsh_bucket_cap"]
    assert got["capped_members"] == 8 * 3
    assert got["max_bucket_size"] == 8


def test_lsh_cap_counter_zero_on_clean_corpus(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "entirely different words in this row"),
        ],
        "doc_id long, text string",
    )
    caps: dict = {}
    minhash_lsh_neardups(
        docs, n=3, k=9, bands=3, threshold=0.5, max_bucket=4,
        cap_observations=caps,
    ).count()
    got = cap_counts(caps)["lsh_bucket_cap"]
    assert got["capped_members"] == 0
    assert got["max_bucket_size"] <= 1


def test_cap_observations_none_attaches_nothing(spark):
    # the default path must not register observations or change results
    docs = spark.createDataFrame(
        [(i, "the same boilerplate footer text everywhere") for i in range(8)],
        "doc_id long, text string",
    )
    sig_loud = {}
    loud = minhash_lsh_neardups(
        docs, max_bucket=4, cap_observations=sig_loud
    ).count()
    silent = minhash_lsh_neardups(docs, max_bucket=4).count()
    assert loud == silent


# ---------------------------------------------------------------------------
# IVF primary-bucket cap (within-batch semantic dedup)
# ---------------------------------------------------------------------------
def test_ivf_primary_cap_counter(spark, tmp_path):
    from hedera_etl_spark.operators.vectorindex import semantic_dedup_decisions

    # 6 near-identical vectors share one primary bucket; max_bucket=3
    # drops the bucket from the PRIMARY (corpus) side of the pair join,
    # so no within-batch pairs form and everything keeps
    rows = [(i, _unit(5, bump=0.001 * i)) for i in range(1, 7)]
    caps: dict = {}
    dec = semantic_dedup_decisions(
        spark, _emb(spark, rows), str(tmp_path / "ivf"),
        threshold=0.99, n_probe=2, n_centroids=4, dims=DIMS,
        max_bucket=3, cap_observations=caps,
    )
    assert all(r["keep"] for r in dec.collect())
    got = cap_counts(caps)["ivf_primary_cap"]
    assert got["capped_members"] == 6
    assert got["max_bucket_size"] == 6


# ---------------------------------------------------------------------------
# IVF history hot-bucket cap (cross-batch probe)
# ---------------------------------------------------------------------------
def _near_centroid(cidx: int, noise_dim: int, eps: float = 0.05) -> list[float]:
    """Unit vector near md5-grid centroid ``cidx``: all such vectors
    share that primary bucket (their dot with it ~= its norm, while a
    random other centroid aligns ~0.3), but pairwise cosine stays below
    a 0.9999 threshold (distinct eps-offsets on distinct dims)."""
    from hedera_etl_spark.operators.similarity import ivf_centroids

    c = ivf_centroids(4, DIMS)[cidx]
    n = math.sqrt(sum(x * x for x in c))
    v = [x / n for x in c]
    v[noise_dim] += eps
    m = math.sqrt(sum(x * x for x in v))
    return [x / m for x in v]


def test_ivf_history_cap_counter(spark, tmp_path):
    from hedera_etl_spark.operators.vectorindex import semantic_dedup_decisions

    path = str(tmp_path / "ivf")
    # batch 1: 5 distinct vectors near ONE centroid survive (pairwise
    # cosine < threshold) and append into that single bucket
    b1 = [(i, _near_centroid(0, noise_dim=i)) for i in range(1, 6)]
    dec1 = semantic_dedup_decisions(
        spark, _emb(spark, b1), path,
        threshold=0.9999, n_probe=1, n_centroids=4, dims=DIMS,
    )
    assert all(r["keep"] for r in dec1.collect())

    # batch 2 probes that bucket with max_bucket below its size: the
    # history side caps the hot bucket (loud), and the probe finds no
    # history hits there
    caps: dict = {}
    dec2 = semantic_dedup_decisions(
        spark, _emb(spark, [(100, _near_centroid(0, noise_dim=6))]), path,
        threshold=0.9999, n_probe=1, n_centroids=4, dims=DIMS,
        max_bucket=2, cap_observations=caps,
    )
    assert [r["keep"] for r in dec2.collect()] == [True]
    got = cap_counts(caps)["ivf_history_cap"]
    assert got["capped_buckets"] == 1
    assert got["capped_members"] == 5


# ---------------------------------------------------------------------------
# within-batch semantic cluster LOSS accounting (ADVICE r8)
# ---------------------------------------------------------------------------
def test_semantic_lost_members_counted(spark, tmp_path):
    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus

    # docs 1 and 3 are semantic twins; keeper 1 (min id) is then killed
    # by the min_tokens floor, so NEITHER reaches the corpus — 3 is a
    # lost member.  doc 2 is unrelated and survives.
    docs = spark.createDataFrame(
        [
            (1, "short"),  # semantic keeper, fails min_tokens=3
            (2, "a genuinely different long document here"),
            (3, "lexically distinct but semantically the same twin"),
        ],
        "doc_id long, text string",
    )
    emb = _emb(
        spark, [(1, _unit(5)), (2, _unit(33)), (3, _unit(5, bump=0.01))]
    )
    caps: dict = {}
    out = prepare_training_corpus(
        docs,
        near_threshold=None,
        min_tokens=3,
        embeddings=emb,
        embedding_index_path=str(tmp_path / "ivf"),
        embedding_threshold=0.99,
        embedding_centroids=4,
        embedding_dims=DIMS,
        cap_observations=caps,
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [2]
    assert caps["semantic_lost"] == {"lost_members": 1}


def test_semantic_lost_zero_when_keeper_survives(spark, tmp_path):
    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus

    # same twins, but the keeper passes every floor -> nothing is lost
    docs = spark.createDataFrame(
        [
            (1, "the keeper document is long enough to pass"),
            (2, "a genuinely different long document here"),
            (3, "lexically distinct but semantically the same twin"),
        ],
        "doc_id long, text string",
    )
    emb = _emb(
        spark, [(1, _unit(5)), (2, _unit(33)), (3, _unit(5, bump=0.01))]
    )
    caps: dict = {}
    out = prepare_training_corpus(
        docs,
        near_threshold=None,
        min_tokens=3,
        embeddings=emb,
        embedding_index_path=str(tmp_path / "ivf"),
        embedding_threshold=0.99,
        embedding_centroids=4,
        embedding_dims=DIMS,
        cap_observations=caps,
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]
    assert caps["semantic_lost"] == {"lost_members": 0}


def test_semantic_lost_excludes_history_dropped_clusters(spark, tmp_path):
    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus

    path = str(tmp_path / "ivf")
    # batch 1 indexes doc 1's vector
    docs1 = spark.createDataFrame(
        [(1, "the original document lives in the corpus")],
        "doc_id long, text string",
    )
    prepare_training_corpus(
        docs1, near_threshold=None, min_tokens=0,
        embeddings=_emb(spark, [(1, _unit(5))]),
        embedding_index_path=path, embedding_threshold=0.99,
        embedding_centroids=4, embedding_dims=DIMS,
    ).collect()

    # batch 2: 10 and 11 are twins of each other AND of history doc 1.
    # Keeper 10 drops against history -> the cluster's content is
    # already represented in the corpus, so 11 is NOT lost.
    docs2 = spark.createDataFrame(
        [
            (10, "reworded copy of the original document text"),
            (11, "another reworded copy of the very same text"),
        ],
        "doc_id long, text string",
    )
    caps: dict = {}
    out = prepare_training_corpus(
        docs2, near_threshold=None, min_tokens=0,
        embeddings=_emb(
            spark, [(10, _unit(5, bump=0.005)), (11, _unit(5, bump=0.01))]
        ),
        embedding_index_path=path, embedding_threshold=0.99,
        embedding_centroids=4, embedding_dims=DIMS,
        cap_observations=caps,
    )
    assert out.count() == 0
    assert caps["semantic_lost"] == {"lost_members": 0}


def test_cap_counters_zero_on_empty_input(spark, tmp_path):
    """Found by tools/soak_prepare.py (r8): an epoch whose survivors
    carry NO embeddings observes the cap over an EMPTY frame — sum/max
    aggregates go NULL there, and an un-coalesced metric poisons both
    the plan-riding read and the elimination fallback (int(None))."""
    from hedera_etl_spark.operators.vectorindex import semantic_dedup_decisions

    caps: dict = {}
    dec = semantic_dedup_decisions(
        spark, _emb(spark, []), str(tmp_path / "ivf"),
        threshold=0.99, n_probe=2, n_centroids=4, dims=DIMS,
        max_bucket=3, cap_observations=caps,
    )
    assert dec.count() == 0
    got = cap_counts(caps)["ivf_primary_cap"]
    assert got == {"capped_members": 0, "max_bucket_size": 0}


# ---------------------------------------------------------------------------
# winnow fingerprint cap (r8 review finding: the winnow near-dup path's
# max_fp guard was the one remaining silent cap)
# ---------------------------------------------------------------------------
def test_winnow_cap_counter_nonzero_on_boilerplate(spark):
    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus

    # 6 docs sharing one long verbatim run: with max_fp below the doc
    # count every shared fingerprint is over-cap -> memberships dropped
    # loudly, and no near-dup pairs form
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(i, f"doc {i} prefix {shared}") for i in range(6)],
        "doc_id long, text string",
    )
    caps: dict = {}
    out = prepare_training_corpus(
        docs, near_threshold=0.9, near_dup_method="winnow",
        winnow_min_shared=1, winnow_max_fp=3, min_tokens=1,
        cap_observations=caps,
    )
    assert out.count() == 6  # cap suppressed all pairing
    got = cap_counts(caps)["winnow_fp_cap"]
    assert got["capped_members"] > 0
    assert got["max_bucket_size"] == 6


def test_winnow_cap_counter_zero_on_clean_corpus(spark):
    from hedera_etl_spark.operators.textanalysis import (
        fingerprint_overlap,
        winnow_fingerprints,
    )

    docs = spark.createDataFrame(
        [
            (1, "completely distinct words here one two three"),
            (2, "another unrelated set of tokens four five six"),
        ],
        "doc_id long, text string",
    )
    caps: dict = {}
    fingerprint_overlap(
        winnow_fingerprints(docs), max_fp=3, cap_observations=caps
    ).count()
    got = cap_counts(caps)["winnow_fp_cap"]
    assert got["capped_members"] == 0


# ---------------------------------------------------------------------------
# semantic_lost must not count members history already covers (r8
# review finding: cosine is not transitive — a member can match the
# index even when its within-batch keeper missed it)
# ---------------------------------------------------------------------------
def test_semantic_lost_excludes_member_own_history_hit(spark, tmp_path):
    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus

    path = str(tmp_path / "ivf")
    # batch 1: H enters the corpus + index
    prepare_training_corpus(
        spark.createDataFrame(
            [(1, "history document long enough to pass the floor")],
            "doc_id long, text string",
        ),
        near_threshold=None, min_tokens=3,
        embeddings=_emb(spark, [(1, _unit(5))]),
        embedding_index_path=path, embedding_threshold=0.999,
        embedding_centroids=4, embedding_dims=DIMS,
    ).collect()

    # batch 2: keeper 10 ~ member 11 within-batch; 11 is ALSO a twin of
    # history H (same base vector), 10 drifted just past the threshold
    # vs H but not vs 11.  Keeper 10 then dies to min_tokens -> without
    # the history_hit guard, 11 would be counted lost although H covers
    # it.  (bump spacing: cos(11,H) ~ cos(10,11) > thr > cos(10,H).)
    caps: dict = {}
    out = prepare_training_corpus(
        spark.createDataFrame(
            [(10, "short"), (11, "member twin document long enough to pass")],
            "doc_id long, text string",
        ),
        near_threshold=None, min_tokens=3,
        embeddings=_emb(
            spark, [(10, _unit(5, bump=0.09)), (11, _unit(5, bump=0.045))]
        ),
        embedding_index_path=path, embedding_threshold=0.999,
        embedding_centroids=4, embedding_dims=DIMS,
        cap_observations=caps,
    )
    assert out.count() == 0  # 10 fails the floor, 11 drops vs history
    assert caps["semantic_lost"] == {"lost_members": 0}


def test_winnow_two_sided_b_cap_observed(spark):
    from hedera_etl_spark.operators.textanalysis import (
        fingerprint_overlap,
        winnow_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    clean = spark.createDataFrame(
        [(1, f"lone document {shared}")], "doc_id long, text string"
    )
    boiler = spark.createDataFrame(
        [(100 + i, f"doc {i} prefix {shared}") for i in range(6)],
        "doc_id long, text string",
    )
    caps: dict = {}
    fingerprint_overlap(
        winnow_fingerprints(clean), winnow_fingerprints(boiler),
        max_fp=3, cap_observations=caps,
    ).count()
    got = cap_counts(caps)
    # the boilerplate sits ONLY in the b side: its cap must be loud there
    assert got["winnow_fp_cap_b"]["capped_members"] > 0
    assert got["winnow_fp_cap"]["capped_members"] == 0


def test_ivf_history_duplicate_rows_detected_and_neutralized(spark, tmp_path):
    """Marker-lost replay duplicates list rows; the probe must (a) not
    let duplicates flip a bucket over the cap, (b) report them, and
    (c) not multiply cosine work — dedup before the join."""
    import os
    import shutil

    from hedera_etl_spark.operators.vectorindex import semantic_dedup_decisions

    path = str(tmp_path / "ivf")
    b1 = [(i, _near_centroid(0, noise_dim=i)) for i in range(1, 4)]
    semantic_dedup_decisions(
        spark, _emb(spark, b1), path,
        threshold=0.9999, n_probe=1, n_centroids=4, dims=DIMS,
    ).collect()
    # marker-lost crash: drop the batch marker, replay -> rows duplicated
    batches = os.path.join(path, "_batches")
    shutil.rmtree(os.path.join(batches, os.listdir(batches)[0]))
    semantic_dedup_decisions(
        spark, _emb(spark, b1), path,
        threshold=0.9999, n_probe=1, n_centroids=4, dims=DIMS,
    ).collect()

    # probe with max_bucket=3: 3 DISTINCT history ids (6 raw rows) must
    # NOT count as hot, and a true twin of vector 1 must still drop
    caps: dict = {}
    dec = semantic_dedup_decisions(
        spark, _emb(spark, [(100, _near_centroid(0, noise_dim=1))]), path,
        threshold=0.9999, n_probe=1, n_centroids=4, dims=DIMS,
        max_bucket=3, cap_observations=caps,
    )
    assert [r["keep"] for r in dec.collect()] == [False]
    got = cap_counts(caps)["ivf_history_cap"]
    assert got["capped_buckets"] == 0
    assert got["duplicate_rows"] == 3


# ---------------------------------------------------------------------------
# RobustObservation probe degradation (ADVICE r8 #3)
# ---------------------------------------------------------------------------
def test_robust_observation_probe_failure_degrades_to_fallback(spark):
    """The elimination probe reads private PySpark internals; if an
    upstream refactor breaks it, metric reads must degrade to the
    fallback aggregate instead of raising."""
    from pyspark.sql import functions as F

    from hedera_etl_spark.operators.stats import robust_observe

    df = spark.range(10).select(F.col("id").cast("long").alias("n"))
    observed, robust = robust_observe(
        df, "probe_break", F.coalesce(F.sum("n"), F.lit(0)).alias("total")
    )
    observed.count()

    class _Broken:
        def getRow(self):  # simulates a moved/renamed py4j surface
            raise AttributeError("no getRow on this Spark")

    robust._obs._jo = _Broken()
    assert robust.get["total"] == 45  # served by the fallback aggregate


# ---------------------------------------------------------------------------
# Sentinel hygiene (ADVICE r16 c)
# ---------------------------------------------------------------------------
def test_robust_observe_rejects_sentinel_alias(spark):
    """A caller metric named like the hidden row-count sentinel would
    collide with it in the observed row; robust_observe refuses it."""
    from pyspark.sql import functions as F

    from hedera_etl_spark.operators.stats import robust_observe

    df = spark.range(3)
    with pytest.raises(ValueError, match="reserved"):
        robust_observe(df, "clash", F.count(F.lit(1)).alias("__observed_rows"))


def test_robust_observation_missing_sentinel_falls_back(spark):
    """A populated row without the sentinel field cannot vouch for its
    zeros: the read goes to the fallback aggregate instead of raising
    KeyError or trusting the row."""
    from pyspark.sql import functions as F

    from hedera_etl_spark.operators.stats import robust_observe

    df = spark.range(10).select(F.col("id").cast("long").alias("n"))
    observed, robust = robust_observe(
        df, "no_sentinel", F.coalesce(F.sum("n"), F.lit(0)).alias("total")
    )
    observed.count()

    class _Row:
        def length(self):
            return 1

    class _Jo:
        def getRow(self):
            return _Row()

    class _SentinelLess:
        _jo = _Jo()
        get = {"total": 999}  # populated, but the sentinel is gone

    robust._obs = _SentinelLess()
    assert robust.get == {"total": 45}  # served by the fallback aggregate
