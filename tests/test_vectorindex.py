"""Persisted IVF index (operators/vectorindex.py): equality with the
in-memory operator, partition-pruned probes, incremental append."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hedera_etl_spark.operators.similarity import ivf_topk
from hedera_etl_spark.operators.vectorindex import IVFIndex

SF = "/root/testdata/sf0.001"
QUERY_IDS = [3, 17, 42]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


@pytest.fixture(scope="module")
def index(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    return IVFIndex.build(spark, path, emb, n_centroids=16, dims=64)


def _queries(emb, ids):
    return emb.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


def test_persisted_query_equals_in_memory_operator(spark, emb, index):
    via_index = index.query(_queries(emb, QUERY_IDS), k=5, n_probe=2).collect()
    direct = ivf_topk(emb, QUERY_IDS, k=5, n_centroids=16, n_probe=2).collect()
    assert sorted(map(tuple, via_index)) == sorted(map(tuple, direct))


def test_reopen_round_trip(spark, emb, index):
    reopened = IVFIndex(spark, index.path)
    assert reopened.centroids == index.centroids
    a = index.query(_queries(emb, QUERY_IDS), k=3).collect()
    b = reopened.query(_queries(emb, QUERY_IDS), k=3).collect()
    assert a == b


def test_probe_scan_is_partition_pruned(spark, emb, index):
    """The probed-bucket predicate must reach the scan as a partition
    filter — the property that makes a probe read n_probe/k of the
    index instead of all of it."""
    qs = _queries(emb, QUERY_IDS)
    probes, buckets = index.probe_plan(qs, n_probe=2)
    assert 0 < len(buckets) < index.n_centroids  # genuinely selective
    df = index.query(qs, k=5, n_probe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in plan.replace("#", " #").replace(
        "bucket #", "bucket#"
    ) or "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:200]


def test_bucket_stats_cover_corpus(spark, emb, index):
    stats = index.bucket_stats().collect()
    assert sum(r["n_vectors"] for r in stats) == emb.count()


def test_incremental_add_extends_index(spark, emb, index):
    """Appended vectors land in their bucket partitions and become
    query-visible without a rebuild."""
    new = emb.limit(5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    index.add_vectors(new)
    # the clones are bit-identical vectors: each must now appear as its
    # original's top neighbor (cos ~ 1.0)
    ids = [r["vec_id"] for r in emb.limit(5).select("vec_id").collect()]
    res = index.query(_queries(emb, ids), k=1, n_probe=1).collect()
    for r in res:
        assert r["neighbor_id"] == r["query_id"] + 1_000_000 or r["cos_sim"] >= 0.999999


@pytest.mark.slow
def test_registry_replay_equals_throwaway_first_batch(spark, emb, tmp_path):
    """r14 (VERDICT r13 #3): the registry entry probes a PERSISTED index
    — its replay decisions (2nd+ call on the same corpus, same batch
    marker) must equal the throwaway first-batch form the oracle
    models, and the replay must not grow the index."""
    from hedera_etl_spark.operators.vectorindex import (
        semantic_dedup_decisions,
    )

    corpus = emb.unionByName(
        emb.filter(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
    )

    def run(path):
        return sorted(
            (r["vec_id"], r["keep"])
            for r in semantic_dedup_decisions(
                spark, corpus, str(path), threshold=0.99, n_probe=2,
                n_centroids=16, dims=64, batch_id="registry-corpus",
            ).collect()
        )

    p = tmp_path / "sem_idx"
    first = run(p)   # builds + appends (throwaway-form decisions)
    batches = set(os.listdir(p / "_batches"))
    second = run(p)  # replay: history path, own-id-excluded
    third = run(p)
    assert second == first
    assert third == first
    # write-once: the replay committed nothing new
    assert set(os.listdir(p / "_batches")) == batches


def test_pair_verify_stages_compile_without_codegen_overflow(spark, emb, tmp_path):
    """r14: the threshold cosine fuses into the join condition, which
    codegen cannot method-split — the fold form must keep every
    generated method under janino's 64 KB limit (the unrolled form
    failed compile and fell back interpreted).  Assert by running with
    codegen fallback DISABLED: any overflow now raises instead of
    silently degrading."""
    from hedera_etl_spark.operators.vectorindex import (
        semantic_dedup_decisions,
    )

    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        n = semantic_dedup_decisions(
            spark, emb, str(tmp_path / "cg_idx"), threshold=0.99,
            n_probe=2, n_centroids=16, dims=64, batch_id="cg",
        ).count()
        assert n > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


@pytest.mark.slow
def test_replay_equals_first_run_when_primary_cap_fires(spark, tmp_path):
    """r14 review finding: when max_bucket drops a hot bucket from the
    within-batch pass, the history pass must skip that bucket too —
    otherwise a replay (history == own keepers) finds the pairs the
    first run's cap skipped and flips BOTH members of a never-merged
    pair to keep=False (content dropped with no keeper)."""
    from hedera_etl_spark.operators.similarity import ivf_centroids
    from hedera_etl_spark.operators.vectorindex import (
        semantic_dedup_decisions,
    )

    dims, k = 8, 4
    cents = ivf_centroids(k, dims)

    def near(ci, eps):
        return [cents[ci][d] + (eps if d == 0 else 0.0) for d in range(dims)]

    rows = [
        # HOT bucket (5 members > max_bucket=3), containing an exact
        # clone pair (1, 2) the cap prevents from merging
        (1, near(0, 0.0)),
        (2, near(0, 0.0)),
        (3, near(0, 0.30)),
        (4, near(0, 0.55)),
        (5, near(0, 0.80)),
        # normal bucket with a clone pair that MUST merge
        (10, near(1, 0.0)),
        (11, near(1, 0.0)),
        (12, near(1, 0.9)),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run():
        return sorted(
            (r["vec_id"], r["keep"])
            for r in semantic_dedup_decisions(
                spark, emb, str(tmp_path / "cap_idx"), threshold=0.999,
                n_probe=2, n_centroids=k, dims=dims, max_bucket=3,
                batch_id="cap-b1",
            ).collect()
        )

    first = run()
    d1 = dict(first)
    # the cap really fired: the hot-bucket clone pair did NOT merge
    assert d1[1] and d1[2], "cap did not fire — fixture needs a hotter bucket"
    # the normal bucket merged to a min-id keeper
    assert d1[10] and not d1[11]
    # replay (history now holds the first run's keepers) is identical
    assert run() == first
    assert run() == first
