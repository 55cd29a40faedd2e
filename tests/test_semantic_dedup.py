"""Semantic (embedding-level) near-dup stage: the persisted IVF index
composed into the pipeline API (operators/vectorindex.semantic_dedup
_decisions + llm_pipeline.prepare_training_corpus(embeddings=...)).

Covers: within-batch transitive collapse via the components path,
cross-batch drops against index history, index reuse/growth across two
prepare calls, and probe_rows' primary-bucket agreement with
ivf_assign.
"""

import math

import pytest
from pyspark.sql import functions as F

from hedera_etl_spark.operators.similarity import ivf_assign, ivf_centroids
from hedera_etl_spark.operators.vectorindex import (
    IVFIndex,
    probe_rows,
    semantic_dedup_decisions,
)

DIMS = 8


def _unit(seed: int, bump: float = 0.0) -> list[float]:
    """Deterministic unit vector; same seed + small bump => high cosine."""
    import random

    rng = random.Random(seed)
    v = [rng.uniform(-1, 1) for _ in range(DIMS)]
    v[0] += bump
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_probe_rows_primary_matches_ivf_assign(spark):
    emb = _emb(spark, [(i, _unit(i)) for i in range(40)])
    cents = ivf_centroids(4, DIMS)
    primary = {r["vec_id"]: r["bucket"] for r in ivf_assign(emb, cents).collect()}
    # n_probe=1 must reproduce the primary assignment exactly (same
    # first-max tiebreak)
    got = {
        r["vec_id"]: r["bucket"]
        for r in probe_rows(emb, cents, n_probe=1).collect()
    }
    assert got == primary
    # n_probe=2 fans out to 2 distinct buckets, one of them the primary
    probes = probe_rows(emb, cents, n_probe=2)
    per_vec = {}
    for r in probes.collect():
        per_vec.setdefault(r["vec_id"], set()).add(r["bucket"])
    assert all(len(bs) == 2 and primary[v] in bs for v, bs in per_vec.items())


def test_within_batch_transitive_collapse(spark, tmp_path):
    # 1 ~ 2 ~ 3 is a chain (1-3 may be below threshold); min-id keeps 1
    base = _unit(7)
    rows = [
        (1, base),
        (2, _unit(7, bump=0.02)),
        (3, _unit(7, bump=0.04)),
        (10, _unit(99)),
    ]
    dec = semantic_dedup_decisions(
        spark,
        _emb(spark, rows),
        str(tmp_path / "ivf"),
        threshold=0.99,
        n_probe=2,
        n_centroids=4,
        dims=DIMS,
    )
    got = {r["vec_id"]: r["keep"] for r in dec.collect()}
    assert got == {1: True, 2: False, 3: False, 10: True}


@pytest.mark.slow
def test_cross_batch_drop_and_index_growth(spark, tmp_path):
    path = str(tmp_path / "ivf")
    b1 = [(1, _unit(5)), (2, _unit(33))]
    dec1 = semantic_dedup_decisions(
        spark, _emb(spark, b1), path, threshold=0.99,
        n_probe=2, n_centroids=4, dims=DIMS,
    )
    assert {r["vec_id"]: r["keep"] for r in dec1.collect()} == {1: True, 2: True}
    idx = IVFIndex(spark, path)
    assert idx.lists().count() == 2

    # batch 2: 101 duplicates batch-1's doc 1 (drops against history,
    # even though it is the min id of its within-batch singleton);
    # 102 is novel and survives + appends
    b2 = [(101, _unit(5, bump=0.01)), (102, _unit(77))]
    dec2 = semantic_dedup_decisions(
        spark, _emb(spark, b2), path, threshold=0.99,
        n_probe=2, n_centroids=4, dims=DIMS,
    )
    assert {r["vec_id"]: r["keep"] for r in dec2.collect()} == {
        101: False,
        102: True,
    }
    assert IVFIndex(spark, path).lists().count() == 3  # 1, 2, 102


@pytest.mark.slow
def test_pipeline_composes_semantic_stage(spark, tmp_path):
    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus

    path = str(tmp_path / "ivf")
    docs1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon one"),
            (2, "totally different text about graphs two"),
            (3, "yet another unrelated document three"),
        ],
        "doc_id long, text string",
    )
    # docs 1 and 3 are lexically distinct but semantically identical
    emb1 = _emb(spark, [(1, _unit(5)), (2, _unit(33)), (3, _unit(5, bump=0.01))])
    out1 = prepare_training_corpus(
        docs1,
        near_threshold=None,
        min_tokens=0,
        embeddings=emb1,
        embedding_index_path=path,
        embedding_threshold=0.99,
        embedding_centroids=4,
        embedding_dims=DIMS,
    )
    assert sorted(r["doc_id"] for r in out1.collect()) == [1, 2]

    # second prepare call REUSES the index: a new doc semantically equal
    # to doc 2 drops against history
    docs2 = spark.createDataFrame(
        [(50, "fresh wording, same meaning as two"), (60, "genuinely new")],
        "doc_id long, text string",
    )
    emb2 = _emb(spark, [(50, _unit(33, bump=0.01)), (60, _unit(123))])
    out2 = prepare_training_corpus(
        docs2,
        near_threshold=None,
        min_tokens=0,
        embeddings=emb2,
        embedding_index_path=path,
        embedding_threshold=0.99,
        embedding_centroids=4,
        embedding_dims=DIMS,
    )
    assert sorted(r["doc_id"] for r in out2.collect()) == [60]
    # index grew by the survivor only
    assert IVFIndex(spark, path).lists().count() == 3  # 1, 2, 60


def test_embeddings_without_path_raises(spark):
    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="embedding_index_path"):
        prepare_training_corpus(
            docs, near_threshold=None, embeddings=_emb(spark, [(1, _unit(1))])
        )


@pytest.mark.slow
def test_retry_idempotence_same_batch(spark, tmp_path):
    """A replayed batch (job retry after its append landed) must
    re-derive the SAME decisions — not drop everything as history
    duplicates of itself — and must not re-append (code-review r7)."""
    path = str(tmp_path / "ivf")
    b = _emb(spark, [(1, _unit(5)), (2, _unit(5, bump=0.02)), (3, _unit(77))])
    d1 = {r["vec_id"]: r["keep"] for r in semantic_dedup_decisions(
        spark, b, path, threshold=0.99, n_probe=2, n_centroids=4, dims=DIMS
    ).collect()}
    assert d1 == {1: True, 2: False, 3: True}
    n_after_first = IVFIndex(spark, path).lists().count()
    # replay: identical inputs, same index path
    d2 = {r["vec_id"]: r["keep"] for r in semantic_dedup_decisions(
        spark, b, path, threshold=0.99, n_probe=2, n_centroids=4, dims=DIMS
    ).collect()}
    assert d2 == d1
    assert IVFIndex(spark, path).lists().count() == n_after_first


@pytest.mark.slow
def test_pipeline_retry_idempotent(spark, tmp_path):
    """Full-pipeline retry with the same inputs returns the same docs
    (the r7 code-review repro: the second run used to return [])."""
    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus

    path = str(tmp_path / "ivf")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma one"), (2, "different text two"), (3, "third doc three")],
        "doc_id long, text string",
    )
    emb = _emb(spark, [(1, _unit(5)), (2, _unit(33)), (3, _unit(5, bump=0.01))])
    kw = dict(
        near_threshold=None, min_tokens=0, embeddings=emb,
        embedding_index_path=path, embedding_threshold=0.99,
        embedding_centroids=4, embedding_dims=DIMS,
    )
    first = sorted(r["doc_id"] for r in prepare_training_corpus(docs, **kw).collect())
    second = sorted(r["doc_id"] for r in prepare_training_corpus(docs, **kw).collect())
    assert first == second == [1, 2]
    assert IVFIndex(spark, path).lists().count() == 2


def test_docs_without_embeddings_pass_through(spark, tmp_path):
    """Partial embedding coverage: unembedded docs are unjudged, never
    dropped (code-review r7: the semi-join deleted them)."""
    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus

    docs = spark.createDataFrame(
        [(1, "alpha beta one"), (2, "gamma delta two"), (3, "no embedding three")],
        "doc_id long, text string",
    )
    emb = _emb(spark, [(1, _unit(5)), (2, _unit(33))])  # 3 has no vector
    out = prepare_training_corpus(
        docs, near_threshold=None, min_tokens=0, embeddings=emb,
        embedding_index_path=str(tmp_path / "ivf"),
        embedding_threshold=0.99, embedding_centroids=4, embedding_dims=DIMS,
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2, 3]


@pytest.mark.slow
def test_index_holds_final_survivors_not_prequality(spark, tmp_path):
    """A doc that passes semantic dedup but fails a later quality floor
    must NOT enter the index (it never reached the corpus, so it must
    not suppress future near-twins) — code-review r7."""
    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus

    path = str(tmp_path / "ivf")
    docs = spark.createDataFrame(
        [(1, "long enough document with many tokens here"), (2, "short")],
        "doc_id long, text string",
    )
    emb = _emb(spark, [(1, _unit(5)), (2, _unit(33))])
    out = prepare_training_corpus(
        docs, near_threshold=None, min_tokens=3, embeddings=emb,
        embedding_index_path=path, embedding_threshold=0.99,
        embedding_centroids=4, embedding_dims=DIMS,
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [1]
    assert [r["vec_id"] for r in IVFIndex(spark, path).lists().collect()] == [1]
    # a later batch semantically equal to the REJECTED doc 2 is novel
    out2 = prepare_training_corpus(
        spark.createDataFrame(
            [(50, "fresh quality text with plenty of tokens")],
            "doc_id long, text string",
        ),
        near_threshold=None, min_tokens=3,
        embeddings=_emb(spark, [(50, _unit(33, bump=0.005))]),
        embedding_index_path=path, embedding_threshold=0.99,
        embedding_centroids=4, embedding_dims=DIMS,
    )
    assert [r["doc_id"] for r in out2.collect()] == [50]


def test_stage_combination_guards(spark):
    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="eval_docs"):
        prepare_training_corpus(
            docs, near_threshold=None, fuzzy_decontam_threshold=0.8
        )
    with pytest.raises(ValueError, match="lm_min_avg_logp"):
        prepare_training_corpus(
            docs, near_threshold=None,
            lm_model=spark.createDataFrame(
                [("a", "b", 1, 1, 2)], "w1 string, w2 string, c2 long, c1 long, v long"
            ),
        )


def test_fuzzy_decontam_custom_id_col(spark):
    """code-review r7: a non-default id_col used to crash the fuzzy
    stage with UNRESOLVED_COLUMN doc_id."""
    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "one two three four five")],
        "my_id long, text string",
    )
    evals = spark.createDataFrame(
        [(9, "pre alpha beta gamma delta epsilon")], "my_id long, text string"
    )
    out = prepare_training_corpus(
        docs, id_col="my_id", near_threshold=None, min_tokens=0,
        eval_docs=evals, fuzzy_decontam_threshold=0.6, fuzzy_decontam_n=3,
    )
    assert sorted(r["my_id"] for r in out.collect()) == [2]


@pytest.mark.slow
def test_degenerate_bucket_cap(spark, tmp_path):
    """All-identical vectors land in ONE bucket; with max_bucket below
    the batch size the quadratic within-bucket join is skipped (rows
    keep their own decision, nothing is silently dropped)."""
    same = _unit(42)
    rows = [(i, same) for i in range(1, 9)]
    dec = semantic_dedup_decisions(
        spark, _emb(spark, rows), str(tmp_path / "ivf"),
        threshold=0.99, n_probe=1, n_centroids=4, dims=DIMS,
        max_bucket=4,
    )
    got = {r["vec_id"]: r["keep"] for r in dec.collect()}
    # the hot bucket was skipped: every row survives as its own keeper
    assert got == {i: True for i in range(1, 9)}
    # with the cap off, the clones collapse to the min-id keeper
    dec2 = semantic_dedup_decisions(
        spark, _emb(spark, rows), str(tmp_path / "ivf2"),
        threshold=0.99, n_probe=1, n_centroids=4, dims=DIMS,
        max_bucket=None,
    )
    got2 = {r["vec_id"]: r["keep"] for r in dec2.collect()}
    assert got2 == {i: (i == 1) for i in range(1, 9)}
