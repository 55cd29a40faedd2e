"""Per-document removal-provenance ledger (operators/provenance.py +
prepare_training_corpus(removal_ledger=...)): every dropped document
appears exactly once with its stage, reason and attribution."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus
from hedera_etl_spark.operators.provenance import RemovalLedger

BASE = "the quick brown fox jumps over the lazy dog and keeps running fast today"
DIMS = 8


def _unit(seed: int, bump: float = 0.0) -> list[float]:
    import random

    rng = random.Random(seed)
    v = [rng.uniform(-1, 1) for _ in range(DIMS)]
    v[0] += bump
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _ledger_rows(ledger: RemovalLedger):
    return sorted(
        (
            (r["doc_id"], r["stage"], r["reason"], r["ref_id"])
            for r in ledger.df().collect()
        )
    )


def _assert_partition(input_ids, kept_ids, ledger_rows):
    """Kept and dropped partition the input; every dropped doc appears
    EXACTLY once in the ledger."""
    dropped = [r[0] for r in ledger_rows]
    assert len(dropped) == len(set(dropped)), "ledger has duplicate doc rows"
    assert set(kept_ids) | set(dropped) == set(input_ids)
    assert not set(kept_ids) & set(dropped)


def test_ledger_partitions_input_with_refs(spark):
    """Exact dup -> keeper ref; near dup -> keeper ref; contamination ->
    eval-item ref; token floor -> NULL ref."""
    docs = spark.createDataFrame(
        [
            (1, BASE),
            (2, BASE),  # exact clone of 1
            (3, BASE + " zzz"),  # near-dup of 1
            (4, "completely different words about spark execution plans here"),
            (5, "leaked evaluation answer text exactly verbatim here today"),
            (6, "tiny words"),  # below the token floor
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "leaked evaluation answer text exactly verbatim here today")],
        "doc_id long, text string",
    )
    ledger = RemovalLedger()
    out = prepare_training_corpus(
        docs,
        near_threshold=0.5,
        eval_docs=eval_docs,
        decontam_mode="exact",
        decontam_n=5,
        min_tokens=5,
        removal_ledger=ledger,
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    rows = _ledger_rows(ledger)
    assert kept == [1, 4]
    _assert_partition([1, 2, 3, 4, 5, 6], kept, rows)
    assert rows == [
        (2, "exact_dedup", "exact_duplicate", "1"),
        (3, "near_dedup", "near_duplicate", "1"),
        (5, "decontam", "contaminated", "100"),
        (6, "quality_floor", "below_min_tokens", None),
    ]


def test_paragraph_emptied_and_sampling_recorded(spark):
    """A boilerplate-only document empties at the paragraph stage; the
    deterministic sample records its drops; the partition holds."""
    boiler = "This website uses cookies to improve your experience."
    rows = [(1, boiler + "\n\nunique first document body here")]
    rows += [
        (i, f"document number {i} body with its own distinct words {i}")
        for i in range(2, 30)
    ]
    rows.append((99, boiler))  # boilerplate-only: empties
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ledger = RemovalLedger()
    out = prepare_training_corpus(
        docs,
        paragraph_dedup_sep="\n\n",
        near_threshold=None,
        min_tokens=0,
        sample_rate=0.6,
        salt="prov",
        removal_ledger=ledger,
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    rows_l = _ledger_rows(ledger)
    _assert_partition([r[0] for r in rows], kept, rows_l)
    by_doc = {r[0]: r[1:] for r in rows_l}
    assert by_doc[99] == ("paragraph_dedup", "emptied", None)
    sampled_out = [d for d, r in by_doc.items() if r[0] == "rate_sample"]
    assert sampled_out, "sample_rate=0.6 dropped nothing?"
    assert all(by_doc[d] == ("rate_sample", "rate_sample", None) for d in sampled_out)


@pytest.mark.slow
def test_semantic_stage_records_keeper_and_history(spark, tmp_path):
    """Within-batch semantic dup -> keeper ref; cross-batch history hit
    -> vs_history reason with NULL ref (the match lives in the index)."""
    path = str(tmp_path / "ivf")
    emb_schema = "vec_id long, embedding array<float>"
    docs1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon one"),
            (2, "totally different text about graphs two"),
            (3, "yet another unrelated document three"),
        ],
        "doc_id long, text string",
    )
    # 1 and 3 semantically identical
    emb1 = spark.createDataFrame(
        [(1, _unit(5)), (2, _unit(33)), (3, _unit(5, bump=0.01))], emb_schema
    )
    common = dict(
        near_threshold=None,
        min_tokens=0,
        embedding_index_path=path,
        embedding_threshold=0.99,
        embedding_centroids=4,
        embedding_dims=DIMS,
    )
    led1 = RemovalLedger()
    out1 = prepare_training_corpus(
        docs1, embeddings=emb1, removal_ledger=led1, **common
    )
    assert sorted(r["doc_id"] for r in out1.collect()) == [1, 2]
    assert _ledger_rows(led1) == [(3, "semantic_dedup", "semantic_duplicate", "1")]

    docs2 = spark.createDataFrame(
        [(50, "fresh wording, same meaning as two"), (60, "genuinely new")],
        "doc_id long, text string",
    )
    emb2 = spark.createDataFrame(
        [(50, _unit(33, bump=0.01)), (60, _unit(123))], emb_schema
    )
    led2 = RemovalLedger()
    out2 = prepare_training_corpus(
        docs2, embeddings=emb2, removal_ledger=led2, **common
    )
    assert sorted(r["doc_id"] for r in out2.collect()) == [60]
    assert _ledger_rows(led2) == [
        (50, "semantic_dedup", "semantic_duplicate_vs_history", None)
    ]


@pytest.mark.slow
def test_semantic_member_of_history_hit_keeper_still_ledgered(spark, tmp_path):
    """r11 review finding: when a cluster's keeper is ITSELF a history
    hit, the component has no keep=True row — the member's ledger row
    must still appear (ref NULL), not vanish through an inner join."""
    path = str(tmp_path / "ivf2")
    a = math.radians(7)
    H = [math.cos(a), math.sin(a)] + [0.0] * 6  # installed as history
    K = [1.0, 0.0] + [0.0] * 6  # cos(K,H)=cos7 ~ .992 >= .99
    M = [math.cos(a), -math.sin(a)] + [0.0] * 6  # cos(M,K)~.992, cos(M,H)=cos14 ~ .970 < .99
    emb_schema = "vec_id long, embedding array<float>"
    common = dict(
        near_threshold=None,
        min_tokens=0,
        embedding_index_path=path,
        embedding_threshold=0.99,
        embedding_centroids=2,
        embedding_dims=DIMS,
    )
    prepare_training_corpus(
        spark.createDataFrame([(100, "history doc text")], "doc_id long, text string"),
        embeddings=spark.createDataFrame([(100, H)], emb_schema),
        **common,
    ).collect()

    led = RemovalLedger()
    out = prepare_training_corpus(
        spark.createDataFrame(
            [(1, "keeper candidate text"), (2, "member candidate text")],
            "doc_id long, text string",
        ),
        embeddings=spark.createDataFrame([(1, K), (2, M)], emb_schema),
        removal_ledger=led,
        **common,
    )
    assert out.count() == 0  # keeper hits history; member follows its cluster
    rows = _ledger_rows(led)
    _assert_partition([1, 2], [], rows)
    assert rows == [
        (1, "semantic_dedup", "semantic_duplicate_vs_history", None),
        (2, "semantic_dedup", "semantic_duplicate", None),
    ]


def test_empty_ledger_raises(spark):
    with pytest.raises(ValueError, match="empty RemovalLedger"):
        RemovalLedger().df()


def test_cli_prepare_exports_ledger(spark, tmp_path, capsys):
    """--removal-ledger-out writes the provenance parquet alongside the
    shard export."""
    from hedera_etl_spark import cli

    docs = spark.createDataFrame(
        [(i, BASE if i <= 2 else f"distinct document body number {i} words")
         for i in range(1, 12)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    out = str(tmp_path / "prep")
    ledger_out = str(tmp_path / "ledger")
    rc = cli.main(
        [
            "prepare",
            "--input", src,
            "--out-dir", out,
            "--max-tokens", "256",
            "--n-shards", "2",
            "--removal-ledger-out", ledger_out,
        ]
    )
    assert rc == 0
    assert "removal_ledger:" in capsys.readouterr().out
    led = spark.read.parquet(ledger_out)
    assert sorted(led.columns) == ["doc_id", "reason", "ref_id", "stage"]
    rows = {r["doc_id"]: (r["stage"], r["reason"], r["ref_id"]) for r in led.collect()}
    # doc 2 is the exact clone of doc 1
    assert rows[2] == ("exact_dedup", "exact_duplicate", "1")


def test_drop_chain_follows_keeper_fate(spark):
    """VERDICT r11 #5: the lookup answers "why did doc X disappear" by
    following the keeper chain — loser -> keeper -> the keeper's own
    later fate — and never follows decontam refs (eval-id namespace)."""
    from hedera_etl_spark.operators.provenance import drop_chain

    ledger = spark.createDataFrame(
        [
            # epoch 0: doc 5 collapsed into keeper 3
            (5, "exact_dedup", "exact_duplicate_in_batch", "3", "stream-0"),
            # epoch 2: keeper 3 itself dropped as a near-dup of store doc 1
            (3, "near_dedup", "near_duplicate_vs_store", "1", "stream-2"),
            # unrelated row; doc 1 has no records (it survived)
            (9, "quality_floor", "below_min_tokens", None, "stream-1"),
            # decontam ref: shares the NUMBER 3 but is an EVAL id — the
            # walk must not conflate namespaces
            (7, "decontam", "contaminated", "3", "stream-0"),
        ],
        ["doc_id", "stage", "reason", "ref_id", "epoch"],
    )
    chain = drop_chain(ledger, 5)
    rows = [(r["hop"], r["doc_id"], r["stage"], r["ref_id"]) for r in chain.collect()]
    assert rows == [
        (0, 5, "exact_dedup", "3"),
        (1, 3, "near_dedup", "1"),
        # doc 1 has no records: the chain ends (survivor)
    ]
    # a doc dropped only by decontam: one record, nothing followed
    rows7 = [(r["hop"], r["doc_id"]) for r in drop_chain(ledger, 7).collect()]
    assert rows7 == [(0, 7)]
    # a never-dropped doc: empty chain
    assert drop_chain(ledger, 1).count() == 0
    # max_hops truncates the walk
    assert drop_chain(ledger, 5, max_hops=1).count() == 1


def test_drop_chain_without_epoch_column(spark):
    from hedera_etl_spark.operators.provenance import drop_chain

    ledger = spark.createDataFrame(
        [(5, "exact_dedup", "exact_duplicate", "3", )],
        ["doc_id", "stage", "reason", "ref_id"],
    )
    rows = drop_chain(ledger, 5).collect()
    assert [r["doc_id"] for r in rows] == [5]
    assert "epoch" not in drop_chain(ledger, 5).columns


def test_cli_why_roundtrip(spark, tmp_path, capsys):
    """CLI `why` over both ledger layouts: the prepare parquet dir and
    the streaming batch-<epoch> layout."""
    from hedera_etl_spark import cli

    rows = [
        (5, "exact_dedup", "exact_duplicate_in_batch", "3", "stream-0"),
        (3, "near_dedup", "near_duplicate_vs_store", "1", "stream-2"),
    ]
    cols = ["doc_id", "stage", "reason", "ref_id", "epoch"]
    # batch layout: one parquet dir
    flat = str(tmp_path / "ledger-flat")
    spark.createDataFrame(rows, cols).write.parquet(flat)
    rc = cli.main(["why", "--ledger", flat, "--doc-id", "5"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "doc 5: stage=exact_dedup" in out and "ref=3" in out
    assert "doc 3: stage=near_dedup" in out
    assert "doc 1: kept (no removal records)" in out

    # streaming layout: batch-<epoch> subdirectories
    staged = str(tmp_path / "ledger-stream")
    for i, r in enumerate(rows):
        spark.createDataFrame([r], cols).write.parquet(f"{staged}/batch-e{i}")
    rc = cli.main(["why", "--ledger", staged, "--doc-id", "5"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "doc 3: stage=near_dedup" in out

    # survivor: friendly message, rc 0
    rc = cli.main(["why", "--ledger", flat, "--doc-id", "1"])
    assert rc == 0
    assert "no removal records" in capsys.readouterr().out

    # whole-ledger drop report
    rc = cli.main(["why", "--ledger", flat, "--summary"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "exact_dedup/exact_duplicate_in_batch: 1" in out
    assert "near_dedup/near_duplicate_vs_store: 1" in out
    assert "total_removed=2" in out
    # neither --doc-id nor --summary: usage error
    assert cli.main(["why", "--ledger", flat]) == 2


def test_drop_chain_string_ids(spark):
    """r12 review finding: RemovalLedger preserves the corpus id type —
    string-keyed ledgers must chain too (no hardcoded LongType)."""
    from hedera_etl_spark.operators.provenance import drop_chain

    ledger = spark.createDataFrame(
        [
            ("doc-b", "exact_dedup", "exact_duplicate", "doc-a"),
            ("doc-a", "quality_floor", "below_min_tokens", None),
        ],
        ["doc_id", "stage", "reason", "ref_id"],
    )
    chain = drop_chain(ledger, "doc-b")
    rows = [(r["hop"], r["doc_id"], r["stage"]) for r in chain.collect()]
    assert rows == [
        (0, "doc-b", "exact_dedup"),
        (1, "doc-a", "quality_floor"),
    ]
    assert dict(chain.dtypes)["doc_id"] == "string"


def test_cluster_balance_drops_ledgered(spark):
    """r13 advice (medium): with removal_ledger AND cluster_balance_k
    both set, the cluster stage's semi-join drops — downsampled docs
    AND docs with no embedding row — must land in the ledger (NULL
    ref), preserving the partition invariant."""
    import hashlib

    from hedera_etl_spark.operators.similarity import ivf_centroids

    dims, k = 8, 4
    cents = ivf_centroids(k, dims)
    rows, erows = [], []
    vid = 0
    for ci, n in ((0, 50), (1, 5), (2, 5)):
        for _ in range(n):
            jit = [
                0.01 * (int(hashlib.md5(f"{vid}:{d}".encode()).hexdigest()[:4], 16)
                        / 65535.0 - 0.5)
                for d in range(dims)
            ]
            rows.append((vid, f"document number {vid} with unique words w{vid}a w{vid}b"))
            erows.append((vid, [cents[ci][d] + jit[d] for d in range(dims)]))
            vid += 1
    rows.append((9_999, "no embedding for this one so it has no cluster share"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    emb = spark.createDataFrame(erows, "vec_id long, embedding array<double>")
    ledger = RemovalLedger()
    out = prepare_training_corpus(
        docs,
        near_threshold=0.0,
        min_tokens=2,
        cluster_balance_k=k,
        cluster_centroids=cents,
        embedding_dims=dims,
        embeddings=emb,
        embedding_index_path=None,
        sample_rate=1.0,
        salt="cbal-ledger",
        removal_ledger=ledger,
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    rows_l = _ledger_rows(ledger)
    _assert_partition([r[0] for r in rows], kept, rows_l)
    by_doc = {r[0]: r[1:] for r in rows_l}
    # the no-embedding doc is a cluster_balance drop with NULL ref
    assert by_doc[9_999] == ("cluster_balance", "cluster_downsample", None)
    # the hot topic downsampled: at least one of its docs is ledgered
    # under the stage, none under any other stage
    hot_dropped = [d for d in by_doc if d < 50]
    assert hot_dropped, "hot cluster downsampled nothing?"
    assert all(
        by_doc[d] == ("cluster_balance", "cluster_downsample", None)
        for d in hot_dropped
    )
