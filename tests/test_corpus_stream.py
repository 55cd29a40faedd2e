"""Continuous corpus ingestion (streaming/corpus.py): cross-batch
streaming dedup through the signature store, restart resumption, and
replay idempotence."""

from __future__ import annotations

import json
import os

import pytest

from hedera_etl_spark.streaming.corpus import CorpusIngestPipeline

BASE = "the quick brown fox jumps over the lazy dog and keeps running fast today"
OTHER = "completely different prose concerning spark execution plans and shuffles"


def _write_jsonl(path, rows):
    with open(path, "w") as fh:
        for doc_id, text in rows:
            fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


@pytest.fixture()
def dirs(tmp_path):
    (tmp_path / "in").mkdir()
    return {
        "in": str(tmp_path / "in"),
        "corpus": str(tmp_path / "corpus"),
        "store": str(tmp_path / "store"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _pipeline(spark, dirs):
    return CorpusIngestPipeline(
        spark,
        input_dir=dirs["in"],
        corpus_table=dirs["corpus"],
        store_path=dirs["store"],
        checkpoint=dirs["ckpt"],
    )


def test_streamed_batches_dedup_against_history(spark, dirs):
    _write_jsonl(
        os.path.join(dirs["in"], "b1.jsonl"),
        [(1, BASE), (2, BASE), (3, OTHER)],  # 2 is an in-batch clone
    )
    p1 = _pipeline(spark, dirs)
    m1 = p1.run_until_drained()
    assert m1.accepted == 2 and m1.dropped_exact == 1
    assert sorted(r["doc_id"] for r in p1.read_corpus().collect()) == [1, 3]

    # second run, same checkpoint: only the new file processes, and its
    # rows dedup against the PERSISTED history
    _write_jsonl(
        os.path.join(dirs["in"], "b2.jsonl"),
        [(10, BASE), (11, BASE + " zzz"), (12, "fresh new content words here")],
    )
    p2 = _pipeline(spark, dirs)
    m2 = p2.run_until_drained()
    assert m2.rows_in == 3  # b1 not reprocessed
    assert m2.accepted == 1
    assert m2.dropped_exact == 1 and m2.dropped_near == 1
    assert sorted(r["doc_id"] for r in p2.read_corpus().collect()) == [1, 3, 12]


def test_epoch_replay_is_idempotent(spark, dirs):
    """Replaying a processed epoch (crash between store/corpus commit and
    checkpoint commit) must not change the corpus."""
    _write_jsonl(os.path.join(dirs["in"], "b1.jsonl"), [(1, BASE), (2, OTHER)])
    p = _pipeline(spark, dirs)
    p.run_until_drained()
    before = sorted(map(tuple, p.read_corpus().collect()))

    batch = spark.createDataFrame([(1, BASE), (2, OTHER)], ["doc_id", "text"])
    p._process_batch(batch, 0)  # simulate the replayed epoch
    assert p.metrics.replayed_batches == 1
    assert sorted(map(tuple, p.read_corpus().collect())) == before


def test_lost_append_window_heals_on_replay(spark, dirs):
    """Crash window 2: store committed, corpus batch dir never landed.
    The replay must regenerate the batch directory from the recorded
    decision."""
    import shutil

    _write_jsonl(os.path.join(dirs["in"], "b1.jsonl"), [(1, BASE), (2, OTHER)])
    p = _pipeline(spark, dirs)
    p.run_until_drained()
    shutil.rmtree(os.path.join(dirs["corpus"], "batch-stream-0"))
    assert p.read_corpus().count() == 0

    batch = spark.createDataFrame([(1, BASE), (2, OTHER)], ["doc_id", "text"])
    p._process_batch(batch, 0)
    assert sorted(r["doc_id"] for r in p.read_corpus().collect()) == [1, 2]


def test_cli_corpus_ingest_roundtrip(spark, dirs, capsys):
    from hedera_etl_spark import cli

    _write_jsonl(
        os.path.join(dirs["in"], "b1.jsonl"), [(1, BASE), (2, BASE), (3, OTHER)]
    )
    rc = cli.main(
        [
            "corpus-ingest",
            "--input-dir", dirs["in"],
            "--corpus-table", dirs["corpus"],
            "--store", dirs["store"],
            "--checkpoint", dirs["ckpt"],
            # streaming users can set the paragraph exemption threshold
            # (ADVICE r9: prepare exposed it, corpus-ingest did not)
            "--paragraph-dedup-sep", "\n\n",
            "--paragraph-min-chars", "3",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    # the whole-doc clone (doc 2) is consumed by the PARAGRAPH stage
    # (its only paragraph is doc 1's), so the doc-level exact counter
    # sees 2 rows and drops none
    assert "rows_in=2" in out and "accepted=2" in out
    assert "dropped_exact=0" in out


class TestCorpusCompaction:
    """compact_corpus: fold batch dirs, crash-window reads, retired
    replay absorption (r7)."""

    def _pipe(self, spark, tmp_path, name="c"):
        import os

        from hedera_etl_spark.streaming.corpus import CorpusIngestPipeline

        base = str(tmp_path / name)
        os.makedirs(os.path.join(base, "in"))
        return CorpusIngestPipeline(
            spark,
            os.path.join(base, "in"),
            os.path.join(base, "corpus"),
            os.path.join(base, "store"),
            os.path.join(base, "ckpt"),
            max_files_per_trigger=1,
        )

    def _feed(self, pipe, name, docs):
        import json
        import os

        tmp = os.path.join(os.path.dirname(pipe.input_dir), f".{name}")
        with open(tmp, "w") as fh:
            for d, t in docs:
                fh.write(json.dumps({"doc_id": d, "text": t}) + "\n")
        os.rename(tmp, os.path.join(pipe.input_dir, name))

    def test_compact_folds_batches_preserving_rows(self, spark, tmp_path):
        pipe = self._pipe(spark, tmp_path)
        self._feed(pipe, "a.jsonl", [(1, "alpha one"), (2, "beta two")])
        pipe.run_until_drained()
        self._feed(pipe, "b.jsonl", [(3, "gamma three")])
        pipe.run_until_drained()
        before = sorted(
            (r["doc_id"], r["text"]) for r in pipe.read_corpus().collect()
        )
        assert len(pipe._live_batch_dirs()) == 2
        assert pipe.compact_corpus() == 2
        assert len(pipe._live_batch_dirs()) == 1
        after = sorted(
            (r["doc_id"], r["text"]) for r in pipe.read_corpus().collect()
        )
        assert after == before
        assert pipe.compact_corpus() == 0  # idempotent when nothing to do

    def test_crash_window_never_double_counts(self, spark, tmp_path):
        """Simulate the crash AFTER the target rename but BEFORE source
        removal: manifest + target + sources all present — reads must
        exclude the sources."""
        import json
        import os
        import shutil

        pipe = self._pipe(spark, tmp_path)
        self._feed(pipe, "a.jsonl", [(1, "alpha one"), (2, "beta two")])
        pipe.run_until_drained()
        self._feed(pipe, "b.jsonl", [(3, "gamma three")])
        pipe.run_until_drained()
        sources = pipe._live_batch_dirs()
        # build the compacted target + manifest by hand, KEEP the sources
        merged = pipe.read_corpus()
        target = "batch-compacted-crashsim"
        merged.write.parquet(os.path.join(pipe.corpus_table, ".t"))
        os.rename(
            os.path.join(pipe.corpus_table, ".t"),
            os.path.join(pipe.corpus_table, target),
        )
        mdir = os.path.join(pipe.corpus_table, "_compaction")
        os.makedirs(mdir, exist_ok=True)
        with open(os.path.join(mdir, f"{target}.json"), "w") as fh:
            json.dump({"target": target, "sources": sources}, fh)
        # sources still on disk, but reads see each row exactly once
        assert pipe.read_corpus().count() == 3
        # a manifest WITHOUT its target is inert (crash before rename)
        shutil.rmtree(os.path.join(pipe.corpus_table, target))
        assert sorted(pipe._live_batch_dirs()) == sorted(sources)
        assert pipe.read_corpus().count() == 3

    def test_retired_batch_replay_does_not_resurrect(self, spark, tmp_path):
        import os

        pipe = self._pipe(spark, tmp_path)
        self._feed(pipe, "a.jsonl", [(1, "alpha one")])
        pipe.run_until_drained()
        self._feed(pipe, "b.jsonl", [(2, "beta two")])
        pipe.run_until_drained()
        pipe.compact_corpus()
        n_dirs = len(pipe._live_batch_dirs())
        # very late replay of an already-compacted batch id
        row = pipe.read_corpus().limit(1)
        pipe._commit_corpus_batch(row, "stream-0")
        assert len(pipe._live_batch_dirs()) == n_dirs
        assert pipe.read_corpus().count() == 2

    def test_compact_on_empty_or_single_batch_is_noop(self, spark, tmp_path):
        pipe = self._pipe(spark, tmp_path, name="noop")
        assert pipe.compact_corpus() == 0
        assert pipe.read_corpus().count() == 0
        self._feed(pipe, "a.jsonl", [(1, "alpha one")])
        pipe.run_until_drained()
        assert pipe.compact_corpus() == 0  # single dir: nothing to fold
        assert pipe.read_corpus().count() == 1

    def test_second_compaction_keeps_retirement_transitive(self, spark, tmp_path):
        """r7 third-review finding: compaction 2 deletes compaction 1's
        target; manifest subsumption must keep 1's sources retired (a
        late replay of them must not resurrect, and orphans from 1's
        crash window must not revive)."""
        import os
        import shutil

        pipe = self._pipe(spark, tmp_path, name="t")
        self._feed(pipe, "a.jsonl", [(1, "alpha one")])
        pipe.run_until_drained()
        self._feed(pipe, "b.jsonl", [(2, "beta two")])
        pipe.run_until_drained()
        assert pipe.compact_corpus() == 2  # -> target X retires a, b
        # simulate compaction-1 crash leftovers: re-create a source dir
        orphan = os.path.join(pipe.corpus_table, "batch-stream-0")
        os.makedirs(orphan, exist_ok=True)
        self._feed(pipe, "c.jsonl", [(3, "gamma three")])
        pipe.run_until_drained()
        assert pipe.compact_corpus() == 2  # folds X + c, deletes X
        # one subsuming manifest; the replay/orphan cannot come back
        mdir = os.path.join(pipe.corpus_table, "_compaction")
        assert len([f for f in os.listdir(mdir) if f.endswith(".json")]) == 1
        assert not os.path.exists(orphan)
        assert pipe.read_corpus().count() == 3
        row = pipe.read_corpus().limit(1)
        pipe._commit_corpus_batch(row, "stream-0")  # very late replay
        assert pipe.read_corpus().count() == 3


def test_streaming_paragraph_dedup_across_epochs(spark, dirs):
    """With --paragraph-dedup-sep, each epoch's paragraphs are judged
    against every EARLIER epoch via the persisted hash store: recycled
    boilerplate is cut from later arrivals before document dedup, and a
    same-checkpoint restart replays without double-counting."""
    banner = "SUBSCRIBE for our daily newsletter and exclusive offers"

    def pipeline():
        return CorpusIngestPipeline(
            spark,
            input_dir=dirs["in"],
            corpus_table=dirs["corpus"],
            store_path=dirs["store"],
            checkpoint=dirs["ckpt"],
            paragraph_dedup_sep="\n\n",
        )

    _write_jsonl(
        os.path.join(dirs["in"], "b1.jsonl"),
        [(1, f"{BASE}\n\n{banner}"), (2, OTHER)],
    )
    p1 = pipeline()
    m1 = p1.run_until_drained()
    assert m1.accepted == 2 and m1.dropped_paragraph_docs == 0
    texts = {r["doc_id"]: r["text"] for r in p1.read_corpus().collect()}
    assert banner in texts[1]

    # epoch 2: one doc is ONLY recycled paragraphs (vanishes at the
    # paragraph stage), one mixes the banner with novel prose (banner
    # cut, novel part accepted)
    _write_jsonl(
        os.path.join(dirs["in"], "b2.jsonl"),
        [(10, banner), (11, f"{banner}\n\nnovel epoch two prose")],
    )
    p2 = pipeline()
    m2 = p2.run_until_drained()
    assert m2.dropped_paragraph_docs == 1  # doc 10
    texts = {r["doc_id"]: r["text"] for r in p2.read_corpus().collect()}
    assert texts[11] == "novel epoch two prose"
    assert sorted(texts) == [1, 2, 11]

    # replay the same epochs on a FRESH checkpoint: both stores replay
    # their recorded decisions — corpus unchanged, no double counting
    import shutil

    shutil.rmtree(dirs["ckpt"])
    p3 = pipeline()
    m3 = p3.run_until_drained()
    assert m3.dropped_paragraph_docs == 0 and m3.accepted == 0
    assert m3.replayed_batches == m3.batches
    assert sorted(
        r["doc_id"] for r in p3.read_corpus().collect()
    ) == [1, 2, 11]


def test_rejected_doc_paragraphs_stay_claimable(spark, dirs):
    """ADVICE r9 (medium): paragraph hashes commit only for documents the
    DOC-level stage accepted.  A paragraph whose canonical home is
    rejected as a near-dup never enters the corpus — committing its hash
    would permanently cut the content from every later epoch even though
    it was never published."""
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    para1 = " ".join(f"w{i:02d}" for i in range(60))
    variant = " ".join(f"w{i:02d}" for i in range(59)) + " CHANGED"
    P = "keep this paragraph intact please"

    def pipeline():
        return CorpusIngestPipeline(
            spark,
            input_dir=dirs["in"],
            corpus_table=dirs["corpus"],
            store_path=dirs["store"],
            checkpoint=dirs["ckpt"],
            paragraph_dedup_sep="\n\n",
        )

    # epoch 1: doc 1 = para1 (accepted); doc 2 = near-dup of doc 1 at the
    # shingle level (one token changed -> no exact-paragraph cut) plus a
    # brand-new paragraph P.  Doc 2 is REJECTED by doc-level near-dedup.
    _write_jsonl(
        os.path.join(dirs["in"], "b1.jsonl"),
        [(1, para1), (2, f"{variant}\n\n{P}")],
    )
    p1 = pipeline()
    m1 = p1.run_until_drained()
    assert m1.accepted == 1 and m1.dropped_near == 1
    assert sorted(r["doc_id"] for r in p1.read_corpus().collect()) == [1]
    committed = {r["para_hash"] for r in p1.paragraph_store.hashes().collect()}
    assert md5(para1) in committed
    # the rejected doc's paragraphs were NOT recorded as accepted
    assert md5(P) not in committed and md5(variant) not in committed

    # epoch 2: P arrives in a genuinely novel document — its one
    # legitimate home must survive, not be cut by a phantom history entry
    filler = " ".join(f"z{i:02d}" for i in range(60))
    _write_jsonl(
        os.path.join(dirs["in"], "b2.jsonl"), [(10, f"{P}\n\n{filler}")]
    )
    p2 = pipeline()
    p2.run_until_drained()
    rows = {r["doc_id"]: r["text"] for r in p2.read_corpus().collect()}
    assert rows[10] == f"{P}\n\n{filler}"
    committed2 = {r["para_hash"] for r in p2.paragraph_store.hashes().collect()}
    assert md5(P) in committed2


def test_cli_compact_after_folds_all_three_stores(spark, dirs, capsys):
    from hedera_etl_spark import cli

    _write_jsonl(os.path.join(dirs["in"], "b1.jsonl"), [(1, BASE)])
    _write_jsonl(os.path.join(dirs["in"], "b2.jsonl"), [(2, OTHER)])
    rc = cli.main(
        [
            "corpus-ingest",
            "--input-dir", dirs["in"],
            "--corpus-table", dirs["corpus"],
            "--store", dirs["store"],
            "--checkpoint", dirs["ckpt"],
            "--paragraph-dedup-sep", "\n\n",
            "--max-files-per-trigger", "1",
            "--compact-after",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "compacted=2 batch dirs" in out
    assert "compacted=2 signature-store batch dirs" in out
    assert "compacted=2 paragraph-store batch dirs" in out
    # the compacted stores still serve history on the next run
    _write_jsonl(os.path.join(dirs["in"], "b3.jsonl"), [(10, BASE)])
    rc = cli.main(
        [
            "corpus-ingest",
            "--input-dir", dirs["in"],
            "--corpus-table", dirs["corpus"],
            "--store", dirs["store"],
            "--checkpoint", dirs["ckpt"],
            "--paragraph-dedup-sep", "\n\n",
        ]
    )
    assert rc == 0
    assert "accepted=0" in capsys.readouterr().out  # BASE cut vs history


def test_streaming_decontamination_guards_the_stores(spark, dirs):
    """A benchmark-contaminated document is dropped BEFORE any store
    commit — its hashes/signatures never become 'accepted' history, and
    a replayed epoch reproduces the same decision."""
    from pyspark.sql import functions as F

    eval_docs = spark.createDataFrame(
        [(100, BASE)], ["doc_id", "text"]
    )
    _write_jsonl(
        os.path.join(dirs["in"], "b1.jsonl"),
        [(1, BASE + " extra tail"), (2, OTHER)],  # 1 shares a 13-gram
    )

    def pipeline():
        return CorpusIngestPipeline(
            spark,
            input_dir=dirs["in"],
            corpus_table=dirs["corpus"],
            store_path=dirs["store"],
            checkpoint=dirs["ckpt"],
            eval_docs=eval_docs,
            paragraph_dedup_sep="\n\n",
        )

    p = pipeline()
    m = p.run_until_drained()
    assert m.dropped_contaminated == 1 and m.accepted == 1
    assert sorted(r["doc_id"] for r in p.read_corpus().collect()) == [2]
    # nothing of doc 1 entered either store
    assert p.store.content().count() == 1
    stored_hashes = {r["para_hash"] for r in p.paragraph_store.hashes().collect()}
    import hashlib

    assert hashlib.md5((BASE + " extra tail").encode()).hexdigest() not in stored_hashes
    # replay of the committed epoch: same decision, no double counting
    batch = spark.createDataFrame(
        [(1, BASE + " extra tail"), (2, OTHER)], ["doc_id", "text"]
    )
    p._process_batch(batch, 0)
    assert p.metrics.replayed_batches == 1
    assert p.metrics.dropped_contaminated == 1  # unchanged
    assert sorted(r["doc_id"] for r in p.read_corpus().collect()) == [2]


def test_eval_rotation_versioned_and_replay_stable(spark, dirs):
    """VERDICT r10 #7: an eval refresh takes effect from the NEXT epoch,
    and a replayed OLD epoch keeps its original decision — it re-reads
    ITS recorded version's persisted shingles, not the current set."""
    eval_v1 = spark.createDataFrame([(100, BASE)], ["doc_id", "text"])
    _write_jsonl(
        os.path.join(dirs["in"], "b1.jsonl"),
        [(1, BASE + " extra tail"), (2, OTHER)],  # 1 contaminated under v1
    )
    p = CorpusIngestPipeline(
        spark,
        input_dir=dirs["in"],
        corpus_table=dirs["corpus"],
        store_path=dirs["store"],
        checkpoint=dirs["ckpt"],
        eval_docs=eval_v1,
        eval_version="v1",
    )
    m = p.run_until_drained()
    assert m.dropped_contaminated == 1
    assert sorted(r["doc_id"] for r in p.read_corpus().collect()) == [2]
    assert p._epoch_eval_versions() == {"stream-0": "v1"}

    # rotate: v2 contaminates OTHER instead of BASE
    eval_v2 = spark.createDataFrame([(200, OTHER)], ["doc_id", "text"])
    p.set_eval_docs(eval_v2, "v2")
    _write_jsonl(
        os.path.join(dirs["in"], "b2.jsonl"),
        # 10 is clean under v1 but contaminated under v2; 11 was
        # contaminated under v1 but is clean under v2 (and doc 1 never
        # entered the store, so 11 is genuinely new history-wise)
        [(10, OTHER + " trailing words"), (11, BASE + " extra tail")],
    )
    p.run_until_drained()
    assert p._epoch_eval_versions()["stream-1"] == "v2"
    corpus_now = sorted(r["doc_id"] for r in p.read_corpus().collect())
    assert corpus_now == [2, 11]  # 10 cut by v2; 11 clean under v2

    # replay epoch 0 (stale checkpoint) AFTER the rotation: it must
    # re-apply v1 — doc 1 stays out — even though the current set is v2
    # (under which doc 1 is clean).  Before versioning this replay ran
    # with v2 and re-admitted doc 1 in the lost-append crash window.
    import shutil

    shutil.rmtree(os.path.join(dirs["corpus"], "batch-stream-0"))
    batch = spark.createDataFrame(
        [(1, BASE + " extra tail"), (2, OTHER)], ["doc_id", "text"]
    )
    p._process_batch(batch, 0)
    assert sorted(r["doc_id"] for r in p.read_corpus().collect()) == [2, 11]

    # a FRESH pipeline instance (restart) sees the same records
    p2 = CorpusIngestPipeline(
        spark,
        input_dir=dirs["in"],
        corpus_table=dirs["corpus"],
        store_path=dirs["store"],
        checkpoint=dirs["ckpt"],
        eval_docs=eval_v2,
        eval_version="v2",
    )
    shutil.rmtree(os.path.join(dirs["corpus"], "batch-stream-0"))
    p2._process_batch(batch, 0)
    assert sorted(r["doc_id"] for r in p2.read_corpus().collect()) == [2, 11]


def test_streaming_removal_ledger_partitions_each_epoch(spark, dirs, tmp_path):
    """Streaming removal provenance (VERDICT r10 #3): every dropped doc
    appears exactly once with its stage and duplicate attribution;
    accepted + ledgered partition each epoch's input; replays write
    nothing twice."""
    ledger_dir = str(tmp_path / "ledger")
    eval_docs = spark.createDataFrame([(100, BASE)], ["doc_id", "text"])
    _write_jsonl(
        os.path.join(dirs["in"], "b1.jsonl"),
        [
            (1, OTHER),
            (2, OTHER),  # in-batch exact clone of 1
            (3, BASE + " extra tail words"),  # contaminated (shares 13-gram)
            (4, "tiny"),  # below the token floor
        ],
    )

    def pipeline():
        return CorpusIngestPipeline(
            spark,
            input_dir=dirs["in"],
            corpus_table=dirs["corpus"],
            store_path=dirs["store"],
            checkpoint=dirs["ckpt"],
            min_tokens=2,
            eval_docs=eval_docs,
            ledger_dir=ledger_dir,
        )

    p = pipeline()
    p.run_until_drained()
    assert sorted(r["doc_id"] for r in p.read_corpus().collect()) == [1]
    led = {
        r["doc_id"]: (r["stage"], r["reason"], r["ref_id"], r["epoch"])
        for r in p.read_ledger().collect()
    }
    assert led == {
        2: ("exact_dedup", "exact_duplicate_in_batch", "1", "stream-0"),
        3: ("decontam", "contaminated", None, "stream-0"),
        # stage key shared with the batch pipeline (ADVICE r11): ledgers
        # from both pipelines aggregate under one name
        4: ("quality_floor", "below_min_tokens", None, "stream-0"),
    }

    # epoch 2: near-dup of stored doc 1 + exact clone of stored doc 1
    _write_jsonl(
        os.path.join(dirs["in"], "b2.jsonl"),
        [(10, OTHER), (11, OTHER + " zzz"), (12, "fresh unseen content words here")],
    )
    p2 = pipeline()
    p2.run_until_drained()
    led2 = {
        r["doc_id"]: (r["stage"], r["reason"], r["ref_id"])
        for r in p2.read_ledger().filter("epoch = 'stream-1'").collect()
    }
    assert led2 == {
        10: ("exact_dedup", "exact_duplicate_vs_store", "1"),
        11: ("near_dedup", "near_duplicate_vs_store", "1"),
    }

    # replay of epoch 0 must not duplicate or rewrite ledger rows
    n_before = p2.read_ledger().count()
    batch = spark.createDataFrame(
        [(1, OTHER), (2, OTHER), (3, BASE + " extra tail words"), (4, "tiny")],
        ["doc_id", "text"],
    )
    p2._process_batch(batch, 0)
    assert p2.metrics.replayed_batches == 1
    assert p2.read_ledger().count() == n_before


def test_ledgered_decontam_count_rides_without_fallback(
    spark, dirs, tmp_path, monkeypatch
):
    """ADVICE r16 (a): with a removal ledger attached, the pre-decontam
    count rides the batch's own action, with no fallback aggregate job.
    A lazy ledger checkpoint completes the observation when it is
    called; the decontam checkpoint is eager so the observed node has
    run by then, whatever stage AQE puts it in."""
    from hedera_etl_spark.operators import stats

    fallbacks = []
    real = stats.robust_observe

    class _CountingFallback:
        def __init__(self, df, name):
            self._df, self._name = df, name

        @property
        def columns(self):
            return self._df.columns

        def collect(self):
            fallbacks.append(self._name)
            return self._df.collect()

    def spy(df, name, *metrics, **kw):
        out, obs = real(df, name, *metrics, **kw)
        obs._fallback = _CountingFallback(obs._fallback, name)
        return out, obs

    monkeypatch.setattr(stats, "robust_observe", spy)
    _write_jsonl(
        os.path.join(dirs["in"], "b1.jsonl"),
        [(1, OTHER), (3, BASE + " extra tail words"), (4, "tiny")],
    )
    p = CorpusIngestPipeline(
        spark,
        input_dir=dirs["in"],
        corpus_table=dirs["corpus"],
        store_path=dirs["store"],
        checkpoint=dirs["ckpt"],
        min_tokens=2,
        eval_docs=spark.createDataFrame([(100, BASE)], ["doc_id", "text"]),
        ledger_dir=str(tmp_path / "ledger"),
    )
    m = p.run_until_drained()
    assert m.dropped_contaminated == 1
    assert not [f for f in fallbacks if f.startswith("stream.decontam_in")]
    assert {
        r["doc_id"]: r["stage"] for r in p.read_ledger().collect()
    } == {3: "decontam", 4: "quality_floor"}


def _write_jsonl_url(path, rows):
    with open(path, "w") as fh:
        for doc_id, text, url in rows:
            fh.write(json.dumps({"doc_id": doc_id, "text": text, "url": url}) + "\n")


def test_streaming_url_dedup_across_epochs(spark, dirs, tmp_path):
    """Canonical-URL dedup as the first streaming stage: within-batch
    variants keep the min-id doc, recrawls of URLs committed by earlier
    epochs drop, missing URLs pass through, and the ledger names the
    claiming doc."""
    ledger_dir = str(tmp_path / "ledger")
    _write_jsonl_url(
        os.path.join(dirs["in"], "b1.jsonl"),
        [
            (1, "page one body " + BASE, "https://a.com/x?b=2&a=1"),
            (2, "recrawl variant body " + OTHER, "HTTPS://A.COM:443/x/?a=1&b=2&utm_source=f"),
            (3, "no url doc body entirely distinct words", None),
            (4, "another no url doc with different words", None),
        ],
    )

    def pipeline():
        return CorpusIngestPipeline(
            spark,
            input_dir=dirs["in"],
            corpus_table=dirs["corpus"],
            store_path=dirs["store"],
            checkpoint=dirs["ckpt"],
            url_field="url",
            ledger_dir=ledger_dir,
        )

    p = pipeline()
    m = p.run_until_drained()
    # doc 2 is a URL variant of doc 1 (different CONTENT — only the URL
    # stage can catch it); both null-URL docs pass through
    assert sorted(r["doc_id"] for r in p.read_corpus().collect()) == [1, 3, 4]
    assert m.dropped_url == 1
    led = {
        r["doc_id"]: (r["stage"], r["reason"], r["ref_id"])
        for r in p.read_ledger().collect()
    }
    assert led == {2: ("url_dedup", "url_duplicate_in_batch", "1")}

    # epoch 2: a recrawl of epoch 1's URL under another variant + new URL
    _write_jsonl_url(
        os.path.join(dirs["in"], "b2.jsonl"),
        [
            (10, "fresh recrawl content words " + BASE[::-1], "https://a.com/x?a=1&b=2#frag"),
            (11, "genuinely new page content here", "https://a.com/y"),
        ],
    )
    p2 = pipeline()
    m2 = p2.run_until_drained()
    assert m2.dropped_url == 1
    assert sorted(r["doc_id"] for r in p2.read_corpus().collect()) == [1, 3, 4, 11]
    led2 = {
        r["doc_id"]: (r["stage"], r["reason"], r["ref_id"])
        for r in p2.read_ledger().filter("epoch = 'stream-1'").collect()
    }
    assert led2 == {10: ("url_dedup", "url_duplicate_vs_store", "1")}

    # replay of epoch 1 (stale checkpoint): byte-identical decision,
    # nothing re-committed, no ledger duplication
    n_led = p2.read_ledger().count()
    batch = spark.createDataFrame(
        [
            (1, "page one body " + BASE, "https://a.com/x?b=2&a=1"),
            (2, "recrawl variant body " + OTHER, "HTTPS://A.COM:443/x/?a=1&b=2&utm_source=f"),
            (3, "no url doc body entirely distinct words", None),
            (4, "another no url doc with different words", None),
        ],
        "doc_id long, text string, url string",
    )
    p2._process_batch(batch, 0)
    assert p2.metrics.replayed_batches == 1
    assert sorted(r["doc_id"] for r in p2.read_corpus().collect()) == [1, 3, 4, 11]
    assert p2.read_ledger().count() == n_led

    # compaction + replay heal: fold the url store, replay epoch 1 again
    assert p2.url_store.compact() == 2
    assert p2.url_store.has_batch("stream-0")
    p2._process_batch(batch, 0)
    assert sorted(r["doc_id"] for r in p2.read_corpus().collect()) == [1, 3, 4, 11]


def test_ledger_crash_window_heals_on_replay(spark, dirs, tmp_path):
    """VERDICT r11 #2: a crash between the signature-store commit and the
    ledger write must not lose that epoch's provenance rows forever — on
    replay the missing ledger batch is re-derived from the deterministic
    decisions (every stage's store read excludes the epoch's own batch)
    and the ledger dir ends up identical to a run that never crashed."""
    rows = [
        (1, OTHER),
        (2, OTHER),  # in-batch exact clone of 1
        (3, OTHER + " zzz"),  # in-batch near-dup of 1
        (4, "tiny"),  # below the token floor
        (5, BASE),
    ]
    _write_jsonl(os.path.join(dirs["in"], "b1.jsonl"), rows)

    def pipeline(root, crash):
        p = CorpusIngestPipeline(
            spark,
            input_dir=dirs["in"],
            corpus_table=str(root / "corpus"),
            store_path=str(root / "store"),
            checkpoint=str(root / "ckpt"),
            min_tokens=2,
            ledger_dir=str(root / "ledger"),
        )
        if crash:
            def boom(ledger, bid):
                raise RuntimeError("injected crash before ledger write")

            p._commit_ledger_batch = boom
        return p

    # control twin: same input, no crash
    a = tmp_path / "a"
    a.mkdir()
    pa = pipeline(a, crash=False)
    pa.run_until_drained()

    # crash run: store + corpus batch commit, the ledger write dies
    b = tmp_path / "b"
    b.mkdir()
    pb = pipeline(b, crash=True)
    with pytest.raises(Exception, match="injected crash|Terminated"):
        pb.run_until_drained()
    assert pb.store.has_batch("stream-0")  # the window is real
    assert not os.path.isdir(os.path.join(str(b / "ledger"), "batch-stream-0"))

    # restart: the replayed epoch re-derives and writes the missing batch
    pb2 = pipeline(b, crash=False)
    batch = spark.createDataFrame(rows, ["doc_id", "text"])
    pb2._process_batch(batch, 0)
    assert pb2.metrics.replayed_batches == 1

    def led(p):
        return sorted(map(tuple, p.read_ledger().collect()))

    healed, control = led(pb2), led(pa)
    assert healed == control and len(control) >= 3
    assert sorted(r["doc_id"] for r in pb2.read_corpus().collect()) == sorted(
        r["doc_id"] for r in pa.read_corpus().collect()
    )

    # a second replay (ledger now present) records nothing twice
    pb2._process_batch(batch, 0)
    assert led(pb2) == control


def test_eval_reregistration_with_different_content_raises(spark, dirs):
    """ADVICE r11: _persist_eval is idempotent on the version DIRECTORY —
    re-registering an existing version name with DIFFERENT eval content
    must raise loudly (the forgotten --eval-version bump) instead of
    silently reusing the stale persisted shingles.  Same-content
    re-registration (a plain restart) stays fine."""
    eval_v1 = spark.createDataFrame([(100, BASE)], ["doc_id", "text"])

    def pipeline(ev):
        return CorpusIngestPipeline(
            spark,
            input_dir=dirs["in"],
            corpus_table=dirs["corpus"],
            store_path=dirs["store"],
            checkpoint=dirs["ckpt"],
            eval_docs=ev,
            eval_version="v1",
        )

    pipeline(eval_v1)
    # restart with the SAME content: fine (fingerprints match)
    pipeline(eval_v1)
    # different content under the same version name: loud failure
    # the added item must be >= decontam_n (13) tokens to change the
    # shingle dimension at all (shorter eval items cannot contaminate)
    eval_changed = spark.createDataFrame(
        [(100, BASE), (101, OTHER + " " + OTHER)], ["doc_id", "text"]
    )
    with pytest.raises(ValueError, match="already registered with different"):
        pipeline(eval_changed)
    # a proper rotation (new version name) is the sanctioned path
    p = pipeline(eval_v1)
    p.set_eval_docs(eval_changed, "v2")

    # pre-guard stores (no fingerprint file) are healed from the
    # PERSISTED dim, not the caller's frame: drop the file and re-check
    fp = os.path.join(dirs["store"], "eval", "fingerprint-version=v1.json")
    os.remove(fp)
    with pytest.raises(ValueError, match="already registered with different"):
        pipeline(eval_changed)
    assert os.path.exists(fp)  # re-derived and re-recorded


def test_url_commit_policy_post_decontam_keeps_urls_reclaimable(spark, dirs):
    """ADVICE r11 (urlstore policy): under 'post_decontam' a URL whose
    first crawl is dropped by decontamination is NOT committed, so a
    later clean recrawl of the same URL gets judged on its own content;
    under the default 'always' the recrawl dies at the URL stage."""
    eval_docs = spark.createDataFrame([(100, BASE)], ["doc_id", "text"])
    url = "https://site.com/page?b=2&a=1"
    variant = "HTTPS://SITE.COM:443/page/?a=1&b=2&utm_source=f"
    _write_jsonl_url(
        os.path.join(dirs["in"], "b1.jsonl"),
        [
            (1, BASE + " extra tail words", url),  # contaminated first crawl
            (2, "clean unrelated page body words here", "https://other.com/q"),
        ],
    )

    def pipeline(root, policy):
        return CorpusIngestPipeline(
            spark,
            input_dir=dirs["in"],
            corpus_table=os.path.join(root, "corpus"),
            store_path=os.path.join(root, "store"),
            checkpoint=os.path.join(root, "ckpt"),
            url_field="url",
            url_commit_policy=policy,
            eval_docs=eval_docs,
        )

    roots = {}
    for policy in ("always", "post_decontam"):
        root = os.path.join(dirs["corpus"] + "-" + policy)
        os.makedirs(root)
        p = pipeline(root, policy)
        m = p.run_until_drained()
        assert m.dropped_contaminated == 1
        assert sorted(r["doc_id"] for r in p.read_corpus().collect()) == [2]
        roots[policy] = root

    # epoch 2: the page was recrawled with CLEAN content under a URL variant
    _write_jsonl_url(
        os.path.join(dirs["in"], "b2.jsonl"),
        [(10, "the page rewritten clean content after the site update", variant)],
    )
    p_always = pipeline(roots["always"], "always")
    p_always.run_until_drained()
    # 'always' committed the contaminated crawl's URL -> recrawl dies
    assert sorted(r["doc_id"] for r in p_always.read_corpus().collect()) == [2]

    p_post = pipeline(roots["post_decontam"], "post_decontam")
    p_post.run_until_drained()
    # 'post_decontam' never committed it -> the clean recrawl lands
    assert sorted(r["doc_id"] for r in p_post.read_corpus().collect()) == [2, 10]

    # and a THIRD crawl of the same URL now dies at the URL stage in
    # both policies (doc 10 was accepted and committed its URL)
    _write_jsonl_url(
        os.path.join(dirs["in"], "b3.jsonl"),
        [(20, "yet another rewrite of that very same page body", url)],
    )
    p3 = pipeline(roots["post_decontam"], "post_decontam")
    m3 = p3.run_until_drained()
    assert m3.dropped_url == 1
    assert sorted(r["doc_id"] for r in p3.read_corpus().collect()) == [2, 10]


def test_ledger_heal_refuses_non_latest_epoch(spark, dirs, tmp_path):
    """r12 review finding: the heal re-derives against store-minus-epoch,
    which equals store-as-of-before-the-epoch ONLY for the latest epoch
    (the only one the crash window can leave ledgerless).  Backfilling
    an older epoch would attribute near-dup drops against future store
    rows — refuse loudly, write nothing."""
    import shutil

    ledger_dir = str(tmp_path / "ledger")
    _write_jsonl(os.path.join(dirs["in"], "b1.jsonl"), [(1, OTHER), (2, OTHER)])

    def pipeline():
        return CorpusIngestPipeline(
            spark,
            input_dir=dirs["in"],
            corpus_table=dirs["corpus"],
            store_path=dirs["store"],
            checkpoint=dirs["ckpt"],
            ledger_dir=ledger_dir,
        )

    p = pipeline()
    p.run_until_drained()
    _write_jsonl(os.path.join(dirs["in"], "b2.jsonl"), [(10, BASE)])
    p2 = pipeline()
    p2.run_until_drained()
    assert os.path.isdir(os.path.join(ledger_dir, "batch-stream-0"))

    # simulate a lost OLD epoch ledger, then replay it
    shutil.rmtree(os.path.join(ledger_dir, "batch-stream-0"))
    p3 = pipeline()
    batch = spark.createDataFrame([(1, OTHER), (2, OTHER)], ["doc_id", "text"])
    with pytest.warns(UserWarning, match="refusing to backfill"):
        p3._process_batch(batch, 0)
    assert p3.metrics.replayed_batches == 1
    assert not os.path.isdir(os.path.join(ledger_dir, "batch-stream-0"))

    # the LATEST epoch still heals (the genuine crash window)
    shutil.rmtree(os.path.join(ledger_dir, "batch-stream-1"))
    batch2 = spark.createDataFrame([(10, BASE)], ["doc_id", "text"])
    p3._process_batch(batch2, 1)
    assert os.path.isdir(os.path.join(ledger_dir, "batch-stream-1"))


def test_read_corpus_as_of_and_epoch_lineage(spark, dirs):
    """r12 time-travel: read_corpus(as_of=epoch) reproduces the exact
    corpus a training run saw after that epoch committed — before AND
    after compaction (per-row origin attribution in compacted targets);
    corpus_epochs() reports the per-epoch lineage."""
    p = _pipeline(spark, dirs)
    snaps = {}
    for i, rows in enumerate(
        [
            [(1, BASE), (2, OTHER)],
            [(10, BASE + " zzz tail"), (11, "fresh second epoch words here")],
            [(20, "third epoch content entirely new words")],
        ]
    ):
        _write_jsonl(os.path.join(dirs["in"], f"b{i}.jsonl"), rows)
        p = _pipeline(spark, dirs)
        p.run_until_drained()
        snaps[f"stream-{i}"] = sorted(
            map(tuple, p.read_corpus().collect())
        )

    def as_of(epoch):
        return sorted(map(tuple, p.read_corpus(as_of=epoch).collect()))

    for epoch, snap in snaps.items():
        assert as_of(epoch) == snap
    assert as_of("stream-2") == sorted(map(tuple, p.read_corpus().collect()))

    # lineage before compaction
    epochs = {r["epoch"]: r["n_docs"] for r in p.corpus_epochs().collect()}
    assert set(epochs) == {"stream-0", "stream-1", "stream-2"}
    assert sum(epochs.values()) == len(snaps["stream-2"])

    # compaction folds the dirs; as-of and lineage must survive via origin
    assert p.compact_corpus() == 3
    for epoch, snap in snaps.items():
        assert as_of(epoch) == snap
    epochs2 = {r["epoch"]: r["n_docs"] for r in p.corpus_epochs().collect()}
    assert epochs2 == epochs

    with pytest.raises(ValueError, match="stream epoch id"):
        p.read_corpus(as_of="not-an-epoch")


def test_read_corpus_as_of_refuses_unattributed_compaction(spark, dirs):
    """A corpus compacted BEFORE origin tracking (NULL origins) must
    refuse as-of reads instead of silently dropping rows."""
    _write_jsonl(os.path.join(dirs["in"], "b0.jsonl"), [(1, BASE), (2, OTHER)])
    p = _pipeline(spark, dirs)
    p.run_until_drained()
    # simulate a pre-r12 compacted target: fold without the origin column
    import json as _json

    merged = p.read_corpus()
    target = "batch-compacted-preorigin"
    merged.write.parquet(os.path.join(dirs["corpus"], f".{target}.tmp"))
    os.rename(
        os.path.join(dirs["corpus"], f".{target}.tmp"),
        os.path.join(dirs["corpus"], target),
    )
    mdir = os.path.join(dirs["corpus"], "_compaction")
    os.makedirs(mdir, exist_ok=True)
    with open(os.path.join(mdir, f"{target}.json"), "w") as fh:
        _json.dump({"target": target, "sources": ["batch-stream-0"]}, fh)
    assert p.read_corpus().count() == 2  # plain reads still fine
    with pytest.raises(ValueError, match="origin"):
        p.read_corpus(as_of="stream-0").count()

    # r12 review finding: a pre-tracking target REFOLDED by the new
    # compact_corpus coalesces to a non-epoch origin — as-of must raise
    # on that too, not silently drop the rows
    _write_jsonl(os.path.join(dirs["in"], "b1.jsonl"), [(9, "more words here")])
    p = _pipeline(spark, dirs)
    p.run_until_drained()
    assert p.compact_corpus() >= 2  # refolds the pre-origin target too
    assert p.read_corpus().count() == 3
    with pytest.raises(ValueError, match="origin"):
        p.read_corpus(as_of="stream-1").count()


def test_ledger_compaction_folds_and_heal_gate_survives(spark, dirs, tmp_path):
    """r12: the ledger compacts like every sibling store — rows carry
    their epoch already, reads exclude retired sources in the crash
    window, and a FOLDED epoch still counts as ledgered (no spurious
    heal re-derivation / double write on replay)."""
    import json as _json

    ledger_dir = str(tmp_path / "ledger")

    def pipeline():
        return CorpusIngestPipeline(
            spark,
            input_dir=dirs["in"],
            corpus_table=dirs["corpus"],
            store_path=dirs["store"],
            checkpoint=dirs["ckpt"],
            min_tokens=2,
            ledger_dir=ledger_dir,
        )

    epochs = [
        [(1, OTHER), (2, OTHER)],          # 2 drops as in-batch clone
        [(10, OTHER), (11, BASE)],         # 10 drops vs store
        [(20, "x")],                        # 20 drops below the floor
    ]
    for i, rows in enumerate(epochs):
        _write_jsonl(os.path.join(dirs["in"], f"b{i}.jsonl"), rows)
        p = pipeline()
        p.run_until_drained()
    before = sorted(map(tuple, p.read_ledger().collect()))
    assert len(before) == 3 and len(p._live_ledger_dirs()) == 3

    assert p.compact_ledger() == 3
    assert len(p._live_ledger_dirs()) == 1
    assert sorted(map(tuple, p.read_ledger().collect())) == before
    assert p.compact_ledger() == 0  # idempotent when nothing to do

    # folded epochs still count as ledgered: a replay must not re-derive
    for i in range(3):
        assert p._has_ledger_batch(f"stream-{i}")
    batch = spark.createDataFrame(epochs[2], ["doc_id", "text"])
    p._process_batch(batch, 2)
    assert sorted(map(tuple, p.read_ledger().collect())) == before

    # crash window: target + manifest live, sources still on disk ->
    # reads see each row exactly once
    target = p._live_ledger_dirs()[0]
    src = os.path.join(ledger_dir, "batch-stream-0")
    os.makedirs(src)
    spark.createDataFrame(
        [r for r in before if r[-1] == "stream-0"],
        p.read_ledger().schema,
    ).write.mode("overwrite").parquet(src)
    assert sorted(map(tuple, p.read_ledger().collect())) == before

    # the next compaction's cleanup pass removes the leftover (it is
    # retired debris, not data — reads never double-counted it) and
    # finds nothing left to fold
    assert p.compact_ledger() == 0
    assert not os.path.isdir(src)
    assert sorted(map(tuple, p.read_ledger().collect())) == before


def test_streaming_gopher_rules_floor(spark, dirs):
    """gopher_rules in the streaming pipeline: rule-violating docs drop
    per epoch (same stage key as the batch pipeline), replays re-derive
    identical decisions."""
    import glob
    import os

    good = "the quick brown fox and that dog have gone with style today fine"
    pipe = CorpusIngestPipeline(
        spark,
        input_dir=dirs["in"],
        corpus_table=dirs["corpus"],
        store_path=dirs["store"],
        checkpoint=dirs["ckpt"],
        gopher_rules=dict(min_words=5),
        ledger_dir=str(os.path.join(dirs["corpus"] + "_ledger")),
    )
    _write_jsonl(
        os.path.join(dirs["in"], "b0.jsonl"),
        [(1, good), (2, good + " ###########################"),
         (3, "quick brown foxes jump over lazy dogs daily today fine")],
    )
    pipe.run_until_drained()
    kept = {r["doc_id"] for r in pipe.read_corpus().collect()}
    assert kept == {1}
    ledger = spark.read.parquet(
        *glob.glob(os.path.join(dirs["corpus"] + "_ledger", "batch-*"))
    )
    rows = {
        (r["doc_id"], r["reason"])
        for r in ledger.filter("stage = 'quality_floor'").collect()
    }
    assert (2, "gopher_rules") in rows and (3, "gopher_rules") in rows


def test_streaming_exact_substr_across_epochs(spark, dirs):
    """With --exact-substr-min-len, each epoch's >= L-token substrings
    are judged against every EARLIER epoch's accepted spans via the
    persisted span-hash store (incremental ExactSubstr): recycled runs
    are cut from later arrivals at ANY alignment, a doc cut to nothing
    vanishes, and a fresh-checkpoint replay reproduces the corpus
    without double-counting."""
    run = "r0 r1 r2 r3 r4 r5 r6"  # 7 tokens, min_len=5

    def pipeline():
        return CorpusIngestPipeline(
            spark,
            input_dir=dirs["in"],
            corpus_table=dirs["corpus"],
            store_path=dirs["store"],
            checkpoint=dirs["ckpt"],
            exact_substr_min_len=5,
        )

    _write_jsonl(
        os.path.join(dirs["in"], "b1.jsonl"),
        [(1, f"{BASE} {run}"), (2, OTHER)],
    )
    p1 = pipeline()
    m1 = p1.run_until_drained()
    assert m1.accepted == 2 and m1.dropped_exact_substr_docs == 0
    texts = {r["doc_id"]: r["text"] for r in p1.read_corpus().collect()}
    assert run in texts[1]  # once-seen: ships intact

    # epoch 2: doc 10 is ONLY the recycled run (cut to empty -> drops);
    # doc 11 embeds it mid-text at a new alignment (run cut, rest ships)
    _write_jsonl(
        os.path.join(dirs["in"], "b2.jsonl"),
        [(10, run), (11, f"novel epoch prose {run} continues here")],
    )
    p2 = pipeline()
    m2 = p2.run_until_drained()
    assert m2.dropped_exact_substr_docs == 1  # doc 10
    texts = {r["doc_id"]: r["text"] for r in p2.read_corpus().collect()}
    assert texts[11] == "novel epoch prose continues here"
    assert sorted(texts) == [1, 2, 11]

    # fresh-checkpoint replay: every epoch replays its recorded
    # decision — corpus unchanged, nothing double-counted
    import shutil

    shutil.rmtree(dirs["ckpt"])
    p3 = pipeline()
    m3 = p3.run_until_drained()
    assert m3.dropped_exact_substr_docs == 0 and m3.accepted == 0
    assert m3.replayed_batches == m3.batches
    assert sorted(
        r["doc_id"] for r in p3.read_corpus().collect()
    ) == [1, 2, 11]


def test_rejected_doc_spans_stay_claimable(spark, dirs):
    """Deferred-commit contract for the span store: spans commit only
    for documents the DOC-level stage accepted.  The rejected near-dup
    here shares NO exact >= min_len run with its keeper (every 12th
    token mutated, runs capped at 11 < 12), so the span stage leaves
    both intact and DOC-level dedup makes the rejection — the rejected
    doc's unique run never shipped, and a later clean arrival must
    still be able to claim it."""
    base2 = " ".join(f"w{i:02d}" for i in range(80))
    var_toks = [f"w{i:02d}" for i in range(80)]
    for j, i in enumerate(range(4, 80, 12)):  # runs capped at 11 < 12
        var_toks[i] = f"X{j}"
    run = "s0 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11"  # 12 fresh tokens

    def pipeline():
        return CorpusIngestPipeline(
            spark,
            input_dir=dirs["in"],
            corpus_table=dirs["corpus"],
            store_path=dirs["store"],
            checkpoint=dirs["ckpt"],
            exact_substr_min_len=12,
            near_threshold=0.3,
        )

    # epoch 1: base2 ships; the mutated variant carrying the run is
    # REJECTED by doc-level dedup — its spans must not commit
    _write_jsonl(
        os.path.join(dirs["in"], "b1.jsonl"),
        [(1, base2), (2, " ".join(var_toks) + " " + run)],
    )
    p1 = pipeline()
    p1.run_until_drained()
    texts = {r["doc_id"]: r["text"] for r in p1.read_corpus().collect()}
    assert sorted(texts) == [1]  # doc 2 rejected as near-dup of 1
    # epoch 2: a clean novel document carrying the run — the run was
    # never published, so it must ship INTACT here
    _write_jsonl(
        os.path.join(dirs["in"], "b2.jsonl"),
        [(20, f"entirely new subject matter himself {run} closing words")],
    )
    p2 = pipeline()
    p2.run_until_drained()
    texts = {r["doc_id"]: r["text"] for r in p2.read_corpus().collect()}
    assert run in texts[20]


def test_streaming_text_classifier_floor(spark, dirs):
    """text_classifier_weights in the streaming pipeline: the hashed-text
    classifier floor (operators/qualityclf.py) drops low-scoring docs per
    epoch under the SAME stage/reason keys as
    prepare(text_classifier_weights=...) — cross-pipeline ledger unity."""
    import glob

    # with the md5 stand-in at 64 buckets these straddle 0.5
    # (values pinned in tests/test_qualityclf.py): high / low / high
    pipe = CorpusIngestPipeline(
        spark,
        input_dir=dirs["in"],
        corpus_table=dirs["corpus"],
        store_path=dirs["store"],
        checkpoint=dirs["ckpt"],
        text_classifier_weights=True,
        text_classifier_min_score=0.5,
        text_classifier_buckets=64,
        ledger_dir=str(os.path.join(dirs["corpus"] + "_ledger")),
    )
    _write_jsonl(
        os.path.join(dirs["in"], "b0.jsonl"),
        [(1, "alpha gamma"), (2, "beta theta"), (3, "delta iota"),
         (4, "kappa kappa")],
    )
    pipe.run_until_drained()
    kept = sorted(r["doc_id"] for r in pipe.read_corpus().collect())
    assert kept == [1, 3]
    ledger = spark.read.parquet(
        *glob.glob(os.path.join(dirs["corpus"] + "_ledger", "batch-*"))
    )
    rows = {
        (r["doc_id"], r["reason"])
        for r in ledger.filter("stage = 'quality_floor'").collect()
    }
    assert (2, "text_classifier") in rows and (4, "text_classifier") in rows
