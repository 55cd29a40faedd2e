"""The two batch-dir commit protocols of ``fsutil``, pinned once per
store that uses them (default lane, no stream runs).

- ``BatchDirStore`` (``batch=X`` dirs + ``_folded.json``): the URL,
  paragraph and span stores.  Commit idempotence, replay exclusion
  before and after ``compact()``, the folded-manifest replay heal, and
  the staging sweep on reopen.
- ``RetiringBatchTable`` (``batch-X`` dirs + ``_compaction/<target>.json``):
  the streaming corpus table and the removal ledger.  The compaction
  crash window: a manifest without its target is inert, and target +
  manifest + leftover sources read every row once.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from hedera_etl_spark.operators.paradedup import ParagraphHashStore
from hedera_etl_spark.operators.spandedup import SpanHashStore
from hedera_etl_spark.operators.urlstore import CanonicalUrlStore
from hedera_etl_spark.streaming.corpus import DOC_SCHEMA, CorpusIngestPipeline

# store class, the row for one key, schema DDL
STORES = {
    "url": (
        CanonicalUrlStore, lambda k: (f"u{k}", k), "canonical_url string, doc_id long"
    ),
    "paragraph": (ParagraphHashStore, lambda k: (f"h{k}",), "para_hash string"),
    "span": (SpanHashStore, lambda k: (k, 1), "span_hash long, n long"),
}


@pytest.mark.parametrize("kind", sorted(STORES))
def test_batch_dir_store_protocol(spark, tmp_path, kind):
    cls, row, ddl = STORES[kind]
    path = str(tmp_path / kind)

    def rows(*keys):
        return spark.createDataFrame([row(k) for k in keys], ddl)

    def keys(df):
        return sorted(r[0] for r in df.collect())

    def want(*ks):
        return sorted(row(k)[0] for k in ks)

    store = cls(spark, path)
    store.commit_batch("e0", rows(0, 1))
    store.commit_batch("e0", rows(9))  # a committed batch is left untouched
    store.commit_batch("e1", rows(2))
    assert store.committed_batches() == {"batch=e0", "batch=e1"}
    assert keys(store.read()) == want(0, 1, 2)
    assert keys(store.read(exclude_batch="e0")) == want(2)

    assert store.compact() == 2
    (target,) = store.committed_batches()
    assert target.startswith("batch=compacted-")
    # the folded manifest keeps both ids committed (replay heal) ...
    assert store.has_batch("e0") and store.has_batch("e1")
    assert not store.has_batch("e2")
    # ... and exclusion resolves through origin attribution
    assert keys(store.read(exclude_batch="e0")) == want(2)
    assert keys(store.read(exclude_batch="e1")) == want(0, 1)
    store.commit_batch("e0", rows(9))  # replay of a folded id: no-op
    assert keys(store.read()) == want(0, 1, 2)
    assert store.compact() == 0  # one live dir: nothing to fold

    # a crash between the parquet write and the rename leaves a staged
    # dir; reopening sweeps it and it never reads as committed
    staged = os.path.join(store.root, ".batch=e2.__new")
    rows(7).write.parquet(staged)
    store = cls(spark, path)
    assert not os.path.exists(staged)
    assert not store.has_batch("e2")
    assert keys(store.read()) == want(0, 1, 2)


@pytest.mark.parametrize("side", ["corpus", "ledger"])
def test_retiring_table_crash_window(spark, tmp_path, side):
    base = str(tmp_path)
    pipe = CorpusIngestPipeline(
        spark,
        os.path.join(base, "in"),
        os.path.join(base, "corpus"),
        os.path.join(base, "store"),
        os.path.join(base, "ckpt"),
        ledger_dir=os.path.join(base, "ledger"),
    )
    table, read, compact = {
        "corpus": (pipe._corpus_batches, pipe.read_corpus, pipe.compact_corpus),
        "ledger": (pipe._ledger_batches, pipe.read_ledger, pipe.compact_ledger),
    }[side]

    def got():
        return sorted(tuple(r) for r in read().collect())

    table.commit("stream-0", spark.createDataFrame([(1, "a"), (2, "b")], DOC_SCHEMA))
    table.commit("stream-1", spark.createDataFrame([(3, "c")], DOC_SCHEMA))
    table.commit("stream-1", spark.createDataFrame([(9, "z")], DOC_SCHEMA))
    expected = [(1, "a"), (2, "b"), (3, "c")]
    assert got() == expected
    sources = table.live_dirs()
    assert sources == ["batch-stream-0", "batch-stream-1"]

    # the crash after the manifest write, before the target rename: the
    # manifest alone retires nothing
    target = "batch-compacted-crashsim"
    read().write.parquet(os.path.join(base, "merged"))
    mdir = os.path.join(table.root, "_compaction")
    os.makedirs(mdir)
    with open(os.path.join(mdir, f"{target}.json"), "w") as fh:
        json.dump({"target": target, "sources": sources}, fh)
    assert table.live_dirs() == sources
    assert got() == expected

    # the crash after the target rename, before the source deletes:
    # target + manifest + sources all on disk, every row read once
    os.rename(os.path.join(base, "merged"), os.path.join(table.root, target))
    assert table.live_dirs() == [target]
    assert got() == expected
    assert table.has("stream-0") and table.has("stream-1")
    table.commit("stream-0", spark.createDataFrame([(9, "z")], DOC_SCHEMA))
    assert table.live_dirs() == [target]  # a retired id is not re-appended

    # the next compaction clears the retired leftovers first and then
    # finds one live dir: nothing to fold, rows unchanged
    assert compact() == 0
    assert sorted(os.listdir(table.root)) == ["_compaction", target]
    assert got() == expected

    # a manifest whose target is gone is inert again
    shutil.rmtree(os.path.join(table.root, target))
    assert table.live_dirs() == []
