"""Paragraph-level dedup (operators/paradedup.py): duplicated
paragraphs keep exactly their corpus-wide first occurrence; short
paragraphs are exempt; documents rebuild in original order with the
corpus text never entering the dedup shuffles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hedera_etl_spark.operators.paradedup import (
    duplicate_paragraph_drops,
    paragraph_dedup,
    paragraph_occurrences,
)

BOILER = "SUBSCRIBE to our newsletter for more articles like this one"


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, f"unique opening one\n\n{BOILER}\n\nunique closing one"),
        (2, f"{BOILER}\n\nsecond doc body text"),
        (3, f"third doc body text\n\n{BOILER}"),
        (4, "no boilerplate here at all\n\njust original paragraphs"),
        (5, BOILER),  # the whole doc IS the boilerplate
        (6, f"ok\n\n{BOILER}\n\nok"),  # short 'ok' paras recur but are dupes too
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_keep_first_occurrence_only(spark, corpus):
    out = {r["doc_id"]: r["text"] for r in paragraph_dedup(corpus).collect()}
    # doc 1 carries the canonical boilerplate (min (doc_id, idx))
    assert out[1] == f"unique opening one\n\n{BOILER}\n\nunique closing one"
    # every later occurrence is cut, order of survivors preserved
    assert out[2] == "second doc body text"
    assert out[3] == "third doc body text"
    assert out[4] == "no boilerplate here at all\n\njust original paragraphs"
    # doc 5 became empty -> dropped entirely
    assert 5 not in out
    # doc 6: boilerplate cut; the two 'ok' paragraphs dedup against each
    # other (first stays) — survivors rejoin in order
    assert out[6] == "ok"


def test_drop_empty_false_keeps_emptied_docs(spark, corpus):
    out = {
        r["doc_id"]: r["text"]
        for r in paragraph_dedup(corpus, drop_empty=False).collect()
    }
    assert out[5] == ""


def test_min_chars_exempts_short_paragraphs(spark):
    docs = spark.createDataFrame(
        [(1, "Intro\n\nbody one"), (2, "Intro\n\nbody two")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["text"]
        for r in paragraph_dedup(docs, min_chars=6).collect()
    }
    # 'Intro' (5 chars) is exempt from dedup: both docs keep it
    assert out == {1: "Intro\n\nbody one", 2: "Intro\n\nbody two"}
    strict = {
        r["doc_id"]: r["text"]
        for r in paragraph_dedup(docs, min_chars=1).collect()
    }
    assert strict == {1: "Intro\n\nbody one", 2: "body two"}


def test_occurrence_rows_are_narrow_and_indexed(spark, corpus):
    occ = paragraph_occurrences(corpus)
    assert occ.columns == ["doc_id", "idx", "para_hash"]
    boiler_occ = sorted(
        (r["doc_id"], r["idx"])
        for r in occ.join(
            occ.groupBy("para_hash").agg(F.count("*").alias("n")).filter("n >= 3"),
            "para_hash",
        ).collect()
    )
    assert (1, 1) in boiler_occ and (2, 0) in boiler_occ and (3, 1) in boiler_occ


def test_drops_exclude_the_canonical_occurrence(spark, corpus):
    drops = {
        (r["doc_id"], r["idx"])
        for r in duplicate_paragraph_drops(paragraph_occurrences(corpus)).collect()
    }
    assert (1, 1) not in drops          # canonical boilerplate survives
    assert {(2, 0), (3, 1), (5, 0), (6, 1)} <= drops


def test_custom_separator_is_literal_not_regex(spark):
    docs = spark.createDataFrame(
        [(1, "a|+|dup"), (2, "dup|+|b")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r["text"]
        for r in paragraph_dedup(docs, sep="|+|").collect()
    }
    # '|+|' must split literally (as regex it would explode per-char)
    assert out == {1: "a|+|dup", 2: "b"}


def test_text_never_enters_the_dedup_shuffles(spark, corpus):
    """Scale contract: the aggregate/join exchanges move only
    (doc_id, idx, hash) — paragraph/document text stays in its scan."""
    plan = (
        paragraph_dedup(corpus)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line and "para_hash" in line:
            assert "text" not in line


def test_null_text_and_consecutive_separators(spark):
    """NULL text yields no paragraph occurrences (can never cause or
    suffer a drop) and the doc is removed under drop_empty / carried as
    NULL text otherwise; empty paragraphs from consecutive separators
    are min_chars-exempt and preserved in place."""
    docs = spark.createDataFrame(
        [(1, None), (2, "a\n\n\n\nb"), (3, "a\n\n\n\nc")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in paragraph_dedup(docs).collect()}
    assert 1 not in out
    assert out[2] == "a\n\n\n\nb"      # empty middle para kept in place
    # dup 'a' cut; the exempt empty paragraph survives and the rebuild
    # joins the SURVIVORS with single separators (string_agg semantics,
    # mirrored by the oracle) — it does not preserve original offsets
    assert out[3] == "\n\nc"
    kept = {
        r["doc_id"]: r["text"]
        for r in paragraph_dedup(docs, drop_empty=False).collect()
    }
    assert kept[1] is None


def test_reserved_column_guard(spark, corpus):
    with pytest.raises(ValueError, match="reserved"):
        paragraph_dedup(corpus.withColumn("__drop_idx", F.lit(None)))


# ---------------------------------------------------------------------------
# incremental form: ParagraphHashStore + incremental_paragraph_dedup
# ---------------------------------------------------------------------------
def test_incremental_epochs_cut_history_paragraphs(spark, tmp_path):
    from hedera_etl_spark.operators.paradedup import (
        ParagraphHashStore,
        incremental_paragraph_dedup,
    )

    store = ParagraphHashStore(spark, str(tmp_path / "pstore"))
    e1 = spark.createDataFrame(
        [(1, f"first article body\n\n{BOILER}"), (2, "second article body")],
        ["doc_id", "text"],
    )
    out1 = {
        r["doc_id"]: r["text"]
        for r in incremental_paragraph_dedup(e1, store, "e1").collect()
    }
    assert out1 == {
        1: f"first article body\n\n{BOILER}", 2: "second article body"
    }
    # epoch 2: new ids, one doc is pure recycled content -> vanishes;
    # another mixes a recycled boilerplate with novel text
    e2 = spark.createDataFrame(
        [(10, BOILER), (11, f"{BOILER}\n\nnovel epoch-two text")],
        ["doc_id", "text"],
    )
    out2 = {
        r["doc_id"]: r["text"]
        for r in incremental_paragraph_dedup(e2, store, "e2").collect()
    }
    assert out2 == {11: "novel epoch-two text"}
    # epoch 3 replays epoch 2's content under new ids: all cut
    e3 = spark.createDataFrame(
        [(20, "novel epoch-two text\n\nnovel epoch-two text")],
        ["doc_id", "text"],
    )
    assert incremental_paragraph_dedup(e3, store, "e3").count() == 0


def test_incremental_retry_is_byte_identical(spark, tmp_path):
    from hedera_etl_spark.operators.paradedup import (
        ParagraphHashStore,
        incremental_paragraph_dedup,
    )

    store = ParagraphHashStore(spark, str(tmp_path / "pstore2"))
    e1 = spark.createDataFrame([(1, f"alpha\n\n{BOILER}")], ["doc_id", "text"])
    e2 = spark.createDataFrame(
        [(2, f"{BOILER}\n\nbeta body text")], ["doc_id", "text"]
    )
    incremental_paragraph_dedup(e1, store, "e1").collect()
    first = {
        r["doc_id"]: r["text"]
        for r in incremental_paragraph_dedup(e2, store, "e2").collect()
    }
    # REPLAY of the committed batch: judged against the store as it
    # stood before e2 (its own hashes excluded), so the output is
    # byte-identical, not emptied by its own commit
    replay = {
        r["doc_id"]: r["text"]
        for r in incremental_paragraph_dedup(e2, store, "e2").collect()
    }
    assert first == replay == {2: "beta body text"}
    assert store.committed_batches() == {"batch=e1", "batch=e2"}


def test_replay_of_folded_epoch_heals_across_compaction(spark, tmp_path):
    """VERDICT r10 #4: a replayed pre-compaction epoch must stay
    byte-identical.  Before the heal, a folded epoch's hashes lost their
    batch attribution, so the replay saw its OWN paragraphs as history
    and cut them (beta body text would vanish)."""
    from hedera_etl_spark.operators.paradedup import (
        ParagraphHashStore,
        incremental_paragraph_dedup,
    )

    store = ParagraphHashStore(spark, str(tmp_path / "pstore_heal"))
    e1 = spark.createDataFrame([(1, f"alpha\n\n{BOILER}")], ["doc_id", "text"])
    e2 = spark.createDataFrame(
        [(2, f"{BOILER}\n\nbeta body text")], ["doc_id", "text"]
    )
    incremental_paragraph_dedup(e1, store, "e1").collect()
    first = {
        r["doc_id"]: r["text"]
        for r in incremental_paragraph_dedup(e2, store, "e2").collect()
    }
    assert store.compact() == 2
    assert store.has_batch("e1") and store.has_batch("e2")
    assert not store.has_batch("never")
    replay = {
        r["doc_id"]: r["text"]
        for r in incremental_paragraph_dedup(e2, store, "e2").collect()
    }
    assert first == replay == {2: "beta body text"}
    # the replay's idempotent commit must not add a dir either
    assert len(store.committed_batches()) == 1

    # nested compaction keeps attributions: one more epoch + compact,
    # replay e2 again
    e3 = spark.createDataFrame([(3, "gamma entirely new")], ["doc_id", "text"])
    incremental_paragraph_dedup(e3, store, "e3").collect()
    assert store.compact() == 2
    replay2 = {
        r["doc_id"]: r["text"]
        for r in incremental_paragraph_dedup(e2, store, "e2").collect()
    }
    assert replay2 == first


def test_incremental_store_grows_by_new_canon_only(spark, tmp_path):
    from hedera_etl_spark.operators.paradedup import (
        ParagraphHashStore,
        incremental_paragraph_dedup,
    )

    store = ParagraphHashStore(spark, str(tmp_path / "pstore3"))
    e1 = spark.createDataFrame(
        [(1, f"one\n\n{BOILER}"), (2, f"one\n\n{BOILER}")], ["doc_id", "text"]
    )
    incremental_paragraph_dedup(e1, store, "e1").collect()
    assert store.read().count() == 2  # 'one' + boilerplate, deduped
    e2 = spark.createDataFrame(
        [(3, f"{BOILER}\n\ntwo")], ["doc_id", "text"]
    )
    incremental_paragraph_dedup(e2, store, "e2").collect()
    assert store.read().count() == 3  # only 'two' is new


def test_incremental_heals_stale_staging(spark, tmp_path):
    import os

    from hedera_etl_spark.operators.paradedup import ParagraphHashStore

    path = str(tmp_path / "pstore4")
    os.makedirs(os.path.join(path, "hashes", ".batch=zz.__new"))
    store = ParagraphHashStore(spark, path)
    assert store.committed_batches() == set()
    assert not os.path.exists(os.path.join(path, "hashes", ".batch=zz.__new"))


def test_history_probe_never_shuffles_store(spark, tmp_path):
    """VERDICT r9 #1 pin: the paragraph store's history side streams
    map-side into a BroadcastHashJoin (batch hash set broadcast) with no
    Exchange between the store scan and the probe join — per epoch the
    history pays one SCAN and zero SHUFFLES at any store size."""
    from planutil import assert_scan_probes_unshuffled, plan_of

    from hedera_etl_spark.operators.joins import inverted_store_probe
    from hedera_etl_spark.operators.paradedup import (
        ParagraphHashStore,
        incremental_paragraph_dedup,
    )

    store = ParagraphHashStore(spark, str(tmp_path / "pstore_pin"))
    incremental_paragraph_dedup(
        spark.createDataFrame([(1, f"alpha\n\n{BOILER}")], ["doc_id", "text"]),
        store,
        "e1",
    ).collect()
    incremental_paragraph_dedup(
        spark.createDataFrame([(2, "beta body\n\ngamma body")], ["doc_id", "text"]),
        store,
        "e2",
    ).collect()
    occ = paragraph_occurrences(
        spark.createDataFrame(
            [(10, f"{BOILER}\n\nnovel text here")], ["doc_id", "text"]
        )
    )
    hits = inverted_store_probe(
        store.read(), occ.select("para_hash").distinct(), "para_hash"
    )
    assert sorted(r["para_hash"] for r in hits.collect())  # boilerplate hit
    assert_scan_probes_unshuffled(plan_of(hits), "struct<para_hash:string>")


def test_plan_variant_defers_commit_and_attributes_docs(spark, tmp_path):
    """incremental_paragraph_dedup_plan returns (doc_id, para_hash) of
    new canonical paragraphs WITHOUT committing, so a caller can restrict
    the commit to docs a downstream stage accepted (ADVICE r9): a hash
    withheld from the commit stays claimable by a later epoch."""
    import hashlib

    from hedera_etl_spark.operators.paradedup import (
        ParagraphHashStore,
        incremental_paragraph_dedup,
        incremental_paragraph_dedup_plan,
    )

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    store = ParagraphHashStore(spark, str(tmp_path / "pstore_defer"))
    e1 = spark.createDataFrame(
        [(1, "alpha body\n\nshared para"), (2, "beta body\n\nshared para")],
        ["doc_id", "text"],
    )
    out, new_canon = incremental_paragraph_dedup_plan(e1, store, "e1")
    canon = {(r["doc_id"], r["para_hash"]) for r in new_canon.collect()}
    assert store.committed_batches() == set()  # nothing committed yet
    # 'shared para' is canonical at doc 1; doc 2 keeps only 'beta body'
    assert canon == {
        (1, md5("alpha body")),
        (1, md5("shared para")),
        (2, md5("beta body")),
    }
    # doc 2 is rejected downstream: commit only doc 1's hashes
    from pyspark.sql import functions as F

    store.commit_batch(
        "e1",
        new_canon.filter(F.col("doc_id") == 1).select("para_hash").distinct(),
    )
    committed = {r["para_hash"] for r in store.read().collect()}
    assert committed == {md5("alpha body"), md5("shared para")}
    # a later epoch re-submits 'beta body': it was never accepted, so its
    # one legitimate home survives
    e2 = spark.createDataFrame(
        [(10, "beta body\n\nfresh epoch two prose")], ["doc_id", "text"]
    )
    out2 = {r["doc_id"]: r["text"] for r in
            incremental_paragraph_dedup(e2, store, "e2").collect()}
    assert out2 == {10: "beta body\n\nfresh epoch two prose"}


def test_paragraph_store_compact_folds_and_preserves_history(spark, tmp_path):
    from hedera_etl_spark.operators.paradedup import (
        ParagraphHashStore,
        incremental_paragraph_dedup,
    )

    store = ParagraphHashStore(spark, str(tmp_path / "pstore_cmp"))
    incremental_paragraph_dedup(
        spark.createDataFrame([(1, f"one\n\n{BOILER}")], ["doc_id", "text"]),
        store,
        "e1",
    ).collect()
    incremental_paragraph_dedup(
        spark.createDataFrame([(2, "two body\n\nthree body")], ["doc_id", "text"]),
        store,
        "e2",
    ).collect()
    before = {r["para_hash"] for r in store.read().collect()}
    assert store.compact() == 2
    assert len(store.committed_batches()) == 1
    assert {r["para_hash"] for r in store.read().collect()} == before
    # history still cuts: recycled boilerplate vanishes post-compaction
    out = incremental_paragraph_dedup(
        spark.createDataFrame(
            [(10, f"{BOILER}\n\nnovel closing")], ["doc_id", "text"]
        ),
        store,
        "e3",
    )
    assert {r["text"] for r in out.collect()} == {"novel closing"}
    assert store.compact() == 2  # e3's new dir folds in
    assert store.compact() == 0  # idempotent at one dir


def test_paragraph_store_compact_crash_leftover_converges(spark, tmp_path):
    """Crash between target publish and source removal leaves hashes
    duplicated across target and a leftover source: reads stay correct
    (semi/anti consumers are duplicate-insensitive) and a re-compact
    folds without row creep."""
    import os
    import shutil

    from hedera_etl_spark.operators.paradedup import (
        ParagraphHashStore,
        incremental_paragraph_dedup,
    )

    store = ParagraphHashStore(spark, str(tmp_path / "pstore_crash"))
    incremental_paragraph_dedup(
        spark.createDataFrame([(1, "solo paragraph body")], ["doc_id", "text"]),
        store,
        "e1",
    ).collect()
    incremental_paragraph_dedup(
        spark.createDataFrame([(2, "other paragraph body")], ["doc_id", "text"]),
        store,
        "e2",
    ).collect()
    store.compact()
    target = next(iter(store.committed_batches()))
    shutil.copytree(
        os.path.join(store.hashes_dir, target),
        os.path.join(store.hashes_dir, "batch=leftover"),
    )
    # duplicated hashes: dedup still cuts exactly once
    out = incremental_paragraph_dedup(
        spark.createDataFrame(
            [(10, "solo paragraph body\n\nnew text")], ["doc_id", "text"]
        ),
        store,
        "e3",
    )
    assert {r["text"] for r in out.collect()} == {"new text"}
    assert store.compact() == 3
    assert store.read().count() == 3  # dropDuplicates folded the overlap


def test_skew_safe_drops_equal_window_form(spark, corpus):
    """r13 advice: duplicate_paragraph_drops(skew_safe=True) — the
    groupBy + SHUFFLE_HASH join-back escape hatch for hot-hash skew —
    must produce the exact window-form drop set, and its plan must not
    contain a broadcast join."""
    from hedera_etl_spark.operators.paradedup import (
        duplicate_paragraph_drops,
        paragraph_occurrences,
    )

    occ = paragraph_occurrences(corpus)
    base = sorted(
        (r["doc_id"], r["idx"])
        for r in duplicate_paragraph_drops(occ).collect()
    )
    safe_df = duplicate_paragraph_drops(occ, skew_safe=True)
    safe = sorted((r["doc_id"], r["idx"]) for r in safe_df.collect())
    assert safe == base
    plan = safe_df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
