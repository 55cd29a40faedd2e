"""Exact repeated-span removal (operators/spandedup.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from hedera_etl_spark.operators.spandedup import (
    exact_substr_dedup,
    remove_repeated_spans,
    repeated_intervals,
    repeated_spans,
)

HEADER = "standard license header text appears here"  # 6 tokens


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{HEADER} first document real content alpha beta"),
            Row(doc_id=2, text=f"{HEADER} second document other words gamma delta"),
            Row(doc_id=3, text="entirely unique text with no shared spans at all"),
            Row(doc_id=4, text="short doc"),
        ]
    )


def test_repeated_spans_finds_cross_doc_boilerplate(spark, docs):
    hits = repeated_spans(docs, n=6, min_count=2).collect()
    by_doc = {}
    for r in hits:
        by_doc.setdefault(r["doc_id"], []).append(r["pos"])
    # the 6-token header starts at position 1 in docs 1 and 2 only
    assert by_doc == {1: [1], 2: [1]}


def test_remove_cuts_all_occurrences_keeps_rest(spark, docs):
    out = {r["doc_id"]: r["text"] for r in remove_repeated_spans(docs, n=6).collect()}
    assert out[1] == "first document real content alpha beta"
    assert out[2] == "second document other words gamma delta"
    # untouched docs pass through byte-identical
    assert out[3] == "entirely unique text with no shared spans at all"
    assert out[4] == "short doc"


def test_keep_first_retains_one_canonical_occurrence(spark, docs):
    out = {
        r["doc_id"]: r["text"]
        for r in remove_repeated_spans(docs, n=6, keep_first=True).collect()
    }
    # min-(doc_id, pos) owner: doc 1 keeps the header, doc 2 loses it
    assert out[1].startswith(HEADER)
    assert out[2] == "second document other words gamma delta"


def test_overlapping_spans_merge_coverage(spark):
    """A run repeated across docs longer than n produces overlapping
    flagged spans; coverage must merge, not double-cut or leave slivers."""
    run = "a b c d e f g h"  # 8 tokens, n=5 -> starts 1..4 all repeated
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{run} one tail here"),
            Row(doc_id=2, text=f"{run} two tail there"),
        ]
    )
    out = {r["doc_id"]: r["text"] for r in remove_repeated_spans(docs, n=5).collect()}
    assert out[1] == "one tail here"
    assert out[2] == "two tail there"


def test_within_doc_repetition_counts(spark):
    """min_count counts occurrences, not documents: a span repeated
    twice INSIDE one doc is cut."""
    phrase = "repeat me five tokens now"
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=f"{phrase} middle words {phrase} end bits")]
    )
    out = remove_repeated_spans(docs, n=5).collect()[0]["text"]
    assert out == "middle words end bits"


def test_no_python_and_outer_generate(spark, docs):
    df = remove_repeated_spans(docs, n=6)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "pythonUDF" not in plan and "PythonUDF" not in plan
    bad = [
        line
        for line in plan.splitlines()
        if "Filter" in line and "xxhash64(concat_ws" in line
    ]
    assert not bad, bad  # the span construction never inlines into a Filter


def test_pipeline_span_stage(spark):
    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"{HEADER} first unique body content words"),
            Row(doc_id=2, text=f"{HEADER} second unique body different words"),
        ]
    )
    out = {
        r["doc_id"]: r["text"]
        for r in prepare_training_corpus(
            docs, near_threshold=None, min_tokens=0, span_dedup_n=6
        ).collect()
    }
    assert out[1].startswith(HEADER)  # canonical occurrence kept
    assert out[2] == "second unique body different words"


# ---------------------------------------------------------------------------
# ExactSubstr: arbitrary-length repeated-substring dedup
# ---------------------------------------------------------------------------
def _bruteforce_any_length_coverage(texts: dict, L: int) -> dict:
    """The DEFINITION, not the algorithm: for every substring of every
    length >= L, count its corpus-wide occurrences; a position is
    covered iff some >= L-length substring through it occurs >= 2
    times.  O(n^3)-ish — only viable on the tiny fixture, which is the
    point: it pins the any-length semantics the operator claims."""
    from collections import Counter

    counts: Counter = Counter()
    toks = {d: t.split(" ") for d, t in texts.items()}
    for t in toks.values():
        for length in range(L, len(t) + 1):
            for s in range(0, len(t) - length + 1):
                counts[tuple(t[s:s + length])] += 1
    cov: dict = {}
    for d, t in toks.items():
        pos: set = set()
        for length in range(L, len(t) + 1):
            for s in range(0, len(t) - length + 1):
                if counts[tuple(t[s:s + length])] >= 2:
                    pos.update(range(s + 1, s + length + 1))  # 1-based
        cov[d] = pos
    return cov


@pytest.fixture(scope="module")
def xs_docs(spark):
    """Variable-length planted repeats at different alignments: a
    9-token phrase shared END vs MIDDLE vs START, a 5-token sub-phrase
    shared with a third doc, a self-periodic doc, and a clean doc."""
    phrase = "p0 p1 p2 p3 p4 p5 p6 p7 p8"          # 9 tokens
    sub = "p2 p3 p4 p5 p6"                          # inner 5 of them
    return {
        1: f"alpha beta gamma delta {phrase}",
        2: f"one {phrase} two three four five",
        3: f"{sub} completely different tail words here",
        4: "ha ho " * 4 + "done",                   # self-repeat (8 tokens)
        5: "nothing here repeats at all in any way",
    }


def _xs_df(spark, xs_docs):
    return spark.createDataFrame(
        [Row(doc_id=d, text=t.strip()) for d, t in xs_docs.items()]
    )


def test_intervals_match_any_length_bruteforce(spark, xs_docs):
    """The coverage-equivalence theorem (repeated_intervals docstring):
    stride-1 w-window coverage == any-length >= w repeat coverage,
    checked against the brute-force DEFINITION."""
    L = 5
    want = _bruteforce_any_length_coverage(xs_docs, L)
    got: dict = {d: set() for d in xs_docs}
    ivals = repeated_intervals(_xs_df(spark, xs_docs), min_len=L).collect()
    for r in ivals:
        got[r["doc_id"]].update(range(r["start"], r["end_pos"] + 1))
    assert got == want
    # intervals are MAXIMAL and disjoint: no two touch or overlap
    by_doc: dict = {}
    for r in ivals:
        by_doc.setdefault(r["doc_id"], []).append((r["start"], r["end_pos"]))
    for spans in by_doc.values():
        spans.sort()
        for (a1, b1), (a2, b2) in zip(spans, spans[1:]):
            assert a2 > b1 + 1
    # lengths reported correctly
    assert all(
        r["n_tokens"] == r["end_pos"] - r["start"] + 1 for r in ivals
    )


def test_intervals_report_variable_lengths_and_alignments(spark, xs_docs):
    L = 5
    ivals = {
        (r["doc_id"], r["start"]): r["n_tokens"]
        for r in repeated_intervals(_xs_df(spark, xs_docs), min_len=L).collect()
    }
    # doc 1: the 9-token phrase at the END (tokens 5..13)
    assert ivals[(1, 5)] == 9
    # doc 2: same phrase MID-doc (tokens 2..10) — different alignment
    assert ivals[(2, 2)] == 9
    # doc 3: only the 5-token sub-phrase, at the START
    assert ivals[(3, 1)] == 5
    # doc 5: clean
    assert not any(d == 5 for d, _ in ivals)


def test_exact_substr_equals_window_form(spark, xs_docs):
    """The cut is provably the same relation remove_repeated_spans
    produces at n=min_len — pinned here so the two forms can never
    drift."""
    df = _xs_df(spark, xs_docs)
    L = 5
    a = {r["doc_id"]: r["text"] for r in exact_substr_dedup(df, min_len=L).collect()}
    b = {r["doc_id"]: r["text"] for r in remove_repeated_spans(df, n=L).collect()}
    assert a == b
    # and the clean doc is byte-identical to its input
    assert a[5] == "nothing here repeats at all in any way"


def test_pipeline_exact_substr_stage(spark):
    """prepare_training_corpus(exact_substr_min_len=...): the planted
    arbitrary-length repeat is cut from every survivor, and documents
    hollowed below the token floor drop."""
    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus

    boiler = " ".join(f"b{i}" for i in range(7))
    rows = [
        Row(doc_id=1, text=f"unique alpha words one two three {boiler}"),
        Row(doc_id=2, text=f"{boiler} other body text four five six"),
        Row(doc_id=3, text=f"{boiler} tiny"),  # hollowed below the floor
        Row(doc_id=4, text="independent document with plenty of words here"),
    ]
    out = {
        r["doc_id"]: r["text"]
        for r in prepare_training_corpus(
            spark.createDataFrame(rows),
            near_threshold=0.0,  # disable near-dup noise on this fixture
            exact_substr_min_len=5,
            min_tokens=3,
            sample_rate=1.0,
        ).collect()
    }
    assert out[1] == "unique alpha words one two three"
    assert out[2] == "other body text four five six"
    assert 3 not in out  # 'tiny' alone is below min_tokens=3
    assert out[4] == "independent document with plenty of words here"


# ---------------------------------------------------------------------------
# incremental ExactSubstr: cross-epoch repeated-substring cutting
# ---------------------------------------------------------------------------
PHRASE = "q0 q1 q2 q3 q4 q5 q6"  # 7 tokens; epochs run at min_len=5


def _inc(spark, store, bid, rows, **kw):
    from hedera_etl_spark.operators.spandedup import incremental_exact_substr

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        r["doc_id"]: r["text"]
        for r in incremental_exact_substr(
            df, store, bid, min_len=5, **kw
        ).collect()
    }


def test_incremental_epochs_cut_history_substrings(spark, tmp_path):
    """Epoch 1 ships a once-seen phrase (survives, commits); an epoch-2
    document embedding that phrase mid-text gets it cut at ANY
    alignment; epoch-2 within-batch repeats cut too; clean text always
    passes byte-identical."""
    from hedera_etl_spark.operators.spandedup import SpanHashStore

    store = SpanHashStore(spark, str(tmp_path / "sstore"))
    e1 = _inc(spark, store, "e1", [(1, f"intro words {PHRASE} outro")])
    assert e1[1] == f"intro words {PHRASE} outro"  # once-seen: survives
    e2 = _inc(
        spark, store, "e2",
        [
            (2, f"fresh start {PHRASE} fresh finish"),   # history hit
            (3, f"one {PHRASE} two"),                     # history hit
            (4, "totally novel text with no shared runs"),
        ],
    )
    assert PHRASE not in e2[2] and PHRASE not in e2[3]
    assert "fresh start" in e2[2] and "fresh finish" in e2[2]
    assert e2[4] == "totally novel text with no shared runs"


def test_incremental_replay_is_deterministic(spark, tmp_path):
    """A replay of a committed epoch judges against the store as it
    stood BEFORE that epoch (hashes(exclude_batch=...)), so it returns
    byte-identical documents instead of cutting its own rows."""
    from hedera_etl_spark.operators.spandedup import SpanHashStore

    store = SpanHashStore(spark, str(tmp_path / "sstore2"))
    rows1 = [(1, f"alpha {PHRASE} beta")]
    first = _inc(spark, store, "e1", rows1)
    again = _inc(spark, store, "e1", rows1)  # replay after commit
    assert first == again
    assert store.has_batch("e1")
    # and a SECOND epoch still sees e1's history
    e2 = _inc(spark, store, "e2", [(9, f"x {PHRASE} y")])
    assert PHRASE not in e2[9]


def test_incremental_seam_rule_commits_only_clear_windows(spark, tmp_path):
    """Windows overlapping a cut interval do not commit: after the cut
    the text concatenates around the seam, so those windows describe
    token runs that no longer exist in the shipped document."""
    from hedera_etl_spark.operators.spandedup import (
        SpanHashStore,
        incremental_exact_substr_plan,
    )

    store = SpanHashStore(spark, str(tmp_path / "sstore3"))
    _inc(spark, store, "e1", [(1, f"pad {PHRASE} tail")])
    df = spark.createDataFrame(
        [(2, f"a0 a1 a2 a3 {PHRASE} b0 b1 b2 b3")],
        "doc_id long, text string",
    )
    out, new_canon = incremental_exact_substr_plan(
        df, store, "e2", min_len=5
    )
    text2 = out.collect()[0]["text"]
    assert PHRASE not in text2
    # committed hashes must all correspond to intact 5-token windows of
    # the ORIGINAL text that are clear of the cut [5, 11] (1-based):
    # a-prefix windows start at 1..? need pos+4 < 5 -> none (window at 1
    # covers 1-5, overlaps start 5); b-suffix windows start at 12..? a
    # 16-token doc has starts 1..12; only start 12 (b0..b3 is 4 tokens —
    # no clear 5-window exists on either side), so NOTHING commits.
    assert new_canon.count() == 0
    # whereas a doc with a clear run away from the seam DOES commit
    df3 = spark.createDataFrame(
        [(3, f"c0 c1 c2 c3 c4 c5 filler {PHRASE}")],
        "doc_id long, text string",
    )
    _, canon3 = incremental_exact_substr_plan(df3, store, "e3", min_len=5)
    assert canon3.count() > 0


def test_incremental_history_probe_never_shuffles_store(spark, tmp_path):
    """The inverted-probe pin for the span store: no Exchange between
    the history scan and the probe join — one history SCAN, zero
    history SHUFFLES per epoch at any store size."""
    from planutil import assert_scan_probes_unshuffled, plan_of

    from hedera_etl_spark.operators.joins import inverted_store_probe
    from hedera_etl_spark.operators.spandedup import (
        SpanHashStore,
        _span_rows,
    )

    store = SpanHashStore(spark, str(tmp_path / "sstore4"))
    _inc(spark, store, "e1", [(1, f"alpha {PHRASE} beta")])
    _inc(spark, store, "e2", [(2, "other words entirely here now")])
    batch = spark.createDataFrame(
        [(10, f"novel {PHRASE} run")], "doc_id long, text string"
    )
    rows = _span_rows(batch, 5, "text", "doc_id")
    # mirror the operator's presence path: prune to h before the probe
    # (the scan must read ONE column — the count columns only load on
    # the min_count>2 path)
    hits = inverted_store_probe(
        store.read().withColumnRenamed("span_hash", "h").select("h"),
        rows.select("h").distinct(),
        "h",
    )
    assert hits.count() > 0  # the phrase windows hit history
    assert_scan_probes_unshuffled(plan_of(hits), "struct<span_hash:bigint>")


def test_span_store_compact_preserves_replay(spark, tmp_path):
    """Compaction folds batch dirs; a replay of a pre-compaction epoch
    still excludes its own rows (origin attribution) and reproduces its
    original output."""
    from hedera_etl_spark.operators.spandedup import SpanHashStore

    store = SpanHashStore(spark, str(tmp_path / "sstore5"))
    rows1 = [(1, f"alpha {PHRASE} beta")]
    first = _inc(spark, store, "e1", rows1)
    _inc(spark, store, "e2", [(2, "unrelated second epoch text body")])
    assert store.compact() >= 2
    assert store.has_batch("e1")  # folded but still committed
    again = _inc(spark, store, "e1", rows1)
    assert first == again


def test_skew_safe_forms_equal_window_forms(spark, docs):
    """r13 advice: the skew_safe escape hatch (groupBy partial-combine +
    SHUFFLE_HASH-hinted join-back) must produce the exact window-form
    relations — flags, all-occurrences cut, and keep-first cut."""
    flags_w = sorted(
        (r["doc_id"], r["pos"])
        for r in repeated_spans(docs, n=6, min_count=2).collect()
    )
    flags_s = sorted(
        (r["doc_id"], r["pos"])
        for r in repeated_spans(docs, n=6, min_count=2, skew_safe=True).collect()
    )
    assert flags_s == flags_w
    for kf in (False, True):
        out_w = {
            r["doc_id"]: r["text"]
            for r in remove_repeated_spans(docs, n=6, keep_first=kf).collect()
        }
        out_s = {
            r["doc_id"]: r["text"]
            for r in remove_repeated_spans(
                docs, n=6, keep_first=kf, skew_safe=True
            ).collect()
        }
        assert out_s == out_w


def test_skew_safe_plan_never_broadcasts_the_flag_join(spark, docs):
    """The escape hatch exists to forbid the driver-built broadcast the
    r7 join-back died on: the flagged-hash join must plan as a shuffled
    hash join, with no BroadcastExchange feeding it."""
    df = repeated_spans(docs, n=6, min_count=2, skew_safe=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_incremental_min_count_rejects_below_two(spark, tmp_path):
    from hedera_etl_spark.operators.spandedup import (
        SpanHashStore,
        incremental_exact_substr_plan,
    )

    store = SpanHashStore(spark, str(tmp_path / "spans"))
    docs = spark.createDataFrame([Row(doc_id=1, text="a b c d e")])
    with pytest.raises(ValueError, match="min_count must be >= 2"):
        incremental_exact_substr_plan(
            docs, store, "b1", min_len=2, min_count=1
        )


OTHER = "z0 z1 z2 z3 z4 z5 z6"  # a second 7-token phrase


def test_incremental_min_count_three_matches_batch_modulo_keep_first(
    spark, tmp_path
):
    """VERDICT r14 #6: batch/streaming parity at min_count=3.  On one
    epoch over an empty store, the incremental form must equal the
    batch ``exact_substr_dedup(min_count=3)`` on every document EXCEPT
    the canonical keeper of an over-threshold phrase — the documented
    keep-first deviation (batch cuts ALL occurrences; incremental keeps
    the min-(doc_id, pos) copy so content survives somewhere)."""
    from hedera_etl_spark.operators.spandedup import (
        SpanHashStore,
        exact_substr_dedup,
    )

    rows = [
        (1, f"intro {PHRASE} end"),    # PHRASE x3 across docs -> cut
        (2, f"a1 a2 a3 {PHRASE} b1 b2"),
        (3, f"x1 x2 {PHRASE} y1 y2"),
        (4, f"p1 p2 {OTHER} q1 q2"),   # OTHER x2 < 3 -> everything ships
        (5, f"m1 m2 {OTHER} n1 n2"),
        (6, "totally novel text with no shared runs at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = {
        r["doc_id"]: r["text"]
        for r in exact_substr_dedup(df, min_len=5, min_count=3).collect()
    }
    store = SpanHashStore(spark, str(tmp_path / "spans3"))
    inc = _inc(spark, store, "e1", rows, min_count=3)
    # keeper (doc 1, the min-(doc_id, pos) occurrence) keeps the phrase
    assert PHRASE in inc[1] and PHRASE not in batch[1]
    # every other doc: byte-identical to the batch form
    for d in (2, 3, 4, 5, 6):
        assert inc[d] == batch[d], f"doc {d} diverged from batch form"
    assert PHRASE not in inc[2] and PHRASE not in inc[3]
    assert OTHER in inc[4] and OTHER in inc[5]  # below threshold: ships


def test_incremental_min_count_three_counts_accumulate_across_epochs(
    spark, tmp_path
):
    """The store's per-hash counts make the threshold cross EPOCHS: two
    shipped occurrences in history + one more arriving = 3 >= 3 -> the
    new arrival cuts, while the first two epochs' copies stay shipped
    (the documented late-duplicate asymmetry).  A replay of the cutting
    epoch stays deterministic (store read excludes its own batch)."""
    from hedera_etl_spark.operators.spandedup import SpanHashStore

    store = SpanHashStore(spark, str(tmp_path / "spans_acc"))
    e1 = _inc(spark, store, "e1", [(1, f"alpha {PHRASE} beta")], min_count=3)
    assert PHRASE in e1[1]  # count 1 < 3
    e2 = _inc(spark, store, "e2", [(2, f"gamma {PHRASE} delta")], min_count=3)
    assert PHRASE in e2[2]  # 1 (history) + 1 = 2 < 3
    e3 = _inc(spark, store, "e3", [(3, f"eps {PHRASE} zeta")], min_count=3)
    assert PHRASE not in e3[3]  # 2 + 1 = 3 -> cut
    assert "eps" in e3[3] and "zeta" in e3[3]
    # replay of the cutting epoch: byte-identical (exclude_batch rule)
    again = _inc(spark, store, "e3", [(3, f"eps {PHRASE} zeta")], min_count=3)
    assert again == e3


def test_incremental_min_count_three_history_plus_batch_cuts_all(
    spark, tmp_path
):
    """When history already ships a copy and the combined total crosses
    the threshold, ALL batch occurrences cut — the canonical copy lives
    in the earlier epoch, so no in-batch keeper is elected."""
    from hedera_etl_spark.operators.spandedup import SpanHashStore

    store = SpanHashStore(spark, str(tmp_path / "spans_hb"))
    _inc(spark, store, "e1", [(1, f"alpha {PHRASE} beta")], min_count=3)
    e2 = _inc(
        spark, store, "e2",
        [(2, f"g1 g2 {PHRASE} d1 d2"), (3, f"k1 k2 {PHRASE} l1 l2")],
        min_count=3,
    )  # 1 (history) + 2 (batch) = 3 -> both batch copies cut
    assert PHRASE not in e2[2] and PHRASE not in e2[3]


def test_span_store_reads_pre_r15_presence_rows_as_count_one(spark, tmp_path):
    """Back-compat: a store written before the count column existed
    (bare span_hash rows) reads n as 1 — exact for min_count=2 (the
    only threshold the old form served), conservative above it."""
    from pyspark.sql import functions as F

    from hedera_etl_spark import fsutil
    from hedera_etl_spark.operators.spandedup import SpanHashStore, _span_rows

    store = SpanHashStore(spark, str(tmp_path / "legacy"))

    h = (
        _span_rows(
            spark.createDataFrame(
                [(1, f"alpha {PHRASE} beta")], "doc_id long, text string"
            ),
            5,
            "text",
            "doc_id",
        )
        .select(F.col("h").alias("span_hash"))
        .distinct()
    )
    staged = fsutil.stage_batch_dir(store.hashes_dir, "batch=legacy", h)
    fsutil.publish_batch_dir(store.hashes_dir, "batch=legacy", staged)
    got = store.read().collect()
    assert got and all(r["n"] == 1 for r in got)
    # and the min_count=2 presence path still cuts against legacy rows
    e2 = _inc(spark, store, "e2", [(9, f"x {PHRASE} y")])
    assert PHRASE not in e2[9]


def test_exact_substr_skew_safe_passthrough(spark, xs_docs):
    """skew_safe threads through repeated_intervals/exact_substr_dedup
    to the span-flag stage: identical intervals and identical cuts."""
    df = _xs_df(spark, xs_docs)
    base_iv = sorted(
        tuple(r) for r in repeated_intervals(df, min_len=5).collect()
    )
    safe_iv = sorted(
        tuple(r)
        for r in repeated_intervals(df, min_len=5, skew_safe=True).collect()
    )
    assert base_iv, "fixture planted repeats should flag"
    assert safe_iv == base_iv
    base_cut = {
        r["doc_id"]: r["text"]
        for r in exact_substr_dedup(df, min_len=5).collect()
    }
    safe_cut = {
        r["doc_id"]: r["text"]
        for r in exact_substr_dedup(df, min_len=5, skew_safe=True).collect()
    }
    assert safe_cut == base_cut
