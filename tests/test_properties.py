"""Property-based tests (hypothesis): invariants that must hold for ANY
input, not just the fixtures — upgrading the reference's example-only
test strategy (SURVEY §5).

Spark-backed properties keep max_examples small (each example is a job);
pure-expression properties go through one batched DataFrame per case.
"""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

SPARK_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ---------------------------------------------------------------------------
# transform: JSON -> typed rows
# ---------------------------------------------------------------------------
int64s = st.integers(min_value=-(2**63), max_value=2**63 - 1)
memos = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters='"\\\x00'),
    max_size=30,
)


@settings(**SPARK_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(int64s, st.integers(0, 30), int64s, memos), min_size=1, max_size=20
    )
)
def test_transform_preserves_any_int64_exactly(spark, rows):
    """Every int64 — quoted or not, far beyond 2^53 — round-trips exactly
    through parse + cast; memos survive verbatim."""
    from hedera_etl_spark.transform import parse_transactions

    lines = [
        json.dumps(
            {
                "consensusTimestamp": ts,
                "transactionType": tt,
                "transaction": {"body": {"transactionFee": str(fee), "memo": memo}},
            }
        )
        for ts, tt, fee, memo in rows
    ]
    raw = spark.createDataFrame([(ln,) for ln in lines], ["value"])
    valid, errors = parse_transactions(raw)
    got = sorted(
        (
            r["consensusTimestamp"],
            r["transactionType"],
            r["transaction"]["body"]["transactionFee"],
            r["transaction"]["body"]["memo"],
        )
        for r in valid.collect()
    )
    assert errors.count() == 0
    assert got == sorted((ts, tt, fee, memo) for ts, tt, fee, memo in rows)


@pytest.mark.slow
@settings(**SPARK_SETTINGS)
@given(junk=st.lists(st.text(max_size=40).filter(lambda s: s.strip() != ""), min_size=1, max_size=10))
def test_transform_never_crashes_and_conserves_rows(spark, junk):
    """Arbitrary garbage lines: the transform must never raise, and every
    input row lands in exactly one of (valid, errors)."""
    from hedera_etl_spark.transform import parse_transactions

    raw = spark.createDataFrame([(ln,) for ln in junk], ["value"])
    valid, errors = parse_transactions(raw)
    assert valid.count() + errors.count() == len(junk)


# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------
tokens_lists = st.lists(st.text(alphabet="abcde", min_size=1, max_size=4), min_size=0, max_size=12)


@settings(**SPARK_SETTINGS)
@given(docs=st.lists(tokens_lists, min_size=1, max_size=10))
def test_shingle_count_and_shape(spark, docs):
    """len(shingles) == max(0, n_tokens - 2); each shingle is exactly the
    3 consecutive tokens joined by a space."""
    from hedera_etl_spark.functions import shingles

    df = spark.createDataFrame([(i, " ".join(d)) for i, d in enumerate(docs)], ["i", "text"])
    toked = df.select("i", F.split("text", " ").alias("toks"))
    out = {
        r["i"]: r["sh"]
        for r in toked.select("i", shingles(F.col("toks"), 3).alias("sh")).collect()
    }
    for i, d in enumerate(docs):
        toks = " ".join(d).split(" ")  # mirrors the engine's single-space split
        expect = (
            [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
            if len(toks) >= 3
            else []
        )
        assert out[i] == expect, (i, toks)


# ---------------------------------------------------------------------------
# dedup collapse
# ---------------------------------------------------------------------------
@settings(**SPARK_SETTINGS)
@given(
    keys=st.lists(st.integers(0, 5), min_size=1, max_size=30),
)
def test_collapse_is_idempotent_and_keeps_min_tiebreak(spark, keys):
    from hedera_etl_spark.operators.dedupe import collapse_duplicates

    rows = [(k, seq) for seq, k in enumerate(keys)]
    df = spark.createDataFrame(rows, ["k", "seq"])
    once = collapse_duplicates(df, "k", ["seq"])
    got = {(r["k"], r["seq"]) for r in once.collect()}
    expect = {}
    for k, seq in rows:
        if k not in expect or seq < expect[k]:
            expect[k] = seq
    assert got == set(expect.items())
    twice = collapse_duplicates(once, "k", ["seq"])
    assert {(r["k"], r["seq"]) for r in twice.collect()} == got


# ---------------------------------------------------------------------------
# as-of join vs a per-row reference implementation
# ---------------------------------------------------------------------------
@settings(**SPARK_SETTINGS)
@given(
    left=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=15),
    right=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 99)),
                   min_size=0, max_size=15),
)
def test_asof_join_matches_reference_impl(spark, left, right):
    from hedera_etl_spark.operators.joins import as_of_join

    # right must be unique per (key, ts) — the operator's contract
    right = list({(k, ts): (k, ts, v) for k, ts, v in right}.values())
    ldf = spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(left)], ["k", "lts", "lid"]
    )
    rdf = spark.createDataFrame(right, ["k", "rts", "payload"]) if right else \
        spark.createDataFrame([], "k long, rts long, payload long")
    out = as_of_join(ldf, rdf, on="k", left_ts="lts", right_ts="rts",
                     right_payload=["payload"])
    got = {r["lid"]: r["payload"] for r in out.collect()}
    for i, (k, ts) in enumerate(left):
        cands = [(rts, v) for (rk, rts, v) in right if rk == k and rts <= ts]
        expect = max(cands)[1] if cands else None
        assert got[i] == expect, (i, k, ts)


def test_asof_inner_keeps_matched_row_with_null_payload(spark):
    """ADVICE regression: how='inner' must keep a left row whose matched
    right row carries NULL in its first payload column (inner-ness comes
    from an explicit match sentinel, not from payload nullness), and must
    drop only genuinely unmatched left rows."""
    from hedera_etl_spark.operators.joins import as_of_join

    ldf = spark.createDataFrame(
        [(1, 10, "matched-null"), (1, 2, "unmatched"), (2, 10, "matched")],
        ["k", "lts", "tag"],
    )
    rdf = spark.createDataFrame(
        [(1, 5, None, 77), (2, 5, 42, 88)],
        "k long, rts long, payload long, extra long",
    )
    out = as_of_join(
        ldf, rdf, on="k", left_ts="lts", right_ts="rts",
        right_payload=["payload", "extra"], how="inner",
    ).collect()
    by_tag = {r["tag"]: (r["payload"], r["extra"]) for r in out}
    assert by_tag == {"matched-null": (None, 77), "matched": (42, 88)}


def test_asof_null_keys_and_null_ts_never_match(spark):
    """SQL ASOF semantics for NULLs: a right row with NULL key or NULL
    timestamp matches nothing (previously NULLS FIRST ordering carried
    its payload to the entire partition); NULL-key left rows survive a
    left join unmatched."""
    from hedera_etl_spark.operators.joins import as_of_join

    ldf = spark.createDataFrame(
        [(1, 10, "a"), (None, 10, "nullkey")], "k LONG, lts LONG, tag STRING"
    )
    rdf = spark.createDataFrame(
        [(1, None, 99), (None, 3, 77)], "k LONG, rts LONG, payload LONG"
    )
    out = {r["tag"]: r["payload"] for r in as_of_join(
        ldf, rdf, on="k", left_ts="lts", right_ts="rts", right_payload=["payload"]
    ).collect()}
    assert out == {"a": None, "nullkey": None}  # nothing matched anything


def test_asof_rejects_bad_how_and_colliding_payload(spark):
    import pytest as _pytest

    from hedera_etl_spark.operators.joins import as_of_join

    ldf = spark.createDataFrame([(1, 10, 5)], "k LONG, lts LONG, payload LONG")
    rdf = spark.createDataFrame([(1, 3, 7)], "k LONG, rts LONG, payload LONG")
    with _pytest.raises(ValueError):
        as_of_join(ldf, rdf, on="k", left_ts="lts", right_ts="rts",
                   right_payload=["payload"], how="right")
    with _pytest.raises(ValueError):
        as_of_join(ldf, rdf, on="k", left_ts="lts", right_ts="rts",
                   right_payload=["payload"])  # collides with left 'payload'


def test_range_join_bucketed_rejects_degenerate_width(spark):
    import pytest as _pytest

    from hedera_etl_spark.operators.joins import range_join_bucketed

    df = spark.createDataFrame([(1.0,)], "a DOUBLE")
    for w in (0.0, -1.0):
        with _pytest.raises(ValueError):
            range_join_bucketed(df, df, "a", "a", w)


def test_asof_matched_null_payload_not_resurrected_from_older_row(spark):
    """The matched right ROW travels atomically: a NULL in the true match
    must come through as NULL, never back-filled from an older right row
    (per-column ignorenulls carry stitched rows that never existed)."""
    from hedera_etl_spark.operators.joins import as_of_join

    ldf = spark.createDataFrame([(1, 3)], "k LONG, lts LONG")
    rdf = spark.createDataFrame(
        [(1, 1, 5, 6), (1, 2, None, 7)], "k LONG, rts LONG, a LONG, b LONG"
    )
    row = as_of_join(
        ldf, rdf, on="k", left_ts="lts", right_ts="rts", right_payload=["a", "b"]
    ).collect()[0]
    assert (row["a"], row["b"]) == (None, 7)  # the ts=2 row, exactly


def test_asof_collision_check_covers_keys_and_ts(spark):
    import pytest as _pytest

    from hedera_etl_spark.operators.joins import as_of_join

    ldf = spark.createDataFrame([(1, 10)], "k LONG, lts LONG")
    rdf = spark.createDataFrame([(1, 3, 7)], "k LONG, rts LONG, lts LONG")
    with _pytest.raises(ValueError):
        as_of_join(ldf, rdf, on="k", left_ts="lts", right_ts="rts",
                   right_payload=["lts"])  # collides with the left ts name


@pytest.mark.slow
@settings(**SPARK_SETTINGS)
@given(
    left=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=12),
    right=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 99)),
                   min_size=0, max_size=20),
)
def test_asof_time_grouped_equals_preagg_form(spark, left, right):
    """The fused as_of_join_time_grouped must equal as_of_join over the
    explicitly pre-aggregated right side — including duplicate (key, ts)
    right rows, the raw-stream case the fusion exists for."""
    import pyspark.sql.functions as F

    from hedera_etl_spark.operators.joins import as_of_join, as_of_join_time_grouped

    ldf = spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(left)], ["k", "lts", "lid"]
    )
    rdf = spark.createDataFrame(right, ["k", "rts", "v"]) if right else \
        spark.createDataFrame([], "k long, rts long, v long")

    pre = rdf.groupBy("k", "rts").agg(
        F.count("v").alias("n"), F.max("v").alias("vmax")
    )
    want = {
        r["lid"]: (r["n"], r["vmax"])
        for r in as_of_join(
            ldf, pre, on="k", left_ts="lts", right_ts="rts",
            right_payload=["n", "vmax"],
        ).collect()
    }
    got = {
        r["lid"]: (r["n"], r["vmax"])
        for r in as_of_join_time_grouped(
            ldf, rdf, on="k", left_ts="lts", right_ts="rts",
            aggs={"n": F.count("v"), "vmax": F.max("v")},
        ).collect()
    }
    assert got == want


def test_asof_time_grouped_single_pre_window_exchange(spark):
    """The fusion's reason to exist: exactly ONE exchange feeds both
    windows (repartition on the key satisfies both clustering needs)."""
    import pyspark.sql.functions as F

    from hedera_etl_spark.operators.joins import as_of_join_time_grouped

    ldf = spark.createDataFrame([(1, 10, 5)], "k LONG, lts LONG, lid LONG")
    rdf = spark.createDataFrame([(1, 3, 7), (1, 3, 8)], "k LONG, rts LONG, v LONG")
    out = as_of_join_time_grouped(
        ldf, rdf, on="k", left_ts="lts", right_ts="rts", aggs={"n": F.count("v")}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Sort" in plan


@pytest.mark.slow
@settings(**SPARK_SETTINGS)
@given(
    left=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=12),
    right=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 99)),
                   min_size=0, max_size=12),
    width=st.sampled_from([1, 7, 25, 100]),
)
def test_asof_bucketed_equals_plain_form(spark, left, right, width):
    """The (key, time-bucket)-partitioned as-of must equal the plain
    key-partitioned form for every bucket width — including widths that
    put the match many empty buckets behind the left row (the seed
    prefix-carry path) and width >= span (single bucket, pure in-bucket
    path)."""
    from hedera_etl_spark.operators.joins import as_of_join, as_of_join_bucketed

    right = list({(k, ts): (k, ts, v) for k, ts, v in right}.values())
    ldf = spark.createDataFrame(
        [(k, ts, i) for i, (k, ts) in enumerate(left)], ["k", "lts", "lid"]
    )
    rdf = spark.createDataFrame(right, ["k", "rts", "payload"]) if right else \
        spark.createDataFrame([], "k long, rts long, payload long")

    want = {
        r["lid"]: r["payload"]
        for r in as_of_join(
            ldf, rdf, on="k", left_ts="lts", right_ts="rts", right_payload=["payload"]
        ).collect()
    }
    got = {
        r["lid"]: r["payload"]
        for r in as_of_join_bucketed(
            ldf, rdf, on="k", left_ts="lts", right_ts="rts",
            right_payload=["payload"], bucket_width=width,
        ).collect()
    }
    assert got == want


def test_asof_bucketed_inner_and_validation(spark):
    from hedera_etl_spark.operators.joins import as_of_join_bucketed

    ldf = spark.createDataFrame(
        [(1, 10, "m"), (1, 2, "u")], "k LONG, lts LONG, tag STRING"
    )
    rdf = spark.createDataFrame([(1, 5, 42)], "k LONG, rts LONG, payload LONG")
    out = as_of_join_bucketed(
        ldf, rdf, on="k", left_ts="lts", right_ts="rts",
        right_payload=["payload"], bucket_width=3, how="inner",
    ).collect()
    assert {r["tag"] for r in out} == {"m"}
    import pytest as _pytest

    for bad in (0, -1):
        with _pytest.raises(ValueError):
            as_of_join_bucketed(ldf, rdf, on="k", left_ts="lts", right_ts="rts",
                                right_payload=["payload"], bucket_width=bad)


# ---------------------------------------------------------------------------
# sequence packing: capacity + totality for ANY corpus shape
# ---------------------------------------------------------------------------
@settings(**SPARK_SETTINGS)
@given(
    counts=st.lists(st.integers(0, 300), min_size=1, max_size=60),
    max_tokens=st.integers(1, 128),
    n_groups=st.integers(1, 7),
)
def test_packing_capacity_and_totality_any_corpus(spark, counts, max_tokens, n_groups):
    """For any token-count distribution, budget, and group count: every
    doc is assigned exactly once; a doc is oversize iff it exceeds the
    budget; no regular bin's fill exceeds the budget; oversize bins hold
    exactly one doc."""
    from hedera_etl_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, c) for i, c in enumerate(counts)], "doc_id LONG, n_tok LONG"
    )
    out = pack_sequences(
        docs, max_tokens, n_groups=n_groups, count_col="n_tok"
    ).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(len(counts)))
    fills: dict[int, int] = {}
    members: dict[int, int] = {}
    for r in out:
        assert r["oversize"] == (counts[r["doc_id"]] > max_tokens)
        members[r["bin_id"]] = members.get(r["bin_id"], 0) + 1
        if not r["oversize"]:
            fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + r["n_tokens"]
    assert all(f <= max_tokens for f in fills.values())
    for r in out:
        if r["oversize"]:
            assert members[r["bin_id"]] == 1


# ---------------------------------------------------------------------------
# decontamination: set-theoretic invariants for any corpus/eval pair
# ---------------------------------------------------------------------------
word = st.text(alphabet="abcdef", min_size=1, max_size=3)
doc_text = st.lists(word, min_size=1, max_size=12).map(" ".join)


@pytest.mark.slow
@settings(**SPARK_SETTINGS)
@given(
    corpus=st.lists(doc_text, min_size=1, max_size=8),
    eval_set=st.lists(doc_text, min_size=1, max_size=4),
)
def test_decontaminate_is_a_subset_and_idempotent(spark, corpus, eval_set):
    """Survivors are a subset of the input; decontaminating twice equals
    once (the operator is a pure filter); profile rows only for docs
    with >= n tokens."""
    from hedera_etl_spark.operators.decontam import (
        contamination_profile,
        decontaminate,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], ["doc_id", "text"]
    )
    ev = spark.createDataFrame(
        [(i, t) for i, t in enumerate(eval_set)], ["doc_id", "text"]
    )
    once = decontaminate(docs, ev, n=2)
    ids_once = {r["doc_id"] for r in once.collect()}
    assert ids_once <= set(range(len(corpus)))
    twice = decontaminate(once, ev, n=2)
    assert {r["doc_id"] for r in twice.collect()} == ids_once
    prof = contamination_profile(docs, ev, n=2).collect()
    for r in prof:
        assert 0 <= r["n_hits"] <= r["n_grams"]
        assert r["contamination"] == pytest.approx(
            r["n_hits"] / r["n_grams"], abs=1e-6
        )


@settings(**SPARK_SETTINGS)
@given(
    masses=st.lists(st.integers(10, 500), min_size=2, max_size=4),
    weights=st.lists(st.integers(1, 5), min_size=2, max_size=4),
)
def test_mixture_rates_always_valid_and_one_binding(spark, masses, weights):
    """For any corpus masses and positive weights: every solved rate is
    in (0, 1], at least one domain binds at 1.0, and expected output
    masses are proportional to the target weights."""
    from hedera_etl_spark.operators.sampling import mixture_rates

    k = min(len(masses), len(weights))
    masses, weights = masses[:k], weights[:k]
    rows = [
        (f"d{i}", j) for i, m in enumerate(masses) for j in range(m)
    ]
    df = spark.createDataFrame(rows, ["domain", "key"])
    target = {f"d{i}": float(w) for i, w in enumerate(weights)}
    rates = mixture_rates(df, "domain", target)
    assert all(0 < r <= 1.0 for r in rates.values())
    assert any(abs(r - 1.0) < 1e-9 for r in rates.values())
    total_w = sum(weights)
    expected = {d: masses[int(d[1:])] * rates[d] for d in rates}
    t_out = sum(expected.values())
    for d, w in target.items():
        assert expected[d] / t_out == pytest.approx(w / total_w, rel=1e-6)


# ---------------------------------------------------------------------------
# r7 operators: BPE merge loop, fuzzy decontamination, LM scoring
# ---------------------------------------------------------------------------
_word = st.text(alphabet="abcd", min_size=1, max_size=5)
_doc = st.lists(_word, min_size=1, max_size=8).map(" ".join)


@pytest.mark.slow
@settings(**SPARK_SETTINGS)
@given(texts=st.lists(_doc, min_size=1, max_size=6), k=st.integers(1, 6))
def test_bpe_matches_reference_trainer_any_corpus(spark, texts, k):
    """The distributed merge loop equals the sequential dict-based BPE
    trainer (same argmax tie-break, same greedy non-overlap rule) on
    arbitrary corpora — including all-same-char words where overlap
    chains are everywhere."""
    from hedera_etl_spark.operators.vocab import bpe_merges
    from tests.test_bpe import _py_bpe

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r.step, r.lhs, r.rhs, r.merged, r.tf)
        for r in bpe_merges(docs, k=k).collect()
    ]
    assert got == _py_bpe(texts, k)


@settings(**SPARK_SETTINGS)
@given(
    corpus=st.lists(_doc, min_size=1, max_size=6),
    evals=st.lists(_doc, min_size=1, max_size=3),
    threshold=st.sampled_from([0.25, 0.5, 0.75]),
)
def test_fuzzy_pairs_match_bruteforce_jaccard(spark, corpus, evals, threshold):
    """Every (doc, eval) pair at shingle-Jaccard >= t surfaces, none
    below it — against a brute-force set computation (the operator's
    broadcast-probe plan must lose NO pair: no banding, no blocking)."""
    from decimal import ROUND_HALF_UP, Decimal

    from hedera_etl_spark.operators.decontam import fuzzy_contamination_pairs

    n = 2

    def sets(text):
        t = text.split(" ")
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    expected = set()
    for i, d in enumerate(corpus):
        for j, e in enumerate(evals):
            a, b = sets(d), sets(e)
            if not a or not b:
                continue
            jac = len(a & b) / len(a | b)
            jac = float(
                Decimal(repr(jac)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
            )
            if jac >= threshold:
                expected.add((i, j))

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    edf = spark.createDataFrame(
        [(j, t) for j, t in enumerate(evals)], "eval_id long, text string"
    )
    got = {
        (r.doc_id, r.eval_id)
        for r in fuzzy_contamination_pairs(
            docs, edf, n=n, threshold=threshold, eval_id_col="eval_id"
        ).collect()
    }
    assert got == expected


@pytest.mark.slow
@settings(**SPARK_SETTINGS)
@given(texts=st.lists(_doc, min_size=1, max_size=6))
def test_lm_scores_match_reference_model(spark, texts):
    """Self-scored corpus: every document's (n_bigrams, sum_logp) equals
    the sequential reference computation under the same DECIMAL(12,6)
    per-term rounding."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from hedera_etl_spark.operators.lmscore import bigram_lm, lm_scores

    bgs = []
    for i, t in enumerate(texts):
        toks = t.split(" ")
        bgs += [(i, toks[j], toks[j + 1]) for j in range(len(toks) - 1)]
    c2 = Counter((w1, w2) for _, w1, w2 in bgs)
    c1 = Counter(w1 for _, w1, _ in bgs)
    vocab = {w for _, w1, w2 in bgs for w in (w1, w2)}
    v = len(vocab)

    def lp(w1, w2):
        p = (c2[(w1, w2)] + 0.5) / (c1[w1] + 0.5 * v)
        return Decimal(repr(math.log(p))).quantize(
            Decimal("0.000001"), ROUND_HALF_UP
        )

    expected = {}
    for i, _ in enumerate(texts):
        doc_bgs = [(w1, w2) for d, w1, w2 in bgs if d == i]
        if doc_bgs:
            expected[i] = (
                len(doc_bgs),
                float(sum(lp(w1, w2) for w1, w2 in doc_bgs)),
            )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_bigrams, r.sum_logp)
        for r in lm_scores(docs, bigram_lm(docs)).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# paragraph dedup vs a sequential Python reference
# ---------------------------------------------------------------------------
para_texts = st.lists(
    st.lists(
        st.text(alphabet="abXY ", min_size=0, max_size=6), min_size=1, max_size=5
    ),
    min_size=1,
    max_size=8,
)


def _para_reference(docs, min_chars=1):
    """Sequential keep-first paragraph dedup: (doc_id, paragraph list)
    in id order; returns surviving texts keyed by doc id."""
    seen = set()
    out = {}
    for doc_id, paras in docs:
        kept = []
        for p in paras:
            if len(p) < min_chars:
                kept.append(p)  # exempt
            elif p not in seen:
                seen.add(p)
                kept.append(p)
        text = "\n\n".join(kept)
        # drop_empty tests SQL trim(), which strips SPACES only (both
        # engines) — a doc of exempt empty paragraphs ('\n\n') survives
        if text.strip(" "):
            out[doc_id] = text
    return out


@settings(**SPARK_SETTINGS)
@given(docs=para_texts)
def test_paragraph_dedup_matches_sequential_reference(spark, docs):
    """For ANY corpus, distributed keep-first == the obvious sequential
    sweep in (doc_id, idx) order (the canonical-occurrence rule)."""
    from hedera_etl_spark.operators.paradedup import paragraph_dedup

    rows = [(i, "\n\n".join(paras)) for i, paras in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in paragraph_dedup(df).collect()}
    want = _para_reference([(i, paras) for i, paras in enumerate(docs)])
    assert got == want


# ---------------------------------------------------------------------------
# deterministic shuffle vs a Python md5 reference
# ---------------------------------------------------------------------------
@settings(**SPARK_SETTINGS)
@given(
    ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=40, unique=True),
    salt=st.text(alphabet="abc", max_size=4),
)
def test_shuffled_order_matches_python_md5_reference(spark, ids, salt):
    """The seeded permutation is exactly the md5 hash order any engine
    (or a plain Python sweep) re-derives."""
    import hashlib

    from hedera_etl_spark.operators.ordershuffle import shuffled_order

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["shuffle_rank"]
        for r in shuffled_order(df, ["doc_id"], salt=salt).collect()
    }

    def bucket(i):
        h = hashlib.md5(f"{salt}\x1f{i}".encode()).hexdigest()
        return int(h[:8], 16) / 4294967296.0

    ordered = sorted(ids, key=lambda i: (bucket(i), i))
    want = {i: rank + 1 for rank, i in enumerate(ordered)}
    assert got == want


# ---------------------------------------------------------------------------
# URL canonicalization vs a Python reference
# ---------------------------------------------------------------------------
_url_scheme = st.sampled_from(["http", "HTTP", "https", "HTTPS", "hTTpS"])
_url_host = st.text(alphabet="abXY.-", min_size=1, max_size=8)
_url_port = st.sampled_from(["", ":80", ":443", ":8080"])
_url_path = st.lists(
    st.text(alphabet="abXY_", min_size=0, max_size=4), min_size=0, max_size=3
)
_url_param = st.one_of(
    st.tuples(st.sampled_from(["a", "b", "Z", "utm_x", "fbclid", "gclid"]),
              # None = bare value-less key ('?fbclid') — ADVICE r10:
              # must strip the same as the k=v form
              st.one_of(st.none(), st.text(alphabet="19x", min_size=0, max_size=3))),
)
_url_params = st.lists(_url_param, min_size=0, max_size=4)
_url_frag = st.sampled_from(["", "#f", "#a/b?c"])


def _canon_reference(url: str) -> str:
    """Python reference of the six canonicalization rules (the oracle of
    the oracle — urlnorm.canonical_url_sql must agree on ANY input)."""
    import re

    u = re.sub(r"#.*$", "", url)
    base, _, query = u.partition("?")
    m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)", base)
    auth = m.group(1) if m else ""
    auth_c = re.sub(r":(80|443)$", "", auth.lower())
    path_c = re.sub(r"/+$", "", base[len(auth):])
    keep = [
        p
        for p in query.split("&")
        if p != ""
        and not p.startswith("utm_")
        and not (p == "fbclid" or p.startswith("fbclid="))
        and not (p == "gclid" or p.startswith("gclid="))
        and not (p == "msclkid" or p.startswith("msclkid="))
    ]
    ps = "&".join(sorted(keep))
    return auth_c + path_c + (("?" + ps) if ps else "")


@settings(**SPARK_SETTINGS)
@given(
    parts=st.lists(
        st.tuples(_url_scheme, _url_host, _url_port, _url_path, _url_params, _url_frag),
        min_size=1,
        max_size=12,
    ),
    junk=st.lists(st.text(alphabet="ab:/?&=#._", max_size=12), max_size=4),
)
def test_url_canonicalization_matches_reference(spark, parts, junk):
    from pyspark.sql import functions as F

    from hedera_etl_spark.operators.urlnorm import canonical_url_sql

    urls = [
        f"{s}://{h}{port}/{'/'.join(path)}"
        + (
            "?" + "&".join(k if v is None else f"{k}={v}" for k, v in params)
            if params
            else ""
        )
        + frag
        for s, h, port, path, params, frag in parts
    ] + [j for j in junk if j]  # arbitrary junk: no crash, still agrees
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], ["i", "url"])
    got = {
        r["i"]: r["c"]
        for r in df.select("i", F.expr(canonical_url_sql("url")).alias("c")).collect()
    }
    want = {i: _canon_reference(u) for i, u in enumerate(urls)}
    assert got == want


# ---------------------------------------------------------------------------
# DSIR weights == the independent python reference on arbitrary text
# (unicode, empty strings, repeated tokens — the tokenize/hash/ln-canon
# edge cases the fixed registry fixture never exercises)
# ---------------------------------------------------------------------------
dsir_texts = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",), blacklist_characters="\x00\x1f"
    ),
    max_size=24,
)


@settings(**SPARK_SETTINGS)
@given(
    texts=st.lists(dsir_texts, min_size=2, max_size=8),
    n_target=st.integers(min_value=1, max_value=3),
)
def test_dsir_scores_match_python_reference_fuzz(spark, texts, n_target):
    import hashlib
    import math

    from hedera_etl_spark.operators.dsir import (
        dsir_log_ratio_table,
        dsir_scores,
    )

    B = 32
    rows = list(enumerate(texts))
    raw = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(rows[:n_target], "doc_id long, text string")

    def feats(t):
        toks = t.split(" ")
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(f):
        dig = hashlib.md5(f"t\x1f{f}".encode()).hexdigest()
        return int(dig[:8], 16) % B

    tc, rc = {}, {}
    for _, t in rows[:n_target]:
        for f_ in feats(t):
            tc[bucket(f_)] = tc.get(bucket(f_), 0) + 1
    for _, t in rows:
        for f_ in feats(t):
            rc[bucket(f_)] = rc.get(bucket(f_), 0) + 1
    nt, nr = sum(tc.values()), sum(rc.values())

    def lr(b):
        lt = round(math.log((tc.get(b, 0) + 1.0) / (nt + B)), 6)
        lraw = round(math.log((rc.get(b, 0) + 1.0) / (nr + B)), 6)
        return round(lt - lraw, 6)

    want = {
        i: (len(feats(t)), round(sum(lr(bucket(f_)) for f_ in feats(t)), 6))
        for i, t in rows
    }
    tbl = dsir_log_ratio_table(target, raw, n_buckets=B, salt="t")
    got = {
        r["doc_id"]: (r["n_features"], round(r["dsir_logw"], 6))
        for r in dsir_scores(raw, tbl, n_buckets=B, salt="t").collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# ExactSubstr: window-coverage == any-length repeat coverage, ANY corpus
# ---------------------------------------------------------------------------
# a 3-symbol alphabet forces repeats at every length scale
_xs_doc = st.lists(
    st.sampled_from(["aa", "bb", "cc"]), min_size=1, max_size=24
).map(" ".join)


@settings(**SPARK_SETTINGS)
@given(texts=st.lists(_xs_doc, min_size=1, max_size=5), L=st.integers(2, 4))
def test_repeated_intervals_match_bruteforce_any_corpus(spark, texts, L):
    """The coverage-equivalence theorem holds for ARBITRARY corpora, not
    just the planted fixture: repeated_intervals' covered positions
    equal the brute-force any-length >= L repeat coverage."""
    from collections import Counter

    from hedera_etl_spark.operators.spandedup import repeated_intervals

    docs = {i + 1: t for i, t in enumerate(texts)}
    counts: Counter = Counter()
    toks = {d: t.split(" ") for d, t in docs.items()}
    for t in toks.values():
        for ln in range(L, len(t) + 1):
            for s in range(0, len(t) - ln + 1):
                counts[tuple(t[s:s + ln])] += 1
    want = {}
    for d, t in toks.items():
        pos: set = set()
        for ln in range(L, len(t) + 1):
            for s in range(0, len(t) - ln + 1):
                if counts[tuple(t[s:s + ln])] >= 2:
                    pos.update(range(s + 1, s + ln + 1))
        if pos:
            want[d] = pos
    df = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], "doc_id long, text string"
    )
    got: dict = {}
    for r in repeated_intervals(df, min_len=L).collect():
        got.setdefault(r["doc_id"], set()).update(
            range(r["start"], r["end_pos"] + 1)
        )
    assert got == want
