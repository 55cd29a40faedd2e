"""Text-dedup operators on hand-checkable corpora: known duplicates in,
known pairs out."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, text_a),
        (2, text_a),                                   # exact clone of 1
        (3, text_a + " tail"),                         # near-dup of 1
        (4, "completely different words in this one here now"),
        (5, "short"),                                  # < 3 tokens: no shingles
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(spark, docs):
    from hedera_etl_spark.operators.textdedup import exact_duplicates

    groups = {r["keep_id"]: r["n_copies"] for r in exact_duplicates(docs).collect()}
    assert groups[1] == 2          # docs 1+2 collapse, min id kept
    assert groups[3] == 1 and groups[4] == 1 and groups[5] == 1


def test_minhash_finds_clone_and_neardup(spark, docs):
    from hedera_etl_spark.operators.textdedup import minhash_lsh_neardups

    pairs = {
        (r["doc_a"], r["doc_b"]): float(r["jaccard"])
        for r in minhash_lsh_neardups(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0    # identical shingle sets
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_hash_modes_agree_on_pair_set(spark):
    """VERDICT r8 #2: the production xxhash64 signature mode and the
    md5 oracle-canon mode must verify the SAME near-dup pair set on a
    seeded corpus (everything downstream of the digest is hash-value-
    free; only LSH recall could differ, and on planted high-Jaccard
    pairs both catch everything)."""
    from hedera_etl_spark.operators.textdedup import minhash_lsh_neardups

    base = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.substring(F.md5(F.concat(F.col("id"), F.lit(f"w{i}"))), 1, 6)
                for i in range(24)
            ],
        ).alias("text"),
    )
    # plant a near-dup of every 5th doc: same 24 tokens plus one extra
    # (jaccard 22/23 — high enough that BOTH modes' deterministic LSH
    # recall is total on this corpus; at lower similarity each mode
    # misses a different pair and the sets legitimately diverge)
    mut = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailtoken")).alias("text"),
    )
    corpus = base.unionByName(mut)

    def pair_set(hash_fn):
        return {
            (r["doc_a"], r["doc_b"], round(float(r["jaccard"]), 9))
            for r in minhash_lsh_neardups(
                corpus, threshold=0.5, hash_fn=hash_fn
            ).collect()
        }

    md5_pairs = pair_set("md5")
    xx_pairs = pair_set("xxhash64")
    assert md5_pairs == xx_pairs
    assert len(md5_pairs) == 12  # every planted mutant pairs with its source


def test_minhash_rejects_unknown_hash_fn(spark, docs):
    from hedera_etl_spark.operators.textdedup import minhash_lsh_neardups

    with pytest.raises(ValueError, match="hash_fn"):
        minhash_lsh_neardups(docs, hash_fn="sha1")


def test_simhash_hamming_zero_for_clones(spark, docs):
    from hedera_etl_spark.operators.textdedup import simhash_neardups

    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_neardups(docs).collect()}
    assert pairs[(1, 2)] == 0
    assert all(h <= 3 for h in pairs.values())


def test_ngram_jaccard_blocking(spark, docs):
    from hedera_etl_spark.operators.textdedup import ngram_jaccard_neardups

    pairs = {
        (r["doc_a"], r["doc_b"]): float(r["jaccard"])
        for r in ngram_jaccard_neardups(docs, threshold=0.8).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs          # ~10/12 shingles shared >= 0.8
    assert not any(4 in p for p in pairs)


def test_short_docs_yield_no_shingles(spark, docs):
    from hedera_etl_spark.operators.textdedup import doc_shingles

    sh = doc_shingles(docs, 3)
    assert sh.filter(F.col("doc_id") == 5).count() == 0


def test_lsh_skew_guard_drops_megabuckets(spark):
    """With max_bucket=1 every bucket is degenerate -> zero candidates;
    with the guard off the clones are found: the guard is really wired."""
    from hedera_etl_spark.operators.textdedup import (
        doc_shingles,
        lsh_candidates,
        minhash_signatures,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame([(i, text) for i in range(4)], ["doc_id", "text"])
    sig = minhash_signatures(doc_shingles(docs, 3), 9)
    assert lsh_candidates(sig, 3, 3, max_bucket=1).count() == 0
    assert lsh_candidates(sig, 3, 3, max_bucket=None).count() == 6  # C(4,2)


def test_simhash_band_args_validated(spark, docs):
    from hedera_etl_spark.operators.textdedup import simhash_neardups

    with pytest.raises(ValueError):
        simhash_neardups(docs, n_bands=3, max_hamming=3)  # lossy blocking
    with pytest.raises(ValueError):
        simhash_neardups(docs, n_bands=6, max_hamming=3)  # 6 doesn't divide 64


def test_verify_jaccard_set_and_exploded_forms_agree(spark):
    """verify_jaccard (shingle-join form) and verify_jaccard_sets
    (array_intersect form) are the same function — pinned so the fast
    path can never drift from the oracle-mirrored join semantics."""
    from pyspark.sql import functions as F

    from hedera_etl_spark.operators.textdedup import (
        shingle_sets,
        verify_jaccard,
        verify_jaccard_sets,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "a b c d e f zzz"),
            (3, "totally different words here now"),
            (4, "a b c d e f g"),
        ],
        ["doc_id", "text"],
    )
    sets = shingle_sets(docs, 3)
    sh = sets.select("doc_id", F.explode("sh_set").alias("shingle"))
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], ["doc_a", "doc_b"]
    )
    a = {tuple(r) for r in verify_jaccard(sh, pairs).collect()}
    b = {tuple(r) for r in verify_jaccard_sets(sets, pairs).collect()}
    assert a == b
    # sanity: the identical pair is jaccard 1.0, the disjoint pair 0 rows
    # (no shared shingle -> no intersection row in the join form), so the
    # set form must also emit inter=0 rows only when the join form does
    by_pair = {(r[0], r[1]): r[5] for r in a}
    assert by_pair[(1, 4)] == 1.0


def test_chunk_documents_windows_and_overlap(spark):
    from hedera_etl_spark.operators.textanalysis import chunk_documents

    text = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame([(1, text), (2, "a b")], ["doc_id", "text"])
    out = chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r
    # doc 1: 10 tokens, step 3 -> windows at 0,3,6 (the window at 6 spans
    # t6..t9, covering the tail) -> 3 chunks, every token present
    assert sorted(by_doc[1]) == [0, 1, 2]
    assert by_doc[1][0]["chunk_text"] == "t0 t1 t2 t3"
    assert by_doc[1][1]["chunk_text"] == "t3 t4 t5 t6"  # 1-token overlap
    assert by_doc[1][2]["chunk_text"] == "t6 t7 t8 t9"
    covered = {t for c in by_doc[1].values() for t in c["chunk_text"].split()}
    assert covered == {f"t{i}" for i in range(10)}
    # short doc: one chunk, itself
    assert by_doc[2][0]["chunk_text"] == "a b" and by_doc[2][0]["n_tokens"] == 2
    # no shuffle: pure per-row fan-out
    df = chunk_documents(docs, chunk_tokens=4, overlap=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_scrub_text_redacts_and_counts(spark):
    from hedera_etl_spark.operators.textanalysis import scrub_text

    docs = spark.createDataFrame(
        [
            (1, "mail me at a.b@example.com or call +1 (555) 123-4567 ok"),
            (2, "card 1234567890123456 plain text"),
            (3, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in scrub_text(docs).collect()}
    assert "<EMAIL>" in rows[1]["scrubbed_text"] and "@" not in rows[1]["scrubbed_text"]
    assert "<PHONE>" in rows[1]["scrubbed_text"]
    assert rows[1]["n_email"] == 1 and rows[1]["n_phone"] >= 1
    assert "<NUM>" in rows[2]["scrubbed_text"] or "<PHONE>" in rows[2]["scrubbed_text"]
    assert rows[3]["scrubbed_text"] == "nothing sensitive here"
    assert rows[3]["n_email"] == rows[3]["n_phone"] == rows[3]["n_long_number"] == 0


def test_chunk_documents_drops_null_text(spark):
    from hedera_etl_spark.operators.textanalysis import chunk_documents

    docs = spark.createDataFrame([(1, "a b"), (2, None)], "doc_id LONG, text STRING")
    out = chunk_documents(docs, chunk_tokens=4, overlap=0).collect()
    assert {r["doc_id"] for r in out} == {1}
    assert all(r["chunk_text"] is not None for r in out)


def test_scrub_counts_agree_with_replacements(spark):
    """A span matching two classes is counted once, for the class that
    actually replaced it."""
    from hedera_etl_spark.operators.textanalysis import scrub_text

    docs = spark.createDataFrame(
        [(1, "card 1234567890123456 end")], ["doc_id", "text"]
    )
    r = scrub_text(docs).collect()[0]
    total_tags = r["scrubbed_text"].count("<")
    assert r["n_phone"] + r["n_long_number"] + r["n_email"] == total_tags == 1


def test_ngram_prefix_filter_recall_matches_all_pairs(spark):
    """The prefix filter (rarest-first blocking keys + length filter) must
    find EXACTLY the pairs a brute-force all-pairs exact Jaccard finds at
    the same threshold — the SSJoin/PPJoin completeness guarantee the
    operator docstring claims, pinned on a corpus with clone clusters,
    perturbed near-dups, boilerplate overlap, and unrelated text."""
    from hedera_etl_spark.operators.textdedup import (
        ngram_jaccard_neardups,
        shingle_sets,
        verify_jaccard_sets,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    doc_id = 0
    for cluster in range(6):
        base = " ".join(words[(cluster + i) % len(words)] for i in range(12))
        for member in range(cluster % 3 + 1):
            # member 0 is the original; others perturb the tail
            text = base if member == 0 else base + f" tail{member}"
            rows.append((doc_id, text))
            doc_id += 1
    rows.append((doc_id, "totally unrelated words appear in this document only")); doc_id += 1
    rows.append((doc_id, "short")); doc_id += 1
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    t = 0.8
    blocked = {
        (r["doc_a"], r["doc_b"]): float(r["jaccard"])
        for r in ngram_jaccard_neardups(docs, threshold=t).collect()
    }

    sets = shingle_sets(docs, 3)
    all_pairs = (
        sets.select(F.col("doc_id").alias("doc_a"))
        .crossJoin(sets.select(F.col("doc_id").alias("doc_b")))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    brute = {
        (r["doc_a"], r["doc_b"]): float(r["jaccard"])
        for r in verify_jaccard_sets(sets, all_pairs)
        .filter(F.col("jaccard") >= t)
        .collect()
    }
    assert blocked == brute
    assert brute  # the corpus must actually contain qualifying pairs


def test_similarity_histogram_bins_and_totals(spark):
    """The threshold-sweep report: per-bin counts partition the pair set
    at the floor, bin edges are DECIMAL-exact (a pair at exactly 0.7
    lands in bin 7), and the report is recall-complete above the floor
    (sum of bins >= t equals the thresholded pair count)."""
    from hedera_etl_spark.operators.textdedup import (
        ngram_jaccard_neardups,
        similarity_histogram,
    )

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # jaccard 1.0 with 1
            (3, base + " kilo"),  # high-sim with 1/2
            (4, "alpha bravo charlie delta echo xray yankee zulu"),  # mid
            (5, "totally different words everywhere nothing shared here"),
        ],
        ["doc_id", "text"],
    )
    hist = similarity_histogram(docs, n=3, max_df=20, floor=0.5)
    rows = {r["bin"]: r["n_pairs"] for r in hist.collect()}
    pairs = ngram_jaccard_neardups(docs, n=3, max_df=20, threshold=0.5)
    assert sum(rows.values()) == pairs.count()
    # identical docs: jaccard 1.0 -> bin 10 (its own top bin)
    assert rows.get(10, 0) >= 1
    # recall-complete above any t >= floor: bins >= 8 cover threshold 0.8
    n_08 = ngram_jaccard_neardups(docs, n=3, max_df=20, threshold=0.8).count()
    assert sum(v for b, v in rows.items() if b >= 8) == n_08
    # sim_lo is the exact bin lower edge
    assert all(
        abs(r["sim_lo"] - r["bin"] / 10.0) < 1e-12 for r in hist.collect()
    )


def test_containment_catches_what_jaccard_misses(spark):
    """Containment semantics: a short doc embedded verbatim in a longer
    one has containment 1.0 but jaccard ~|A|/|B| — found at c=0.9 while
    jaccard-0.8 dedup misses it; unrelated docs stay unpaired; the
    blocking (smaller-member prefix, no length filter) is complete vs
    brute force on the fixture."""
    from hedera_etl_spark.operators.textdedup import (
        containment_neardups,
        ngram_jaccard_neardups,
        shingle_sets,
    )

    short = "alpha bravo charlie delta echo foxtrot golf hotel"
    wrapper = (
        "intro words before the quote begins now " + short +
        " and after the quote a long tail of commentary follows with "
        "many additional unrelated tokens extending the document length"
    )
    docs = spark.createDataFrame(
        [
            (1, short),
            (2, wrapper),
            (3, "completely unrelated text about spark shuffles and plans"),
        ],
        ["doc_id", "text"],
    )
    pairs = containment_neardups(docs, n=3, max_df=20, threshold=0.9)
    got = [(r["doc_a"], r["doc_b"], r["containment"]) for r in pairs.collect()]
    assert [(a, b) for a, b, _ in got] == [(1, 2)]
    assert got[0][2] == 1.0  # every shingle of 1 is inside 2
    # jaccard at 0.8 misses it (the whole point)
    assert ngram_jaccard_neardups(docs, n=3, max_df=20, threshold=0.8).count() == 0

    # brute-force completeness on the fixture: every pair with true
    # containment >= 0.9 is found
    import itertools

    sets = {
        r["doc_id"]: set(r["sh_set"])
        for r in shingle_sets(docs, 3).collect()
    }
    brute = []
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if min(len(sets[a]), len(sets[b])) and inter / min(
            len(sets[a]), len(sets[b])
        ) >= 0.9:
            brute.append((a, b))
    assert [(a, b) for a, b, _ in got] == brute


class TestEntropyAndCompression:
    """r12 quality signals: token entropy (both plan forms) and zlib
    compression ratio."""

    def test_token_entropy_matches_python_and_forms_agree(self, spark):
        import math

        from hedera_etl_spark.operators.textanalysis import token_entropy

        rows = [
            (0, "a a a a"),                  # degenerate: H = 0
            (1, "a b c d"),                  # uniform: H = ln(4)
            (2, "a a b b b c"),              # mixed
            (3, "x"),                        # single token
            (4, "w1 w2 w1 w3 w2 w1 w1"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        fast = {r["doc_id"]: r for r in token_entropy(docs).collect()}
        scal = {r["doc_id"]: r for r in token_entropy(docs, scalable=True).collect()}
        for i, text in rows:
            toks = text.split(" ")
            n = len(toks)
            counts = [toks.count(t) for t in dict.fromkeys(toks)]
            want = (
                round(math.log(n), 6)
                - sum(c * round(math.log(c), 6) for c in counts) / n
            )
            assert fast[i]["n_tokens"] == n
            assert fast[i]["token_entropy"] == pytest.approx(want, abs=1e-9), i
            # the two plan forms are value-identical
            assert tuple(fast[i]) == tuple(scal[i]), i
        assert fast[0]["token_entropy"] == 0.0
        assert fast[1]["token_entropy"] == pytest.approx(math.log(4), abs=1e-6)
        # low entropy at high n flags the degenerate doc below the varied one
        assert fast[0]["token_entropy"] < fast[4]["token_entropy"]

    def test_compression_ratio_separates_repetition_from_noise(self, spark):
        from hedera_etl_spark.operators.textanalysis import compression_ratio

        import hashlib as _h

        noise = " ".join(
            _h.md5(f"n{i}".encode()).hexdigest() for i in range(40)
        )
        docs = spark.createDataFrame(
            [
                (0, "spam " * 400),          # boilerplate: tiny ratio
                (1, noise),                  # high-entropy: large ratio
                (2, None),                   # NULL text -> NULL metrics
                (3, ""),                     # empty -> undefined ratio
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in compression_ratio(docs).collect()}
        assert got[0]["compression_ratio"] < 0.05
        assert got[1]["compression_ratio"] > 0.5
        assert got[0]["n_bytes"] == 2000
        assert got[2]["n_bytes"] is None and got[2]["compression_ratio"] is None
        assert got[3]["n_bytes"] == 0 and got[3]["compression_ratio"] is None
        # deterministic across partitionings
        again = {
            r["doc_id"]: tuple(r)
            for r in compression_ratio(docs.repartition(5)).collect()
        }
        assert again == {k: tuple(v) for k, v in got.items()}


class TestGopherFlags:
    """Each Gopher rule triggered in isolation: the failing doc fails
    exactly its rule, everything else passes."""

    def test_each_rule_fires_alone(self, spark):
        from hedera_etl_spark.operators.textanalysis import (
            gopher_quality_flags,
        )

        good = "the quick brown fox and that dog have gone with style now"
        docs = spark.createDataFrame(
            [
                (0, good),                                   # passes all
                (1, "the of and"),                           # too few words
                (2, "the be to of and that have with a o u"),  # short words
                (3, good + " ###########"),                  # symbol ratio
                (4, "\n".join(["- " + good] * 10)),          # all bullets
                (5, "\n".join([good + " ..."] * 10)),        # all ellipsis
                (6, good + " " + " ".join(["123"] * 40)),    # numeric words
                (7, "quick brown foxes jump over lazy dogs daily"),  # no stops
            ],
            "doc_id long, text string",
        )
        r = {
            x["doc_id"]: x
            for x in gopher_quality_flags(docs, min_words=5).collect()
        }
        assert r[0]["gopher_pass"]
        assert not r[1]["ok_n_words"] and not r[1]["gopher_pass"]
        assert not r[2]["ok_word_len"] and r[2]["ok_n_words"]
        assert not r[3]["ok_symbols"] and r[3]["ok_word_len"]
        assert not r[4]["ok_bullets"] and r[4]["ok_symbols"]
        assert not r[5]["ok_ellipsis"] and r[5]["ok_bullets"]
        assert not r[6]["ok_alpha"] and r[6]["ok_ellipsis"]
        assert not r[7]["ok_stopwords"] and r[7]["ok_alpha"]
        for i in (1, 2, 3, 4, 5, 6, 7):
            assert not r[i]["gopher_pass"], i

    def test_metrics_exact(self, spark):
        from hedera_etl_spark.operators.textanalysis import (
            gopher_quality_flags,
        )

        r = gopher_quality_flags(
            spark.createDataFrame(
                [(0, "the cat... sat\n- bullet line\nplain …")],
                "doc_id long, text string",
            ),
            min_words=1,
            min_stop_hits=1,
        ).collect()[0]
        # space-split tokens (newlines stay inside tokens): the,
        # cat..., sat\n-, bullet, line\nplain, … -> 6
        assert r["n_words"] == 6
        assert r["stop_hits"] == 1
        assert r["bullet_frac"] == pytest.approx(1 / 3, abs=1e-6)
        # symbols: one '...' + one '…'
        assert r["symbol_ratio"] == pytest.approx(2 / 6, abs=1e-6)


def test_char_fingerprint_scalable_twin_bit_equal(spark):
    """r14 (sf10 ladder decade advisory): the explode+aggregate
    fingerprint twin — the 100 TB path past the measured sf10
    crossover — is bit-equal to the per-row HOF form, including
    duplicate grams, short docs (text shorter than one gram), and
    NULL text."""
    from hedera_etl_spark.operators.textanalysis import (
        char_fingerprints,
        char_fingerprints_scalable,
    )

    docs = spark.createDataFrame(
        [
            (1, "abcdefghij"),
            (2, "aaaaaaaaaa"),          # one distinct gram, many dups
            (3, "abc"),                  # shorter than gram=5
            (4, None),                   # NULL text
            (5, "the quick brown fox jumps over the lazy dog " * 3),
        ],
        "doc_id long, text string",
    )
    a = {
        r["doc_id"]: (r["fingerprint"], r["n_grams"])
        for r in char_fingerprints(docs).collect()
    }
    b = {
        r["doc_id"]: (r["fingerprint"], r["n_grams"])
        for r in char_fingerprints_scalable(docs).collect()
    }
    assert b == a


def test_form_auto_selectors_pick_by_size_and_stay_bit_equal(spark):
    """r15 (VERDICT r14 #7): production callers no longer hand-pick the
    scale form.  form='auto' sizes the corpus (one scan-only char-count
    aggregate) against the measured crossover; explicit forms force;
    all three answers are bit-identical because the twins are."""
    from pyspark.sql import functions as F

    from hedera_etl_spark.operators.textanalysis import (
        char_fingerprints_auto,
        repetition_scores_auto,
    )

    docs = spark.createDataFrame(
        [
            (1, "abcdefghij"),
            (2, "aaaaaaaaaa"),
            (3, "abc"),
            (4, "line one\nline one\nline two"),
            (5, "the quick brown fox jumps over the lazy dog " * 3),
        ],
        "doc_id long, text string",
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for fn in (char_fingerprints_auto, repetition_scores_auto):
        per_row = rows(fn(docs, form="per_row"))
        scalable = rows(fn(docs, form="scalable"))
        assert per_row == scalable
        # auto below the threshold -> per-row plan; above -> scalable.
        # The plans differ (scalable has the explode+aggregate), the
        # values must not.
        small = fn(docs, form="auto", auto_threshold_chars=10**9)
        big = fn(docs, form="auto", auto_threshold_chars=1)
        assert "Generate" not in small._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" in big._jdf.queryExecution().executedPlan().toString()
        assert rows(small) == per_row == rows(big)
        with pytest.raises(ValueError, match="form must be"):
            fn(docs, form="bogus")


@pytest.mark.slow
def test_prepare_analysis_form_is_a_physical_choice_only(spark):
    """e2e: prepare_training_corpus survivors are identical under
    analysis_form='per_row' / 'scalable' / 'auto' — the quality-floor
    repetition caps select the same documents through either kernel."""
    from hedera_etl_spark.operators.llm_pipeline import (
        prepare_training_corpus,
    )

    rows = [
        (1, "s", "unique document with plenty of varied words here ok"),
        (2, "s", "nav\nnav\nnav\nnav\nnav\nnav"),          # dup-line spam
        (3, "s", "spam spam spam spam spam spam spam spam"),  # bigram spam
        (4, "s", "another perfectly reasonable training document text"),
        (5, "s", "short but fine document with enough tokens present"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {}
    for form in ("per_row", "scalable", "auto"):
        got[form] = sorted(
            r["doc_id"]
            for r in prepare_training_corpus(
                docs,
                min_tokens=3,
                max_dup_line_frac=0.5,
                max_top_bigram_frac=0.6,
                analysis_form=form,
            ).collect()
        )
    assert got["per_row"] == got["scalable"] == got["auto"]
    assert 2 not in got["auto"] and 3 not in got["auto"]
    assert {1, 4, 5} <= set(got["auto"])
