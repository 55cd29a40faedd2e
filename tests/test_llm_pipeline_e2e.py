"""End-to-end LLM training-data pipeline over the documents table:

    exact dedup -> near-dup collapse (MinHash+LSH -> connected
    components) -> quality filter -> deterministic sample -> sequence
    packing -> shard export -> integrity verify

Drives the composed product API (operators/llm_pipeline.py) and pins the
cross-stage invariants no per-operator test can: injected clones never
survive, no two surviving documents share content, every survivor is
packed exactly once within budget, every exported shard verifies."""

import pytest
from pyspark.sql import functions as F

from hedera_etl_spark.operators.export import verify_shards
from hedera_etl_spark.operators.llm_pipeline import (
    prepare_training_corpus,
    prepare_training_shards,
)
from hedera_etl_spark.operators.packing import pack_sequences

SF = "/root/testdata/sf0.001"

KNOBS = dict(near_threshold=0.5, min_tokens=5, sample_rate=0.8, salt="e2e")


@pytest.fixture(scope="module")
def corpus(spark):
    """sf0.001 documents plus injected exact clones and near-dup variants."""
    base = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    first_two = base.orderBy("doc_id").limit(2).collect()
    d0, d1 = first_two[0], first_two[1]
    injected = spark.createDataFrame(
        [
            (1_000_001, d0["text"]),  # exact clones of doc 0
            (1_000_002, d0["text"]),
            (1_000_003, d1["text"] + " tailA tailB"),  # near-dups of doc 1
            (1_000_004, d1["text"] + " tailC tailD"),
        ],
        ["doc_id", "text"],
    )
    return base.unionByName(injected)


def test_pipeline_end_to_end(spark, corpus, tmp_path):
    sampled = prepare_training_corpus(corpus, **KNOBS)
    sampled_rows = sampled.collect()
    survivor_ids = {r["doc_id"] for r in sampled_rows}

    # exact clones collapsed to the min-id original
    assert not {1_000_001, 1_000_002} & survivor_ids
    # near-dup variants collapsed: the keeper is the min id (the
    # original), never an injected copy
    assert not {1_000_003, 1_000_004} & survivor_ids
    # no two surviving docs share identical content
    texts = [r["text"] for r in sampled_rows]
    assert len(texts) == len(set(texts))

    # packing totality + capacity over the sampled set
    assignments = pack_sequences(sampled, max_tokens=256, n_groups=8).collect()
    assert sorted(r["doc_id"] for r in assignments) == sorted(survivor_ids)
    fills = {}
    for r in assignments:
        if not r["oversize"]:
            fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + r["n_tokens"]
    assert fills and all(f <= 256 for f in fills.values())

    # full pipeline through shard export, then verify integrity
    out = str(tmp_path / "export")
    manifest = prepare_training_shards(
        corpus, out, max_tokens=256, n_shards=4, pack_groups=8, **KNOBS
    ).collect()
    assert sum(r["n_rows"] for r in manifest) == len(survivor_ids)
    checks = verify_shards(spark, out).collect()
    assert len(checks) == 4 and all(r["ok"] for r in checks)
    back = spark.read.parquet(f"{out}/shards")
    assert back.count() == len(survivor_ids)
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == survivor_ids


@pytest.mark.slow
def test_pipeline_deterministic(spark, corpus):
    a = prepare_training_corpus(corpus, **KNOBS)
    b = prepare_training_corpus(corpus, **KNOBS)
    assert {r["doc_id"] for r in a.collect()} == {r["doc_id"] for r in b.collect()}


def test_exact_only_mode_keeps_near_variants(spark, corpus):
    out = prepare_training_corpus(
        corpus, near_threshold=None, min_tokens=0, sample_rate=1.0
    )
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    # exact clones still collapse; near-dup variants (distinct content) survive
    assert not {1_000_001, 1_000_002} & ids
    assert {1_000_003, 1_000_004} <= ids


def test_cli_prepare_roundtrip(spark, corpus, tmp_path, capsys):
    """`prepare` subcommand end-to-end through argv parsing: exports
    verifiable shards and prints the manifest summary."""
    from hedera_etl_spark import cli

    src = str(tmp_path / "docs")
    corpus.write.parquet(src)
    out = str(tmp_path / "prep")
    rc = cli.main(
        [
            "prepare",
            "--input", src,
            "--out-dir", out,
            "--max-tokens", "256",
            "--n-shards", "4",
            "--sample-rate", "0.8",
            "--salt", "e2e",
        ]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "shards=4" in printed and f"out={out}" in printed
    checks = verify_shards(spark, out).collect()
    assert len(checks) == 4 and all(r["ok"] for r in checks)


@pytest.mark.slow
def test_full_hygiene_stages(spark, corpus):
    """Decontamination + repetition caps + target mixture, composed."""
    # domains: alternate web/code by id parity; eval set = 3 real docs
    domained = corpus.withColumn(
        "source", F.when(F.col("doc_id") % 2 == 0, "web").otherwise("code")
    )
    eval_docs = corpus.filter(F.col("doc_id").isin([5, 6, 7]))
    out = prepare_training_corpus(
        domained,
        near_threshold=0.5,
        min_tokens=5,
        eval_docs=eval_docs,
        decontam_n=5,
        max_top_bigram_frac=0.9,
        mixture={"web": 0.5, "code": 0.5},
        sample_rate=1.0,
        salt="hyg",
    )
    ids = {r["doc_id"] for r in out.collect()}
    # the leaked eval docs are gone
    assert ids.isdisjoint({5, 6, 7})
    # clones/near-dups still collapse
    assert ids.isdisjoint({1_000_001, 1_000_002, 1_000_003, 1_000_004})
    # both domains survive the mixture stage
    doms = {r["source"] for r in out.collect()}
    assert doms == {"web", "code"}
    # reproducible end to end
    again = prepare_training_corpus(
        domained,
        near_threshold=0.5,
        min_tokens=5,
        eval_docs=eval_docs,
        decontam_n=5,
        max_top_bigram_frac=0.9,
        mixture={"web": 0.5, "code": 0.5},
        sample_rate=1.0,
        salt="hyg",
    )
    assert ids == {r["doc_id"] for r in again.collect()}


@pytest.mark.slow
def test_budget_bounded_mixture_shaped_output(spark, corpus):
    """VERDICT r8 #4: the selection/sampling surfaces compose as pipeline
    stages — target mixture -> DSIR importance resample -> token-budget
    cut, end to end, deterministic, with the budget binding last."""
    domained = corpus.withColumn(
        "source", F.when(F.col("doc_id") % 2 == 0, "web").otherwise("code")
    ).withColumn(
        # importance score: NULL for every 7th doc (unscored), else high
        "imp",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.lit(0.9)),
    )
    knobs = dict(
        near_threshold=0.5,
        min_tokens=5,
        mixture={"web": 0.5, "code": 0.5},
        importance_col="imp",
        token_budget=4_000,
        sample_rate=1.0,
        salt="bud",
    )
    out = prepare_training_corpus(domained, **knobs)
    rows = out.collect()
    assert rows, "budgeted pipeline must keep something"
    ids = {r["doc_id"] for r in rows}
    # NULL-importance rows drop by default (explicit null_weight=0)
    assert all(i % 7 != 0 for i in ids)
    # the budget binds: surviving whitespace tokens fit in 4k
    total_tokens = sum(len(r["text"].split()) for r in rows)
    assert 0 < total_tokens <= 4_000
    # without the budget the same pipeline ships more tokens
    unbudgeted = prepare_training_corpus(
        domained, **{**knobs, "token_budget": None}
    )
    more = sum(len(r["text"].split()) for r in unbudgeted.collect())
    assert more > total_tokens
    # reproducible end to end
    assert ids == {
        r["doc_id"] for r in prepare_training_corpus(domained, **knobs).collect()
    }
    # null_weight=1.0 keeps the unscored rows instead
    kept_unscored = prepare_training_corpus(
        domained,
        **{**knobs, "token_budget": None, "importance_null_weight": 1.0},
    )
    assert any(r["doc_id"] % 7 == 0 for r in kept_unscored.collect())


def test_cli_prepare_ordered_shards(spark, corpus, tmp_path, capsys):
    """--shard-order-salt exports fixed-size shards in seeded training
    order through the same verify contract."""
    from hedera_etl_spark.operators.export import verify_shards

    from hedera_etl_spark import cli

    src = str(tmp_path / "docs2")
    corpus.write.parquet(src)
    out = str(tmp_path / "ordprep")
    rc = cli.main(
        [
            "prepare",
            "--input", src,
            "--out-dir", out,
            "--max-tokens", "256",
            "--n-shards", "1",  # ignored by the ordered layout
            "--shard-order-salt", "epoch0",
            "--shard-size", "100",
            "--sample-rate", "1.0",
        ]
    )
    assert rc == 0
    checks = verify_shards(spark, out).collect()
    assert checks and all(r["ok"] for r in checks)
    sizes = [r["n_rows"] for r in checks]
    assert all(s == 100 for s in sizes[:-1]) and 0 < sizes[-1] <= 100
    # training order persisted: within shard 0 the positions are 0..99
    first = spark.read.parquet(f"{out}/shards/shard_id=0")
    assert [r["pos_in_shard"] for r in first.collect()] == list(range(100))


def test_paragraph_dedup_stage_collapses_banner_only_variants(spark):
    """Paragraph dedup runs BEFORE document dedup, so two documents that
    differ only in a shared banner paragraph collapse as exact dups."""
    banner = "SUBSCRIBE now for daily updates and exclusive content here"
    docs = spark.createDataFrame(
        [
            (1, f"{banner}\n\nbody of the first distinct article"),
            (2, f"body of the second distinct article\n\n{banner}"),
            # a banner-only variant: every paragraph already exists
            # elsewhere, in a different order — document dedup alone
            # would NOT collapse it (different byte content)
            (3, f"body of the first distinct article\n\n{banner}"),
            (4, "a completely different article body here"),
        ],
        ["doc_id", "text"],
    )
    out = prepare_training_corpus(
        docs, paragraph_dedup_sep="\n\n", near_threshold=None, min_tokens=1
    )
    rows = {r["doc_id"]: r["text"] for r in out.collect()}
    assert banner in rows[1]  # canonical banner occurrence survives
    assert rows[2] == "body of the second distinct article"  # banner cut
    assert 3 not in rows  # all paragraphs were dups -> doc collapsed
    assert rows[4] == "a completely different article body here"
    # WITHOUT the stage, doc 3 survives (the gap this stage closes)
    plain = prepare_training_corpus(docs, near_threshold=None, min_tokens=1)
    assert 3 in {r["doc_id"] for r in plain.collect()}


def test_cli_diff_roundtrip(spark, corpus, tmp_path, capsys):
    """`diff` subcommand: snapshot audit summary through argv parsing."""
    from hedera_etl_spark import cli

    old_p = str(tmp_path / "old")
    new_p = str(tmp_path / "new")
    corpus.write.parquet(old_p)
    (
        corpus.filter(F.col("doc_id") != 1)  # one removed
        .withColumn(
            "text",
            F.when(F.col("doc_id") == 2, F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text")),  # one changed
        )
        .unionByName(
            spark.createDataFrame([(9_999_999, "brand new doc")], ["doc_id", "text"])
        )  # one added
        .write.parquet(new_p)
    )
    rc = cli.main(["diff", "--old", old_p, "--new", new_p])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "added=1" in printed and "removed=1" in printed
    assert "changed=1" in printed


def test_stage_observations_ride_the_callers_action(spark):
    """ST7 gauges for the batch pipeline: per-stage surviving-row counts
    via Observation — no extra jobs, values land with the caller's own
    collect (r7)."""
    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon tokens here"),
            (2, "alpha beta gamma delta epsilon tokens here"),  # exact dup
            (3, "totally different text with several words too"),
            (4, "tiny"),  # fails min_tokens
        ],
        "doc_id long, text string",
    )
    obs = {}
    out = prepare_training_corpus(
        docs, near_threshold=None, min_tokens=3, stage_observations=obs
    )
    survivors = sorted(r.doc_id for r in out.collect())
    assert survivors == [1, 3]
    assert obs["exact_dedup"].get["rows"] == 3   # dup 2 collapsed
    assert obs["quality_floor"].get["rows"] == 2  # 4 failed the floor
    assert obs["final"].get["rows"] == 2
    # skipped stages leave no entry
    assert set(obs) == {"exact_dedup", "quality_floor", "final"}


def test_stage_observations_survive_empty_collapse(spark):
    """AQE empty-relation propagation can eliminate earlier stages'
    observed nodes once a later stage empties the corpus; the per-stage
    gauges must still read (RobustObservation fallback), reporting the
    true pre-collapse counts."""
    docs = spark.createDataFrame(
        [(1, "one two"), (2, "one two"), (3, "three four")],
        "doc_id long, text string",
    )
    obs: dict = {}
    out = prepare_training_corpus(
        docs, near_threshold=0.5, min_tokens=50, stage_observations=obs
    )
    assert out.count() == 0
    assert obs["exact_dedup"].get["rows"] == 2   # dup collapsed pre-floor
    assert obs["quality_floor"].get["rows"] == 0
    assert obs["final"].get["rows"] == 0


def test_stage_observation_fallback_reads_are_cached(spark):
    """The eliminated-node fallback re-executes its stage subtree ONCE;
    repeat reads return the cached dict without another job."""
    docs = spark.createDataFrame(
        [(1, "one two"), (2, "one two")], "doc_id long, text string"
    )
    obs: dict = {}
    out = prepare_training_corpus(
        docs, near_threshold=None, min_tokens=50, stage_observations=obs
    )
    assert out.count() == 0
    first = obs["exact_dedup"].get
    assert first["rows"] == 1
    assert obs["exact_dedup"]._cached is not None  # fallback ran once
    # repeat reads serve the cache as a COPY: equal values, and a
    # consumer mutating its copy cannot corrupt later reads
    first["rows"] = -99
    assert obs["exact_dedup"].get["rows"] == 1


@pytest.mark.slow
def test_cli_bloom_decontam_mode(spark, corpus, tmp_path, capsys):
    """`prepare --decontam-mode bloom` end-to-end through argv parsing:
    the Bloom scale path is reachable from the CLI (VERDICT r9 #4) and
    scrubs exactly the contaminated docs."""
    from hedera_etl_spark import cli

    src = str(tmp_path / "docs")
    corpus.write.parquet(src)
    eval_src = str(tmp_path / "eval")
    corpus.orderBy("doc_id").limit(3).write.parquet(eval_src)
    outs = {}
    for mode in ("bloom", "exact"):
        out = str(tmp_path / f"prep_{mode}")
        rc = cli.main(
            [
                "prepare",
                "--input", src,
                "--out-dir", out,
                "--max-tokens", "256",
                "--n-shards", "2",
                "--eval-input", eval_src,
                "--decontam-mode", mode,
                "--salt", "e2e",
            ]
        )
        assert rc == 0
        outs[mode] = {
            r["doc_id"]
            for r in spark.read.parquet(f"{out}/shards").select("doc_id").collect()
        }
    assert outs["bloom"] == outs["exact"] and outs["bloom"]


def test_dsir_stage_shapes_output_toward_target(spark):
    """One-call DSIR selection (r12): prepare(dsir_target=...) fits the
    NB log-ratio model on the survivors vs the target corpus, keeps
    ~dsir_rate of the mass, and the kept set leans toward target-like
    documents; stage observations and the removal ledger see the stage."""
    from pyspark.sql import functions as F

    raw = spark.createDataFrame(
        [(i, f"alpha beta gamma w{i % 7} x{i % 5} y{i % 3}") for i in range(150)]
        + [(1000 + i, f"qq{i} rr{i % 11} ss{i % 13} tt{i % 7} uu{i % 5} vv{i % 3}")
           for i in range(150)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(5000 + i, f"alpha beta gamma t{i % 5} u{i % 3}") for i in range(150)],
        "doc_id long, text string",
    )
    obs: dict = {}
    out = prepare_training_corpus(
        raw,
        near_threshold=None,
        min_tokens=2,
        dsir_target=target,
        dsir_rate=0.3,
        dsir_n_buckets=1024,
        salt="dsir-e2e",
        stage_observations=obs,
    )
    rows = out.collect()
    n = len(rows)
    assert 50 <= n <= 130  # ~90 expected of 300
    target_like = sum(1 for r in rows if r["doc_id"] < 1000)
    assert target_like / n > 0.8
    assert "dsir_sample" in obs
    # deterministic: a re-run keeps the identical set
    again = prepare_training_corpus(
        raw, near_threshold=None, min_tokens=2, dsir_target=target,
        dsir_rate=0.3, dsir_n_buckets=1024, salt="dsir-e2e",
    )
    assert {r["doc_id"] for r in rows} == {r["doc_id"] for r in again.collect()}


def test_cli_prepare_dsir_target(spark, tmp_path):
    """--dsir-target-input round trip: the CLI wires the target corpus
    through the one-call DSIR stage and the output leans target-like."""
    from hedera_etl_spark import cli

    raw = spark.createDataFrame(
        [(i, f"alpha beta gamma w{i % 7} x{i % 5} y{i % 3}") for i in range(120)]
        + [(1000 + i, f"qq{i} rr{i % 11} ss{i % 13} tt{i % 7} uu{i % 5} vv{i % 3}")
           for i in range(120)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(5000 + i, f"alpha beta gamma t{i % 5} u{i % 3}") for i in range(120)],
        "doc_id long, text string",
    )
    src, tgt, out = (str(tmp_path / p) for p in ("raw", "tgt", "out"))
    raw.write.parquet(src)
    target.write.parquet(tgt)
    rc = cli.main(
        [
            "prepare",
            "--input", src,
            "--out-dir", out,
            "--max-tokens", "256",
            "--n-shards", "2",
            "--min-tokens", "2",
            "--exact-only",
            "--dsir-target-input", tgt,
            "--dsir-rate", "0.3",
            "--dsir-n-buckets", "1024",
            "--salt", "clidsir",
        ]
    )
    assert rc == 0
    kept = spark.read.parquet(f"{out}/shards")
    ids = [r["doc_id"] for r in kept.select("doc_id").collect()]
    assert 35 <= len(ids) <= 110  # ~72 expected of 240
    target_like = sum(1 for i in ids if i < 1000)
    assert target_like / len(ids) > 0.8


def test_gopher_rules_stage(spark):
    """prepare(gopher_rules=...) drops rule-violating docs and records
    the stage; {} applies the paper's defaults (overridable)."""
    good = "the quick brown fox and that dog have gone with style now"
    docs = spark.createDataFrame(
        [(0, good), (1, good + " #############################"),
         (2, "quick brown foxes jump over lazy dogs daily today fine")],
        "doc_id long, text string",
    )
    obs: dict = {}
    out = prepare_training_corpus(
        docs, near_threshold=None, min_tokens=2,
        gopher_rules=dict(min_words=5),
        stage_observations=obs, salt="gof",
    )
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {0}  # 1 fails symbols, 2 fails stop-words
    assert "quality_floor" in obs


@pytest.mark.slow
def test_cli_prepare_dataset_card(spark, corpus, tmp_path):
    """--dataset-card writes the datasheet next to the shards: totals
    match the manifest, ledger drop report aggregates every removal,
    checksum verdict rides the existing verify."""
    import json
    import os

    from hedera_etl_spark import cli

    src = str(tmp_path / "docs_card")
    corpus.write.parquet(src)
    eval_src = str(tmp_path / "card_eval")
    corpus.orderBy("doc_id").limit(3).write.parquet(eval_src)
    out = str(tmp_path / "cardprep")
    ledger = str(tmp_path / "cardledger")
    rc = cli.main(
        [
            "prepare",
            "--input", src,
            "--out-dir", out,
            "--max-tokens", "256",
            "--n-shards", "4",
            "--removal-ledger-out", ledger,
            "--eval-input", eval_src,
            "--dataset-card",
        ]
    )
    assert rc == 0
    card = json.load(open(os.path.join(out, "dataset_card.json")))
    shipped = spark.read.parquet(os.path.join(out, "shards"))
    assert card["content"]["n_docs"] == shipped.count()
    assert card["shards"]["all_checksums_ok"] is True
    assert card["shards"]["n_rows"] == card["content"]["n_docs"]
    assert card["removals"]["total_dropped"] > 0  # clones + floor drops
    stages = {e["stage"] for e in card["removals"]["by_stage"]}
    assert "exact_dedup" in stages or "near_dedup" in stages
    cols = {c["column"] for c in card["schema"]}
    assert {"doc_id", "text"} <= cols
    # r13 report surfaces: residual similarity over the SHIPPED corpus —
    # the dedup already ran, so every bin at/above its threshold is empty
    sim = card["similarity_histogram"]
    assert sim is not None and sim["floor"] == 0.5
    assert sim["residual_pairs"] == sum(b["n_pairs"] for b in sim["bins"])
    assert all(b["n_pairs"] >= 0 for b in sim["bins"])
    # contamination verification: prepare decontaminated against this
    # exact eval set, so nothing shipped may still hit it at n=13
    cont = card["contamination"]
    assert cont is not None and cont["ngram_n"] == 13
    assert cont["n_docs_flagged"] == 0
    assert cont["n_docs_profiled"] > 0
    # dup-cluster histogram from the ledger's keeper attribution: the
    # injected exact clones form one 3-member cluster (doc 0 + 2 clones)
    clusters = card["dup_clusters"]
    assert clusters is not None
    assert all(c["cluster_size"] >= 2 for c in clusters)
    assert all(
        c["n_docs"] == c["cluster_size"] * c["n_clusters"] for c in clusters
    )
    assert any(c["cluster_size"] == 3 for c in clusters)


def test_prepare_cluster_balance_stage(spark):
    """prepare_training_corpus(cluster_balance_k=...): docs rebalance by
    embedding-space cluster — rare-topic docs all survive, the hot
    topic downsamples, docs without an embedding row drop (the
    mixture-no-share semantics), and embeddings are required."""
    import hashlib

    import pytest as _pytest

    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus
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
    out = prepare_training_corpus(
        docs,
        near_threshold=0.0,
        min_tokens=2,
        cluster_balance_k=k,
        cluster_centroids=cents,
        embedding_dims=dims,
        embeddings=emb,
        # embeddings alone would also arm the semantic-dedup stage,
        # which needs an index path — not under test here
        embedding_index_path=None,
        sample_rate=1.0,
        salt="cbal-e2e",
    )
    ids = {r["doc_id"] for r in out.collect()}
    # rare-topic docs (clusters of 5) all survive; hot topic downsamples
    rare = set(range(50, 60))
    assert rare <= ids
    assert len([i for i in ids if i < 50]) < 50
    # the no-embedding doc dropped
    assert 9_999 not in ids
    # guard: the knob without embeddings is a loud error
    with _pytest.raises(ValueError, match="requires embeddings"):
        prepare_training_corpus(
            docs, near_threshold=0.0, cluster_balance_k=k,
        )


def test_prepare_dedup_skew_safe_is_value_identical(spark):
    """r14 review: the hot-hash escape hatch must be reachable from the
    PRODUCTION path — prepare_training_corpus(dedup_skew_safe=True)
    threads to the paragraph, span, and ExactSubstr stages and ships a
    byte-identical corpus."""
    boiler = "SUBSCRIBE to our newsletter for daily updates and offers"
    rows = [
        (1, f"{boiler}\n\nunique first body alpha beta gamma delta"),
        (2, f"second body epsilon zeta eta theta\n\n{boiler}"),
        (3, "third unique body iota kappa lambda mu nu xi"),
        (4, f"{boiler}\n\n{boiler}\n\nfourth body omicron pi rho sigma"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(
        paragraph_dedup_sep="\n\n",
        span_dedup_n=4,
        exact_substr_min_len=4,
        near_threshold=None,
        min_tokens=0,
        salt="skewsafe-e2e",
    )
    base = {
        r["doc_id"]: r["text"]
        for r in prepare_training_corpus(docs, **kw).collect()
    }
    safe = {
        r["doc_id"]: r["text"]
        for r in prepare_training_corpus(
            docs, dedup_skew_safe=True, **kw
        ).collect()
    }
    assert safe == base
    assert base, "pipeline dropped everything — fixture bug"
