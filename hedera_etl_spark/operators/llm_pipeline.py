"""The canonical LLM training-data preparation pipeline, as one API.

Composes the engine's stages in the standard order:

    exact dedup -> near-dup collapse (MinHash+LSH pairs -> connected
    components -> min-id keeper) -> benchmark decontamination ->
    quality floor (token count + Gopher repetition signals) ->
    target-mixture resample -> deterministic sample ->
    sequence packing -> shard export

Each stage is the independently-tested operator; this module pins the
composition (output schema of stage N is the input contract of N+1) and
gives pipelines one place to set the knobs.  Every stage is either a
pure DataFrame transformation or a bounded-state distributed operator —
the composition inherits every per-stage scale property documented in
docs/SCALE.md, and nothing here adds driver-side state.

Determinism end to end: every stage is a pure function of document
content/ids (hash buckets, min-id keepers, FFD packing), so a re-run
of this engine reproduces the same shards byte-for-byte (modulo
parquet encoding).  CROSS-ENGINE reproducibility has one carve-out:
the near-dup stage defaults to the production xxhash64 signature
digest, which other engines (and the DuckDB oracle) cannot re-derive —
pass ``minhash_hash_fn="md5"`` when an external audit must replay the
exact near-dup pair set (textdedup._km_base documents the trade; both
modes verify the same pairs wherever LSH recall coincides).  Every
other stage stays on the md5 canon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hedera_etl_spark.operators.components import collapse_components
from hedera_etl_spark.operators.decontam import decontaminate
from hedera_etl_spark.operators.export import export_shards
from hedera_etl_spark.operators.packing import pack_sequences
from hedera_etl_spark.operators.sampling import hash_sample, mixture_sample
from hedera_etl_spark.operators.textanalysis import quality_scores
from hedera_etl_spark.operators.textdedup import exact_duplicates, minhash_lsh_neardups


def prepare_training_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize_form: str | None = None,
    normalize_lowercase: bool = False,
    paragraph_dedup_sep: str | None = None,
    paragraph_min_chars: int = 1,
    near_threshold: float = 0.5,
    near_dup_method: str = "minhash",
    shingle_n: int = 3,
    minhash_k: int = 9,
    minhash_hash_fn: str = "xxhash64",
    lsh_bands: int = 3,
    max_bucket: int | None = 500,
    winnow_k: int = 4,
    winnow_w: int = 5,
    winnow_min_shared: int = 3,
    winnow_max_fp: int | None = 500,
    keeper_score_col: str | None = None,
    span_dedup_n: int | None = None,
    span_keep_first: bool = True,
    exact_substr_min_len: int | None = None,
    embeddings: DataFrame | None = None,
    embedding_index_path: str | None = None,
    embedding_threshold: float = 0.95,
    embedding_n_probe: int = 2,
    embedding_centroids: int = 16,
    embedding_dims: int = 64,
    embedding_max_bucket: int | None = 10_000,
    emb_id_col: str = "vec_id",
    emb_vec_col: str = "embedding",
    eval_docs: DataFrame | None = None,
    decontam_n: int = 13,
    decontam_mode: str = "auto",
    bloom_decontam_fp: float = 0.01,
    bloom_auto_threshold: int = 2_000_000,
    fuzzy_decontam_threshold: float | None = None,
    fuzzy_decontam_n: int = 5,
    min_tokens: int = 5,
    max_dup_line_frac: float | None = None,
    max_top_bigram_frac: float | None = None,
    analysis_form: str = "auto",
    gopher_rules: dict | None = None,
    quality_weights: list[float] | None = None,
    min_quality_prob: float = 0.5,
    text_classifier_weights: "DataFrame | bool | None" = None,
    text_classifier_min_score: float = 0.5,
    text_classifier_buckets: int = 2048,
    text_classifier_scale: int = 1000,
    lm_model: DataFrame | None = None,
    lm_min_avg_logp: float | None = None,
    mixture: dict[str, float] | None = None,
    mixture_temperature: float | None = None,
    cluster_balance_k: int | None = None,
    cluster_balance_alpha: float = 0.5,
    cluster_centroids: list[list[float]] | None = None,
    domain_col: str = "source",
    mixture_weight_col: str | None = None,
    sample_rate: float = 1.0,
    importance_col: str | None = None,
    importance_null_weight: float = 0.0,
    dsir_target: DataFrame | None = None,
    dsir_rate: float = 0.5,
    dsir_n_buckets: int = 8192,
    dsir_hash_fn: str = "xxhash64",
    token_budget: int | None = None,
    salt: str = "",
    stage_observations: dict | None = None,
    cap_observations: dict | None = None,
    removal_ledger=None,
    stage_timings: dict | None = None,
) -> DataFrame:
    """Dedup + decontaminate + filter + resample: returns the surviving
    documents (same schema as ``docs``).

    Stages: optional Unicode canonicalization (``normalize_form``),
    optional paragraph-level dedup when ``paragraph_dedup_sep`` is set
    (duplicated paragraphs keep their corpus-wide first occurrence —
    the boilerplate-banner cut, operators/paradedup.py; runs BEFORE
    document dedup so banner-only differences collapse),
    exact content dedup (min-id keeper), near-dup pairs collapsed
    transitively via connected components (min-id keeper per cluster) —
    detector per ``near_dup_method``: MinHash+LSH set similarity at
    ``near_threshold`` (default) or winnowing fingerprint overlap at
    ``winnow_min_shared`` shared fingerprints (the containment case
    set-Jaccard under-scores); ``keeper_score_col`` switches the
    near-dup cluster keeper from min-id to HIGHEST-score-in-cluster
    (ties → min id; NULL scores last) — exact duplicates keep min-id
    regardless since byte-identical copies have nothing to rank —
    repeated-span removal at
    ``span_dedup_n`` tokens (skipped when None; ``span_keep_first``
    keeps the canonical occurrence), arbitrary-length ExactSubstr
    cutting at ``exact_substr_min_len`` tokens (skipped when None; all
    occurrences go — the Lee et al. 2022 semantics, exact by the
    spandedup.repeated_intervals coverage equivalence; the paragraph,
    span and ExactSubstr flags are count-over-window forms whose
    hot-hash skew ``tools/bench_skew.py`` gates), SEMANTIC
    near-dup collapse when
    ``embeddings`` is given (cosine >= ``embedding_threshold`` against
    the persisted IVF index at ``embedding_index_path`` — built on the
    first call, probed and appended on every later batch, so cross-batch
    semantic dups drop against corpus history; within-batch clusters
    reuse the connected-components keeper), benchmark decontamination
    against ``eval_docs`` (exact ``decontam_n``-gram overlap — skipped
    when None; ``decontam_mode`` picks the engine: ``"exact"``
    broadcasts the reference shingles, ``"bloom"`` takes the fixed-size
    Bloom-table scale path for giant references — IDENTICAL results,
    auto-sized ``m_bits``/``k`` at ``bloom_decontam_fp`` — and the
    default ``"auto"`` switches on an approx reference-shingle count
    vs ``bloom_auto_threshold``; ``fuzzy_decontam_threshold``
    additionally drops near-duplicates of eval items at that
    shingle-Jaccard), quality floor (``min_tokens`` whitespace tokens, plus
    optional Gopher repetition caps ``max_dup_line_frac`` /
    ``max_top_bigram_frac``, computed by the per-row or the
    explode+aggregate repetition form per ``analysis_form`` — 'auto'
    (default) sizes off the input corpus chars against the measured
    crossover, 'per_row'/'scalable' force a form; the twins are
    bit-equal so results never change (r15, VERDICT r14 #7); plus —
    when ``gopher_rules`` is a dict of
    threshold overrides, ``{}`` for the paper's defaults — the FULL
    remaining Gopher battery via
    ``textanalysis.gopher_quality_flags``), optional trained-classifier floor
    (``quality_weights`` from qualityfilter.train_quality_lr /
    load_weights at ``min_quality_prob``), optional hashed-text-feature
    classifier floor (``text_classifier_weights`` — a trained
    (bucket, w_int) DataFrame or ``True`` for the qualityclf stand-in —
    keeping docs with score >= ``text_classifier_min_score``; the
    fastText serving pass, r15), LM-perplexity floor at
    ``lm_min_avg_logp`` (against ``lm_model`` — a reference-corpus
    bigram LM per CCNet — or self-trained on the survivors when None;
    skipped when the threshold is None), target-``mixture`` resample over
    ``domain_col`` (skipped when None; ``mixture_weight_col`` makes the
    target weights hold by that column's mass — token counts — instead
    of document counts), DSIR-style importance resample
    when ``importance_col`` names a per-row keep-probability column
    (``weighted_hash_sample``; NULL scores follow
    ``importance_null_weight`` — drop by default), SELF-CONTAINED DSIR
    selection when ``dsir_target`` is given (operators/dsir.py: hashed
    n-gram NB log-ratio weights of every survivor against the target
    corpus, water-filled into keep probabilities with ``dsir_rate``
    expected keep fraction, accepted through the deterministic md5
    sampler — the one-call "make it look like this corpus" knob;
    ``importance_col`` remains the bring-your-own-scores variant),
    deterministic md5
    Bernoulli sample at ``sample_rate`` (salt-decorrelated from other
    splits), and finally — when ``token_budget`` is set — the greedy
    compute-bound cut: keep the highest-``quality_score`` documents
    whose running token total stays within the budget
    (``selection.select_to_token_budget``, a range-partitioned
    distributed prefix sum).
    Set ``near_threshold=None`` to skip the near-dup stage (exact-only),
    ``sample_rate=1.0`` to keep everything.

    ``cap_observations``: pass a dict to make every skew cap in the run
    LOUD (VERDICT r7 "no silent caps") — the LSH bucket cap
    (``"lsh_bucket_cap"``), the semantic primary-bucket cap
    (``"ivf_primary_cap"``) and history hot-bucket cap
    (``"ivf_history_cap"``), plus ``"semantic_lost"``: within-batch
    semantic-cluster members whose min-id keeper was later removed by a
    downstream floor (decontam/quality/LM/sampling), so neither keeper
    nor member reached the corpus — a real recall loss (ADVICE r7).
    Members are NOT auto-re-admitted: a keeper usually dies because its
    CONTENT failed a floor, and a semantic near-twin almost certainly
    fails it too — re-admission would launder contaminated or
    low-quality text past the floors.  Read with
    stats.cap_counts(cap_observations) after the returned frame has
    been acted on.

    ``removal_ledger``: pass a fresh ``provenance.RemovalLedger`` to get
    per-document removal provenance — (doc_id, stage, reason, ref_id)
    for every dropped document, with keeper attribution on the dedup
    stages and eval-item attribution on exact decontamination
    (VERDICT r10 #3; see operators/provenance.py for the cost model —
    each recorded boundary is lazily checkpointed).  Span dedup rewrites
    text without dropping documents, so it never records.  Read
    ``removal_ledger.df()`` after the returned frame has been acted on.

    ``stage_timings``: pass a dict to get per-stage wall-clock seconds
    (VERDICT r11 #6).  Instrumentation eagerly materializes each stage
    boundary, so use it to ATTRIBUTE cost across stages, not as the
    headline pipeline number (the uninstrumented call pipelines across
    stages and is faster).
    """
    if normalize_form is not None:
        from hedera_etl_spark.operators.textnorm import normalize_text

        # canonicalize BEFORE any hashing so composed/decomposed
        # spellings of the same rendered text dedup together.  Lazy
        # localCheckpoint: the normalized frame feeds every downstream
        # stage (exact dedup, minhash, spans, decontam, quality, LM) and
        # Catalyst does not share subtrees across consumers — without
        # the checkpoint the pandas-UDF normalization would re-run over
        # the corpus once PER STAGE (the spandedup/minhash discipline).
        docs = normalize_text(
            docs, form=normalize_form, lowercase=normalize_lowercase,
            text_col=text_col,
        ).localCheckpoint(eager=False)
        if eval_docs is not None:
            # decontamination SYMMETRY (ADVICE r8): exact n-gram and
            # shingle-Jaccard matching need byte-identical tokens, so
            # the eval side must pass through the same canonicalization
            # as the corpus — otherwise any eval item differing only in
            # case/Unicode form/whitespace silently escapes the scrub,
            # the exact contamination class this normalization exists
            # to merge.  Lazy checkpoint: the (small) eval frame feeds
            # both the exact and fuzzy stages, and the normalize call
            # is the pipeline's one pandas UDF.
            eval_docs = normalize_text(
                eval_docs, form=normalize_form,
                lowercase=normalize_lowercase, text_col=text_col,
            ).localCheckpoint(eager=False)

    if fuzzy_decontam_threshold is not None and eval_docs is None:
        raise ValueError(
            "fuzzy_decontam_threshold given without eval_docs — the fuzzy "
            "stage scrubs against the eval set; pass eval_docs"
        )
    if lm_model is not None and lm_min_avg_logp is None:
        raise ValueError(
            "lm_model given without lm_min_avg_logp — the LM stage is "
            "keyed on the threshold; pass the mean-ln-probability floor"
        )

    def _observed(stage: str, df: DataFrame) -> DataFrame:
        # Stage-cost attribution (VERDICT r11 #6): when the caller passes
        # ``stage_timings``, each stage boundary is EAGERLY materialized
        # (localCheckpoint) and its wall-clock recorded under the stage
        # name — since the previous boundary was already materialized,
        # each measurement isolates that stage's own work.  This changes
        # execution (no cross-stage pipelining; Catalyst cannot fuse
        # across the checkpoint), so an instrumented run attributes cost
        # but is NOT the headline number — bench.py times the
        # uninstrumented pipeline separately.
        if stage_timings is not None:
            import time as _time

            t0 = _time.time()
            df = df.localCheckpoint()
            stage_timings[stage] = round(_time.time() - t0, 3)
        # ST7-style per-stage gauges: when the caller passes a dict, each
        # enabled stage's surviving-row count rides an Observation on the
        # caller's OWN action (one scalar aggregate in the plan, zero
        # extra jobs) — read obs.get["rows"] after collecting/writing.
        # RobustObservation, not a bare Observation: when a later stage
        # empties the corpus, AQE empty-relation propagation can
        # eliminate the earlier stages' observed nodes and a bare read
        # would crash (stats.RobustObservation; same ergonomics).
        if stage_observations is None:
            return df
        from hedera_etl_spark.operators.stats import robust_observe

        observed, robust = robust_observe(
            df, f"prepare.{stage}", F.count(F.lit(1)).alias("rows")
        )
        stage_observations[stage] = robust
        return observed

    def _drops(stage: str, reason: str, pre: DataFrame, post: DataFrame) -> DataFrame:
        # Removal provenance (VERDICT r10 #3): when a
        # provenance.RemovalLedger is attached, each recorded stage logs
        # its dropped ids as (pre anti-join post); the boundary frame
        # gains a second consumer, so pin it lazily (checkpoint-vs-
        # rescan: the upstream dedup chain is real work).  Stages with a
        # decision frame record richer rows (keeper / eval attribution)
        # inline instead of calling this.
        if removal_ledger is None:
            return post
        post = post.localCheckpoint(eager=False)
        removal_ledger.record(
            stage,
            reason,
            pre.select(F.col(id_col)).join(
                post.select(F.col(id_col)), id_col, "left_anti"
            ),
            id_col=id_col,
        )
        return post

    if paragraph_dedup_sep is not None:
        from hedera_etl_spark.operators.paradedup import paragraph_dedup

        # BEFORE document-level dedup: cutting shared boilerplate
        # paragraphs first lets documents that differ only in navigation
        # / banners collapse as exact duplicates downstream.  Lazy
        # checkpoint for the same multi-consumer reason as
        # normalize_text (every later stage re-reads the rebuilt text).
        pre_para = docs
        docs = paragraph_dedup(
            docs, text_col=text_col, id_col=id_col,
            sep=paragraph_dedup_sep, min_chars=paragraph_min_chars,
        ).localCheckpoint(eager=False)
        docs = _observed("paragraph_dedup", docs)
        # only drops emptied docs (all paragraphs were duplicates)
        docs = _drops("paragraph_dedup", "emptied", pre_para, docs)

    keepers = exact_duplicates(docs, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    out = docs.join(keepers, id_col, "left_semi")
    out = _observed("exact_dedup", out)
    if removal_ledger is not None:
        # keeper attribution from the same hash-group the stage keys on
        # (r13: min-over-window instead of aggregate + join-back — one
        # exchange, no join; the repeated_spans class sweep)
        from pyspark.sql import Window

        hashed = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("__h"))
        keeper = F.min(id_col).over(Window.partitionBy("__h"))
        removal_ledger.record(
            "exact_dedup",
            "exact_duplicate",
            hashed.withColumn("__keeper", keeper).filter(
                F.col(id_col) != F.col("__keeper")
            ),
            id_col=id_col,
            ref_col="__keeper",
        )
        out = out.localCheckpoint(eager=False)

    if near_threshold is not None:
        renamed = out.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
        if near_dup_method == "minhash":
            # production default xxhash64: the signature digest is the
            # operator's dominant CPU cost and nothing downstream sees
            # hash values; md5 remains available for cross-engine
            # reproducibility of the pair set (textdedup._km_base)
            pairs = minhash_lsh_neardups(
                renamed,
                n=shingle_n,
                k=minhash_k,
                bands=lsh_bands,
                threshold=near_threshold,
                max_bucket=max_bucket,
                cap_observations=cap_observations,
                hash_fn=minhash_hash_fn,
                # the components collapse canonicalizes + distincts the
                # pairs: the presentation sort (range exchange + a
                # boundary-sampling pass that re-runs the verify join)
                # buys nothing here (guide §2.4)
                sorted_pairs=False,
            )
        elif near_dup_method == "winnow":
            # winnowing detector: docs sharing >= winnow_min_shared
            # selected fingerprints pair up — catches long verbatim RUNS
            # (the containment case set-Jaccard under-scores: a page
            # embedded in a much larger one) where minhash needs the
            # whole sets to be similar.  near_threshold still gates the
            # stage on/off; the strength knob is winnow_min_shared.
            from hedera_etl_spark.operators.textanalysis import (
                fingerprint_overlap,
                winnow_fingerprints,
            )

            fps = winnow_fingerprints(renamed, k=winnow_k, w=winnow_w)
            pairs = fingerprint_overlap(
                fps, min_shared=winnow_min_shared, max_fp=winnow_max_fp,
                cap_observations=cap_observations,
            ).select("doc_a", "doc_b")
        else:
            raise ValueError(
                f"unknown near_dup_method: {near_dup_method!r} "
                "(expected 'minhash' or 'winnow')"
            )
        if keeper_score_col is not None:
            # FineWeb-style best-in-cluster retention: keep the
            # highest-scored member of each near-dup cluster instead of
            # the min id — variants of one page differ in extraction
            # quality and the best copy is strictly better training text
            # (components.collapse_components_by_score; ties -> min id,
            # NULL scores last, cluster identity unchanged)
            from hedera_etl_spark.operators.components import (
                collapse_components_by_score,
            )

            if keeper_score_col not in out.columns:
                raise ValueError(
                    f"keeper_score_col {keeper_score_col!r} is not a "
                    f"column of the input (have {out.columns})"
                )
            decision = collapse_components_by_score(
                out.select(
                    F.col(id_col).alias("doc_id"),
                    F.col(keeper_score_col).alias("__keeper_score"),
                ),
                pairs,
                score_col="__keeper_score",
            )
        else:
            decision = collapse_components(
                out.select(F.col(id_col).alias("doc_id")), pairs
            )
        if removal_ledger is not None:
            # the decision frame gains a second consumer (the ledger):
            # pin it so connected components run once
            decision = decision.localCheckpoint(eager=False)
        out = out.join(
            decision.filter("keep").select(F.col("doc_id").alias(id_col)),
            id_col,
            "left_semi",
        )
        out = _observed("near_dedup", out)
        if removal_ledger is not None:
            kept_by_comp = decision.filter("keep").select(
                "component", F.col("doc_id").alias("__keeper")
            )
            removal_ledger.record(
                "near_dedup",
                "near_duplicate",
                decision.filter(~F.col("keep"))
                .select("doc_id", "component")
                .join(kept_by_comp, "component"),
                id_col="doc_id",
                ref_col="__keeper",
            )
            out = out.localCheckpoint(eager=False)

    if span_dedup_n is not None:
        from hedera_etl_spark.operators.spandedup import remove_repeated_spans

        out = remove_repeated_spans(
            out, n=span_dedup_n, keep_first=span_keep_first,
            text_col=text_col, id_col=id_col,
        )
        out = _observed("span_dedup", out)

    if exact_substr_min_len is not None:
        # ExactSubstr (Lee et al. 2022, r13): cut every repeated
        # substring of >= min_len tokens at ANY length/alignment — the
        # interval form of the span stage (coverage-equivalence proof
        # at spandedup.repeated_intervals); ALL occurrences go, per the
        # published semantics.  Runs after paragraph/span stages so the
        # min_tokens floor below still drops docs the cut hollowed out.
        from hedera_etl_spark.operators.spandedup import exact_substr_dedup

        out = exact_substr_dedup(
            out, min_len=exact_substr_min_len,
            text_col=text_col, id_col=id_col,
        )
        out = _observed("exact_substr", out)

    if embeddings is not None and (
        embedding_index_path is not None or cluster_balance_k is None
    ):
        # embeddings arm the SEMANTIC-DEDUP stage, which is index-backed;
        # the one carve-out is cluster_balance_k-only use (embeddings
        # feed the clustering stage below, no index involved)
        if embedding_index_path is None:
            raise ValueError(
                "embeddings given without embedding_index_path — the "
                "semantic stage is index-backed (build once, probe per "
                "batch); pass a directory for the persisted IVF index "
                "(or set cluster_balance_k to use the embeddings for "
                "cluster balancing only)"
            )
        from hedera_etl_spark.operators.vectorindex import (
            semantic_dedup_decisions,
        )

        # lazy checkpoint BEFORE fanning out (ADVICE r8): the semantic
        # stage consumes the lexical-pipeline plan from multiple
        # consumers (the probed-bucket driver collect inside
        # semantic_dedup_decisions, the decisions plan itself, and the
        # anti-join below) — un-pinned, exact+near+span dedup would
        # re-run over the corpus 2-3x per call (the spandedup/minhash
        # shared-subtree discipline).
        out = out.localCheckpoint(eager=False)
        # judge only the vectors of documents still alive after the
        # lexical stages, keyed by the document id
        batch_emb = embeddings.join(
            out.select(F.col(id_col).alias(emb_id_col)), emb_id_col, "left_semi"
        )
        decisions = semantic_dedup_decisions(
            docs.sparkSession,
            batch_emb,
            embedding_index_path,
            threshold=embedding_threshold,
            n_probe=embedding_n_probe,
            n_centroids=embedding_centroids,
            dims=embedding_dims,
            id_col=emb_id_col,
            vec_col=emb_vec_col,
            max_bucket=embedding_max_bucket,
            # the pipeline appends its FINAL survivors below — indexing
            # a doc the quality/decontam floors later drop would
            # suppress novel near-twins of text that never reached the
            # corpus
            append=False,
            # component ids feed the lost-cluster accounting at the end
            with_component=True,
            cap_observations=cap_observations,
        # two consumers (the anti-join + the lost-cluster count) and an
        # iterative connected-components subtree: pin it once
        ).localCheckpoint(eager=False)
        # ANTI-join on the drop set: documents WITHOUT an embedding row
        # pass through unjudged (a semi-join on keepers would silently
        # delete them — partial embedding coverage is the normal case)
        out = out.join(
            decisions.filter(~F.col("keep")).select(
                F.col("vec_id").alias(id_col)
            ),
            id_col,
            "left_anti",
        )
        out = _observed("semantic_dedup", out)
        if removal_ledger is not None:
            # within-batch cluster members attribute to their kept
            # keeper; history hits have no keeper in this batch's
            # decisions frame (the match lives in the persisted index)
            sem_dropped = decisions.filter(~F.col("keep"))
            kept_by_comp = decisions.filter(F.col("keep")).select(
                "component", F.col("vec_id").alias("__keeper")
            )
            removal_ledger.record(
                "semantic_dedup",
                "semantic_duplicate",
                # LEFT join (r11 review pass): a member whose keeper was
                # ITSELF a history hit has no keep=True row in its
                # component — an inner join would silently drop that
                # member's ledger row and break the exactly-once
                # partition; its ref stays NULL (the representative
                # lives in the index, not this batch)
                sem_dropped.filter(~F.col("history_hit"))
                .select("vec_id", "component")
                .join(kept_by_comp, "component", "left"),
                id_col="vec_id",
                ref_col="__keeper",
            )
            removal_ledger.record(
                "semantic_dedup",
                "semantic_duplicate_vs_history",
                sem_dropped.filter(F.col("history_hit")).select("vec_id"),
                id_col="vec_id",
            )
            out = out.localCheckpoint(eager=False)

    if eval_docs is not None:
        if decontam_mode not in ("auto", "exact", "bloom"):
            raise ValueError(
                f"decontam_mode must be auto|exact|bloom (got {decontam_mode!r})"
            )
        mode = decontam_mode
        n_ref = None
        pre_decontam = out
        if mode == "auto":
            # one approx pass over the reference shingle dimension picks
            # the engine: an eval SUITE (dimension-sized) broadcasts its
            # shingles directly; a reference CORPUS (blocklist, held-out
            # crawl) beyond the threshold takes the fixed-size Bloom
            # table + map-side probes + verify-slice path (VERDICT r9
            # #4 — the scale path existed but was unreachable from here)
            # cheap upper bound first (r16): a doc of t tokens yields at
            # most t shingles, so sum(tokens) over the reference bounds
            # its distinct-shingle count from above.  When the bound is
            # already under the threshold the decision is PROVABLY the
            # same as the approx-distinct pass (n_ref <= bound <
            # threshold -> exact), and the expensive explode + distinct
            # + HLL job over the reference never runs — one narrow
            # scan-aggregate instead.  Only a bound past the threshold
            # falls through to the precise count (which bloom mode then
            # reuses for its table sizing).
            ub = eval_docs.agg(
                F.sum(
                    F.coalesce(
                        F.size(F.split(F.col(text_col), " ")), F.lit(0)
                    )
                ).alias("ub")
            ).first()["ub"]
            if ub is None or ub <= bloom_auto_threshold:
                mode = "exact"
            else:
                from hedera_etl_spark.operators.decontam import _ref_shingle_dim

                n_ref = (
                    _ref_shingle_dim(eval_docs, decontam_n, text_col)
                    .agg(F.approx_count_distinct("shingle").alias("n"))
                    .first()["n"]
                )
                mode = "bloom" if n_ref > bloom_auto_threshold else "exact"
        if mode == "bloom" and fuzzy_decontam_threshold is not None:
            # the fuzzy stage broadcasts the reference's (shingle,
            # eval_id, size) postings — eval-SUITE-shaped machinery that
            # silently defeats the Bloom path's whole point against a
            # giant reference (r10 review finding): loud, not fatal —
            # the combination is legitimate when bloom was chosen for
            # cost rather than necessity
            import warnings

            warnings.warn(
                "decontam_mode='bloom' with fuzzy_decontam_threshold: the "
                "fuzzy stage still BROADCASTS the full reference shingle "
                "postings — for a reference too large to broadcast, drop "
                "the fuzzy stage or pre-shrink the reference"
            )
        if mode == "bloom":
            from hedera_etl_spark.operators.decontam import bloom_decontaminate

            # m_bits/k auto-size from the reference shingle count at
            # bloom_decontam_fp (saturation guard inside) — identical
            # RESULTS to the exact mode (one-sided errors all verified
            # away, pinned), different cost shape only
            out = bloom_decontaminate(
                out, eval_docs, n=decontam_n, text_col=text_col,
                id_col=id_col, target_fp=bloom_decontam_fp,
                # auto mode already counted the reference — don't count
                # it a second time inside (ADVICE r10)
                n_ref=n_ref,
            )
        else:
            out = decontaminate(
                out, eval_docs, n=decontam_n, text_col=text_col, id_col=id_col
            )
        if fuzzy_decontam_threshold is not None:
            from hedera_etl_spark.operators.decontam import fuzzy_decontaminate

            out = fuzzy_decontaminate(
                out, eval_docs, n=fuzzy_decontam_n,
                threshold=fuzzy_decontam_threshold,
                text_col=text_col, id_col=id_col,
                # eval rows share the corpus id column name
                eval_id_col=id_col,
            )
        out = _observed("decontam", out)
        if removal_ledger is not None:
            out = out.localCheckpoint(eager=False)
            dropped_ids = pre_decontam.select(F.col(id_col)).join(
                out.select(F.col(id_col)), id_col, "left_anti"
            )
            if mode == "exact":
                # eval-item attribution over the DROPPED slice only
                # (postings broadcast is eval-suite-sized here; the
                # bloom path never materializes reference postings and
                # records NULL refs by design)
                from hedera_etl_spark.operators.decontam import (
                    contaminating_eval_ids,
                )

                dropped_docs = pre_decontam.join(
                    dropped_ids, id_col, "left_semi"
                )
                attr = contaminating_eval_ids(
                    dropped_docs, eval_docs, n=decontam_n,
                    text_col=text_col, id_col=id_col, eval_id_col=id_col,
                ).select(
                    F.col("doc_id").alias(id_col),
                    F.col("eval_id").alias("__eval"),
                )
                # fuzzy-only drops have no exact n-gram hit -> NULL ref
                removal_ledger.record(
                    "decontam",
                    "contaminated",
                    dropped_ids.join(attr, id_col, "left"),
                    id_col=id_col,
                    ref_col="__eval",
                )
            else:
                removal_ledger.record(
                    "decontam", "contaminated", dropped_ids, id_col=id_col
                )

    if min_tokens > 0:
        pre_q = out
        q = quality_scores(out, text_col, id_col)
        out = out.join(
            q.filter(F.col("n_tokens") >= min_tokens).select(
                F.col("doc_id").alias(id_col)
            ),
            id_col,
            "left_semi",
        )
        out = _drops("quality_floor", "below_min_tokens", pre_q, out)

    if max_dup_line_frac is not None or max_top_bigram_frac is not None:
        pre_q = out
        # form selection (r15, VERDICT r14 #7): the per-row O(d*n)
        # lambdas fuse with neighboring stages at epoch scale; past
        # REP_SCALABLE_MIN_CHARS corpus chars the explode+aggregate twin
        # is ~3x faster and keeps widening.  'auto' sizes off the
        # PIPELINE INPUT (scan-only aggregate; stages only shrink the
        # corpus, so input chars upper-bound the floor's input — the
        # conservative direction is the scale form) rather than forcing
        # a mid-pipeline recompute of the dedup stages.  Twins are
        # bit-equal (test-pinned), so this is a physical choice only.
        from hedera_etl_spark.operators.textanalysis import (
            repetition_scores_auto,
        )

        rep_form = analysis_form
        if rep_form == "auto":
            from hedera_etl_spark.operators.textanalysis import (
                REP_SCALABLE_MIN_CHARS,
                _corpus_chars,
            )

            rep_form = (
                "scalable"
                if _corpus_chars(docs, text_col) >= REP_SCALABLE_MIN_CHARS
                else "per_row"
            )
        rep = repetition_scores_auto(out, text_col, id_col, form=rep_form)
        keep = F.lit(True)
        if max_dup_line_frac is not None:
            keep = keep & (F.col("dup_line_frac") <= max_dup_line_frac)
        if max_top_bigram_frac is not None:
            keep = keep & (F.col("top_bigram_char_frac") <= max_top_bigram_frac)
        out = out.join(
            rep.filter(keep).select(F.col("doc_id").alias(id_col)),
            id_col,
            "left_semi",
        )
        out = _drops("quality_floor", "repetition_caps", pre_q, out)

    if gopher_rules is not None:
        # the rest of the Gopher battery (textanalysis.
        # gopher_quality_flags): pass a dict of threshold overrides
        # ({} = the paper's defaults); drops every doc whose combined
        # gopher_pass is False
        from hedera_etl_spark.operators.textanalysis import (
            gopher_quality_flags,
        )

        pre_q = out
        flags = gopher_quality_flags(out, text_col, id_col, **gopher_rules)
        out = out.join(
            flags.filter(F.col("gopher_pass")).select(
                F.col("doc_id").alias(id_col)
            ),
            id_col,
            "left_semi",
        )
        out = _drops("quality_floor", "gopher_rules", pre_q, out)

    if quality_weights is not None:
        from hedera_etl_spark.operators.qualityfilter import filter_by_quality

        pre_q = out
        out = filter_by_quality(
            out, quality_weights, min_prob=min_quality_prob,
            text_col=text_col, id_col=id_col,
        )
        out = _drops("quality_floor", "quality_classifier", pre_q, out)

    if text_classifier_weights is not None:
        # the hashed-TEXT-feature sibling of the engineered-feature LR
        # above (operators/qualityclf.py, fastText serving shape):
        # ``True`` uses the deterministic stand-in table, a DataFrame
        # is a trained (bucket, w_int) model.  Both floors may run —
        # they read different evidence (battery features vs the token
        # stream itself).
        from hedera_etl_spark.operators.qualityclf import (
            quality_classifier_scores,
        )

        pre_q = out
        w = None if text_classifier_weights is True else text_classifier_weights
        scored = quality_classifier_scores(
            out, weights=w, n_buckets=text_classifier_buckets,
            scale=text_classifier_scale, text_col=text_col, id_col=id_col,
        )
        out = out.join(
            scored.filter(
                F.col("score") >= F.lit(text_classifier_min_score)
            ).select(F.col("doc_id").alias(id_col)),
            id_col,
            "left_semi",
        )
        out = _drops("quality_floor", "text_classifier", pre_q, out)

    if min_tokens > 0 or max_dup_line_frac is not None \
            or max_top_bigram_frac is not None or quality_weights is not None \
            or text_classifier_weights is not None:
        out = _observed("quality_floor", out)

    if lm_min_avg_logp is not None:
        from hedera_etl_spark.operators.lmscore import bigram_lm, perplexity_filter

        # CCNet shape: score against a reference-corpus LM when given;
        # self-train on the current survivors otherwise (in-domain floor)
        model = lm_model if lm_model is not None else bigram_lm(
            out, text_col=text_col, id_col=id_col
        )
        pre_lm = out
        out = perplexity_filter(
            out, model, lm_min_avg_logp, text_col=text_col, id_col=id_col
        )
        out = _observed("lm_floor", out)
        out = _drops("lm_floor", "lm_perplexity", pre_lm, out)

    # Each sampling stage draws from its OWN derived salt: same-salt md5
    # buckets are IDENTICAL, so same-salted stages would compose as
    # bucket < min(rates) — the lower-rate stage silently subsumes the
    # other — instead of independent thinning (product of rates).  The
    # base ``salt`` still decorrelates this pipeline run from external
    # splits (r9 review finding; sampling.py "keep split salts distinct").
    if cluster_balance_k is not None:
        # embedding-space mixture control (r13): rebalance by CONTENT
        # topic — IVF argmax-dot assignment + the water-filling
        # temperature solver over cluster ids (sampling.
        # cluster_balanced_sample).  Runs after the quality floors like
        # the metadata mixture; documents WITHOUT an embedding row drop
        # (the mixture-no-share semantics, same as a NULL domain).
        # Orthogonal to mixture/mixture_temperature, which reshape by
        # metadata domain — both may run.
        if embeddings is None:
            raise ValueError(
                "cluster_balance_k requires embeddings (vec_id keyed by "
                "the doc id) — the clusters are computed from them"
            )
        from hedera_etl_spark.operators.sampling import (
            cluster_balanced_sample,
        )

        kept = cluster_balanced_sample(
            embeddings,
            n_clusters=cluster_balance_k,
            alpha=cluster_balance_alpha,
            dims=embedding_dims,
            centroids=cluster_centroids,
            id_col=emb_id_col,
            vec_col=emb_vec_col,
            salt=f"{salt}:cbal",
        )
        pre_cbal = out
        out = out.join(
            kept.select(F.col(emb_id_col).alias(id_col)),
            id_col,
            "left_semi",
        )
        out = _observed("cluster_balance", out)
        # ledger invariant ("every dropped doc exactly once",
        # test_provenance.py): the semi-join drops BOTH downsampled docs
        # and docs with no embedding row — record them like the mixture
        # stage (NULL ref; the reason string distinguishes the stage).
        out = _drops("cluster_balance", "cluster_downsample", pre_cbal, out)

    if mixture_temperature is not None:
        if mixture is not None:
            raise ValueError(
                "pass mixture OR mixture_temperature, not both — a "
                "temperature derives the target weights from the corpus's "
                "own domain masses (w_d ∝ c_d^alpha), an explicit dict "
                "overrides them"
            )
        from hedera_etl_spark.operators.sampling import temperature_weights

        # derived AFTER the quality floors (the mixture should reshape
        # what survives, not what was crawled); dimension-sized collect
        mixture = temperature_weights(
            out, domain_col, alpha=mixture_temperature,
            weight_col=mixture_weight_col,
        )
    if mixture is not None:
        # mixture_weight_col names a per-row mass column (token count):
        # the target weights then hold BY TOKENS, the unit training
        # mixtures are actually specified in — a domain of long documents
        # is otherwise over-represented by a doc-count mixture
        pre_mix = out
        out = mixture_sample(
            out, domain_col, mixture, key_cols=[id_col],
            weight_col=mixture_weight_col, salt=f"{salt}#mixture"
        )
        out = _drops("mixture", "mixture_downsample", pre_mix, out)

    if importance_col is not None:
        from hedera_etl_spark.operators.sampling import weighted_hash_sample

        pre_imp = out
        out = weighted_hash_sample(
            out, [id_col], importance_col, salt=f"{salt}#importance",
            null_weight=importance_null_weight,
        )
        out = _observed("importance_sample", out)
        out = _drops("importance_sample", "importance_sample", pre_imp, out)

    if dsir_target is not None:
        # Self-contained DSIR selection (operators/dsir.py): fit the
        # raw model on the SURVIVORS themselves (importance sampling's
        # q is the distribution actually being resampled), the target
        # model on ``dsir_target``, water-fill the log-weights into
        # keep probabilities at ``dsir_rate`` expected mass, and accept
        # through the same deterministic md5 sampler as every other
        # stage.  The survivor frame gains three consumers (fit, score,
        # accept-join), so pin it first (checkpoint-vs-rescan: the
        # whole dedup/floor chain sits above).
        from hedera_etl_spark.operators.dsir import (
            dsir_keep_probs,
            dsir_log_ratio_table,
            dsir_scores,
        )
        from hedera_etl_spark.operators.sampling import weighted_hash_sample

        pre_dsir = out.localCheckpoint(eager=False)
        tbl = dsir_log_ratio_table(
            dsir_target, pre_dsir, text_col, id_col,
            n_buckets=dsir_n_buckets, salt=f"{salt}#dsir",
            hash_fn=dsir_hash_fn,
        )
        sc = dsir_scores(
            pre_dsir, tbl, text_col, id_col,
            n_buckets=dsir_n_buckets, salt=f"{salt}#dsir",
            hash_fn=dsir_hash_fn,
        )
        probs = dsir_keep_probs(sc, dsir_rate, id_col="doc_id").select(
            F.col("doc_id").alias(id_col), F.col("keep_prob")
        )
        out = weighted_hash_sample(
            pre_dsir.join(probs, id_col, "left"),
            [id_col],
            "keep_prob",
            salt=f"{salt}#dsir_accept",
            null_weight=0.0,
        ).drop("keep_prob")
        out = _observed("dsir_sample", out)
        out = _drops("dsir_sample", "dsir_importance", pre_dsir, out)

    if sample_rate < 1.0:
        pre_rate = out
        out = hash_sample(out, [id_col], sample_rate, salt=f"{salt}#sample")
        out = _drops("rate_sample", "rate_sample", pre_rate, out)

    if token_budget is not None:
        from hedera_etl_spark.operators.selection import select_to_token_budget

        # the LAST cut by design: the budget is a budget on what SHIPS,
        # so it runs over the mixture/sample survivors; selection keys
        # on the deterministic quality score + whitespace token count.
        # Pin the pipeline plan first: the scoring branch and the
        # semi-join's left side are two consumers of everything above —
        # un-pinned, the whole dedup/decontam/floor chain would execute
        # twice per action (the spandedup/minhash checkpoint-vs-rescan
        # discipline; r9 review finding)
        out = out.localCheckpoint(eager=False)
        scored = quality_scores(out, text_col, id_col).select(
            "doc_id", "quality_score", "n_tokens"
        )
        selected = select_to_token_budget(scored, token_budget)
        pre_budget = out
        out = out.join(
            selected.select(F.col("doc_id").alias(id_col)), id_col, "left_semi"
        )
        out = _observed("token_budget", out)
        out = _drops("token_budget", "over_budget", pre_budget, out)
    out = _observed("final", out)

    if embeddings is not None and embedding_index_path is not None:
        # commit the FINAL survivors' vectors to the index (write-once
        # per content-derived batch id — retries re-commit nothing);
        # skipped in the cluster_balance_k-only use, where no index
        # exists.  The eager checkpoint pins `out` so the append and
        # the caller share ONE evaluation of the full pipeline instead
        # of two.
        from hedera_etl_spark.operators.vectorindex import IVFIndex

        out = out.localCheckpoint(eager=True)
        if cap_observations is not None:
            # within-batch cluster LOSS accounting (ADVICE r8): members
            # dropped in favor of a min-id keeper that a LATER stage
            # (decontam/quality/LM/mixture/sample) then removed — the
            # cluster's content reached neither the corpus nor the
            # index.  Excludes history-dropped clusters (their keeper
            # already lives in the corpus: decisions.keep is False for
            # a history-hit keeper, True for one that survived the
            # semantic stage).  Coverage here is TRANSITIVE by design —
            # a member whose chain (member ~ keeper ~ history vector)
            # ends in the corpus counts as represented even when the
            # member itself is past threshold from the terminus, because
            # the within-batch collapse is itself a transitive closure
            # (connected components): counting 2-hop chains as lost
            # while accepting n-hop chains inside a batch would make the
            # metric stricter than the dedup it measures.  A member is
            # LOST only when its chain terminates on a keeper that no
            # later stage let through anywhere.  One bounded count over
            # the pinned decisions/survivor frames; see the docstring
            # for why lost members are counted, not re-admitted.
            live_keepers = decisions.filter(F.col("keep")).select("component")
            lost = (
                decisions.filter(
                    (~F.col("keep"))
                    & (F.col("component") != F.col("vec_id"))
                    # a member that ITSELF matched the IVF history is
                    # already represented in the corpus via that match —
                    # cosine is not transitive, so this is possible even
                    # when its keeper missed history (r8 review finding)
                    & (~F.col("history_hit"))
                )
                .join(live_keepers, "component", "left_semi")
                .join(
                    out.select(F.col(id_col).alias("component")),
                    "component",
                    "left_anti",
                )
                .count()
            )
            cap_observations["semantic_lost"] = {"lost_members": int(lost)}
        final_emb = embeddings.join(
            out.select(F.col(id_col).alias(emb_id_col)), emb_id_col, "left_semi"
        )
        IVFIndex(docs.sparkSession, embedding_index_path).add_vectors(
            final_emb, id_col=emb_id_col, vec_col=emb_vec_col
        )
    return out


def prepare_training_shards(
    docs: DataFrame,
    out_dir: str,
    max_tokens: int,
    n_shards: int,
    pack_groups: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_order_salt: str | None = None,
    shard_size: int | None = None,
    **corpus_kwargs,
) -> DataFrame:
    """Full pipeline through packing + shard export; returns the shard
    manifest.  ``corpus_kwargs`` forward to
    :func:`prepare_training_corpus`.  The exported rows carry the input
    columns plus (n_tokens, bin_id) so a trainer can reassemble packed
    contexts by bin.

    Two export layouts: the default hash-mod shards (``n_shards``
    directories, size ~n/k, membership stable under corpus growth —
    the re-export-friendly layout), or — when ``shard_order_salt`` is
    set — the training-order layout (``ordershuffle``): a seeded global
    permutation cut into FIXED-size shards of ``shard_size`` rows, one
    file per shard in epoch order (``n_shards`` is ignored; a new salt
    is a fresh epoch shuffle)."""
    corpus = prepare_training_corpus(
        docs, id_col=id_col, text_col=text_col, **corpus_kwargs
    )
    packed = pack_sequences(
        corpus, max_tokens, n_groups=pack_groups, id_col=id_col, text_col=text_col
    )
    enriched = corpus.join(
        packed.select(
            F.col("doc_id").alias(id_col), "n_tokens", "bin_id"
        ),
        id_col,
    )
    if shard_order_salt is not None:
        if not shard_size:
            raise ValueError("shard_order_salt requires shard_size")
        from hedera_etl_spark.operators.ordershuffle import export_ordered_shards

        return export_ordered_shards(
            enriched, out_dir, shard_size, [id_col],
            salt=shard_order_salt, token_count_col="n_tokens",
        )
    return export_shards(
        enriched, out_dir, n_shards, key_col=id_col, token_count_col="n_tokens"
    )
