"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All pure built-in expressions (split/regexp/md5/aggregate) — no Python in
the hot path; each operator is a narrow projection + at most one aggregate,
so cost is one scan at any corpus size.

Ratios are single IEEE divisions over exact integers cast to DECIMAL, so the
DuckDB oracle reproduces every value exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hedera_etl_spark.functions import tokens

#: Tiny per-language stopword profiles for the n-gram/stopword heuristic.
#: (Mechanism demo: real pipelines plug fastText/CLD3 via the same shape.)
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "est"),
}

#: Word-ish token pattern for the regex tokenizer (BPE-ish split classes:
#: letter runs, digit runs, single punctuation marks).
WORD_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting: whitespace tokens + regex word-ish tokens + distincts."""
    t = tokens(text_col)
    # int32 builtins (size/length) cast to long so the result schema matches
    # the oracle's BIGINT counts
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(t).cast("long").alias("n_ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(WORD_PATTERN)).cast("long").alias("n_re_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct_tokens"),
        F.length(text_col).cast("long").alias("n_chars"),
    )


def _stopword_hits(text_col: str, words: tuple[str, ...]) -> F.Column:
    """Count of tokens belonging to a stopword set, as a column expression."""
    return F.size(
        F.filter(tokens(text_col), lambda x: x.isin(list(words)))
    )


def language_scores(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-language stopword-ratio scores + argmax prediction.

    Deterministic argmax: ties broken by language code order (sorted), so
    the prediction is a pure function of the text.
    """
    langs = sorted(LANG_PROFILES)
    scored = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(text_col)).cast("long").alias("n_tokens"),
        *[
            _stopword_hits(text_col, LANG_PROFILES[lang]).alias(f"hits_{lang}")
            for lang in langs
        ],
    )
    for lang in langs:
        scored = scored.withColumn(
            f"score_{lang}",
            (F.col(f"hits_{lang}") / F.col("n_tokens"))
            .cast("decimal(9,6)")
            .cast("double"),
        )
    # Earliest-index argmax as a CASE chain: the first language whose score
    # is >= all LATER languages' scores is the argmax (an earlier arm only
    # fails when some later score strictly exceeds it, so a failed arm is
    # never the max).  The identical CASE chain runs in the DuckDB oracle.
    best = None
    for i, lang in enumerate(langs[:-1]):
        cond = F.lit(True)
        for other in langs[i + 1 :]:
            cond = cond & (F.col(f"score_{lang}") >= F.col(f"score_{other}"))
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    scored = scored.withColumn("predicted_lang", best.otherwise(F.lit(langs[-1])))
    return scored.select(
        "doc_id", *[f"score_{lang}" for lang in langs], "predicted_lang"
    )


def quality_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Heuristic quality features: length, type-token ratio, mean token
    length, stopword ratio, and a deterministic combined score.

    ``carry``: extra input columns passed through unchanged (e.g. the
    domain for grouped_topk) — a pass-through projection, NOT a join, so
    composing stays zero-shuffle.

    SQL-text construction (r16, guide §7.3): this sits on the composed
    prepare spine (the min_tokens floor and the token-budget scorer) and
    the Column-chain form cost ~520 py4j round-trips per build; the text
    form yields the identical analyzed plan in a handful of calls."""
    en = LANG_PROFILES["en"]
    in_list = ", ".join(f"'{w}'" for w in en)
    t = f"split(`{text_col}`, ' ')"
    base = docs.selectExpr(
        f"`{id_col}` AS doc_id",
        *[f"`{c}`" for c in carry],
        f"CAST(length(`{text_col}`) AS BIGINT) AS n_chars",
        f"CAST(size({t}) AS BIGINT) AS n_tokens",
        f"CAST(size(array_distinct({t})) AS BIGINT) AS n_distinct",
        f"CAST(size(filter({t}, x -> x IN ({in_list}))) AS BIGINT) AS stop_hits",
    )
    return base.selectExpr(
        "doc_id",
        *[f"`{c}`" for c in carry],
        "n_chars",
        "n_tokens",
        "CAST(CAST(n_distinct / n_tokens AS DECIMAL(9,6)) AS DOUBLE) AS ttr",
        "CAST(CAST((n_chars - (n_tokens - 1)) / n_tokens AS DECIMAL(9,6)) "
        "AS DOUBLE) AS avg_token_len",
        "CAST(CAST(stop_hits / n_tokens AS DECIMAL(9,6)) AS DOUBLE) "
        "AS stopword_ratio",
        # combined score over exact integers: round through DECIMAL for a
        # deterministic value, then DOUBLE so hash canonicalizers never see
        # a trailing-zero decimal string
        "CAST(CAST((n_distinct * 100 + stop_hits * 10) / n_tokens "
        "AS DECIMAL(12,6)) AS DOUBLE) AS quality_score",
    )


def groupwise_minmax_norm(
    docs: DataFrame,
    group_col: str = "lang",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group min-max normalization via applyInPandas (grouped map).

    The normalization itself is expressible with window functions; this
    operator exists to exercise the grouped-map Pandas path — the shape
    used when per-group logic genuinely needs imperative/vectorized code
    (tokenizer training, groupwise outlier models).  The normalized value
    is parts-per-million via integer floor division — no floating point
    anywhere, so any engine reproduces it exactly (FP rounding at decimal
    ties differs between Python's and SQL casts).  Each group must fit one
    executor's memory — the documented applyInPandas contract; groups
    here are languages, bounded and balanced.
    """
    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField(group_col, T.StringType()),
            T.StructField("value", T.LongType()),
            T.StructField("norm_ppm", T.LongType()),
        ]
    )

    def norm_group(pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = int(pdf[value_col].min()), int(pdf[value_col].max())
        span = hi - lo
        vals = pdf[value_col].astype("int64")
        ppm = ((vals - lo) * 1_000_000) // span if span else vals * 0
        return pd.DataFrame(
            {
                "doc_id": pdf[id_col],
                group_col: pdf[group_col],
                "value": vals,
                "norm_ppm": ppm.astype("int64"),
            }
        )

    return (
        docs.select(id_col, group_col, value_col)
        .groupBy(group_col)
        .applyInPandas(norm_group, schema=schema)
    )


def groupwise_minmax_norm_scalable(
    docs: DataFrame,
    group_col: str = "lang",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Scale twin of ``groupwise_minmax_norm`` (property-pinned equal):
    the grouped-map form ships each WHOLE group to one executor — the
    applyInPandas contract, fatal when ``group_col`` is low-cardinality
    over a 100 TB corpus (3 languages = 3 tasks).  Here the per-group
    state is just (min, max): one map-side-combined aggregate (tiny),
    broadcast back, and the normalization is a per-row projection — fully
    parallel at any group cardinality.  Same integer parts-per-million
    math, so the values are bit-identical."""
    stats = (
        docs.groupBy(group_col)
        .agg(F.min(value_col).alias("__lo"), F.max(value_col).alias("__hi"))
    )
    vals = F.col(value_col).cast("long")
    # integer `div` (not `/`: long / long is a DOUBLE divide in Spark, and
    # a float floor can disagree with int64 floor-division at edge values)
    return (
        docs.select(id_col, group_col, value_col)
        .join(F.broadcast(stats), group_col)
        .select(
            F.col(id_col).alias("doc_id"),
            group_col,
            vals.alias("value"),
            ((vals - F.col("__lo")) * F.lit(1_000_000)).alias("__num"),
            (F.col("__hi") - F.col("__lo")).alias("__span"),
        )
        .selectExpr(
            "doc_id",
            group_col,
            "value",
            "CAST(CASE WHEN __span = 0 THEN 0 ELSE __num div __span END AS BIGINT) AS norm_ppm",
        )
    )


def _repetition_base(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Shared projection for the repetition twins: tokenize ONCE into
    ``__t``, then derive the bigram array from the PROJECTED column (a
    second select — see the inlining hazard note in both callers)."""
    t = tokens(text_col)
    lines = F.split(F.col(text_col), "\n")
    toked = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.array_distinct(lines)).cast("long").alias("__dl"),
        t.alias("__t"),
        F.length(text_col).cast("long").alias("__chars"),
    )
    tc = F.col("__t")
    bigrams = F.when(F.size(tc) < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(tc) - 1),
            lambda i: F.concat(
                F.element_at(tc, i), F.lit(" "), F.element_at(tc, i + 1)
            ),
        )
    )
    return toked.withColumn("__bg", bigrams)


def _run_max(s: F.Column) -> F.Column:
    """Max run length of the SORTED array column ``s`` (size >= 2): one
    O(n) fold over indices 2..n — equal values are adjacent after
    array_sort, so the longest run IS the mode count."""
    long1 = F.lit(1).cast("long")
    return F.aggregate(
        F.sequence(F.lit(2), F.size(s)),
        F.struct(long1.alias("run"), long1.alias("best")),
        lambda st, i: F.when(
            F.element_at(s, i) == F.element_at(s, i - 1),
            F.struct(
                (st["run"] + 1).alias("run"),
                F.greatest(st["best"], st["run"] + 1).alias("best"),
            ),
        ).otherwise(F.struct(long1.alias("run"), st["best"].alias("best"))),
        lambda st: st["best"],
    )


def _run_cover_max(s: F.Column) -> F.Column:
    """Max of (run length x element length) over the SORTED array column
    ``s`` (size >= 2) — the top-bigram CHARACTER-COVERAGE maximand, via
    the same run-length fold as ``_run_max``; a run's element is read
    once at the position where the run closes."""
    long1 = F.lit(1).cast("long")
    return F.aggregate(
        F.sequence(F.lit(2), F.size(s)),
        F.struct(long1.alias("run"), F.lit(0).cast("long").alias("best")),
        lambda st, i: F.when(
            F.element_at(s, i) == F.element_at(s, i - 1),
            F.struct((st["run"] + 1).alias("run"), st["best"].alias("best")),
        ).otherwise(
            F.struct(
                long1.alias("run"),
                F.greatest(
                    st["best"],
                    st["run"] * F.length(F.element_at(s, i - 1)).cast("long"),
                ).alias("best"),
            )
        ),
        lambda st: F.greatest(
            st["best"],
            st["run"] * F.length(F.element_at(s, F.size(s))).cast("long"),
        ),
    )


def _mode_maxima_exprs(st: F.Column, sbg: F.Column) -> tuple[F.Column, F.Column]:
    """(top-token count, top-bigram char coverage) from SORTED token /
    bigram array columns — the per-row fold twins of
    ``_repetition_mode_stats``'s explode aggregates, with the same
    NULL/empty rails the explode+left-join shape produces:

    - NULL array (NULL text) -> NULL (doc absent from the explode
      aggregate);
    - single element -> the closed form (run 1);
    - empty bigram array (size < 2 tokens) -> NULL (no k=1 rows for the
      doc), which callers coalesce to 0 exactly as the join form does.
    """
    topt = (
        F.when(F.size(st) >= 2, _run_max(st))
        .when(F.size(st) == 1, F.lit(1).cast("long"))
    )
    topbg = (
        F.when(F.size(sbg) >= 2, _run_cover_max(sbg))
        .when(F.size(sbg) == 1, F.length(F.element_at(sbg, 1)).cast("long"))
    )
    return topt, topbg


def repetition_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals, per document:

    - ``n_lines`` / ``dup_line_frac``: newline-split lines and the
      fraction of them that are repeats of an earlier line (boilerplate
      navigation, log spam);
    - ``top_token_frac``: occurrences of the most frequent token over
      total tokens (keyword stuffing);
    - ``top_bigram_char_frac``: characters covered by the
      highest-coverage word 2-gram (count x bigram length over doc
      chars) — the Rae et al. (Gopher) "fraction of characters in the
      most frequent 2-gram" filter, with coverage (not raw count) as
      the deterministic tie-free maximand.

    All pure per-row array expressions — ZERO shuffle at any corpus
    size.  Mode counts come from an array_sort + run-length fold
    (O(n log n) per row; r15 optimization round — the previous
    distinct x occurrences lambdas were O(d·n) interpreted string
    comparisons, measured 5.7 s at sf0.1 where this form and the
    explode twin run ~0.4 s).  Counts are exact integers either way, so
    the values are bit-identical (pinned against the scalable twin).
    Corpora of pathologically long documents should still chunk first
    (``chunk_documents``) or use ``repetition_scores_scalable``, the
    explode+aggregate twin (linear work spread across the cluster, two
    narrow shuffles) pinned bit-equal in tests.

    Ratios divide exact integers rounded through DECIMAL(9,6) (house
    canonicalization), so the DuckDB oracle reproduces every value.

    IMPORTANT (the shingles() inlining hazard): tokens are PROJECTED
    once and the bigram array is built from the projected column in a
    second select — building it straight off ``split(text)`` inlines the
    split into every ``element_at`` lambda reference, re-tokenizing each
    document ~2n times (measured 10x on this exact operator).  The
    SORTED arrays get the same treatment: each fold reads its array in
    every lambda step, so the sort must live in its own projection.
    """
    base = _repetition_base(docs, text_col, id_col).select(
        "doc_id",
        "n_lines",
        "__dl",
        F.size("__t").cast("long").alias("__nt"),
        "__chars",
        F.array_sort("__t").alias("__st"),
        F.array_sort("__bg").alias("__sbg"),
    )

    def frac(num, den):
        return (num / den).cast("decimal(9,6)").cast("double")

    top_token, top_bigram_chars = _mode_maxima_exprs(
        F.col("__st"), F.col("__sbg")
    )
    return base.select(
        "doc_id",
        "n_lines",
        frac(F.col("n_lines") - F.col("__dl"), F.col("n_lines")).alias("dup_line_frac"),
        frac(top_token, F.col("__nt")).alias("top_token_frac"),
        frac(F.coalesce(top_bigram_chars, F.lit(0)), F.col("__chars")).alias(
            "top_bigram_char_frac"
        ),
    )


def _repetition_mode_stats(pre: DataFrame) -> DataFrame:
    """(doc_id, __topt, __topbg) from ONE combined explode over the
    ``_repetition_base`` frame — the aggregate half of the scalable
    repetition twin.

    r15 optimization round: the two mode aggregates (top token count,
    top bigram char coverage) used to explode ``__t`` and ``__bg`` in
    two separate passes — two corpus scans, two exchanges.  Tagging
    each gram with its mode and exploding the CONCATENATED array folds
    them into one scan and one (doc, kind, gram) exchange carrying the
    same total row count; the per-mode maxima fall out of conditional
    aggregation.  The kind tag keeps the two count spaces disjoint by
    construction (tokens can also never textually collide with bigrams:
    bigrams always contain the split space).

    explode_OUTER + post-filter for the same InferFiltersFromGenerate
    reason documented on the callers: a plain explode would push a
    synthesized size()>0 filter below the projections and re-inline the
    whole bigram construction per row."""
    combined = F.concat(
        F.transform(
            "__t", lambda x: F.struct(F.lit(0).alias("k"), x.alias("g"))
        ),
        F.transform(
            "__bg", lambda x: F.struct(F.lit(1).alias("k"), x.alias("g"))
        ),
    )
    return (
        pre.select("doc_id", F.explode_outer(combined).alias("kg"))
        .filter(F.col("kg").isNotNull())
        .groupBy("doc_id", "kg")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("kg.k") == 0, F.col("cnt"))).alias("__topt"),
            F.max(
                F.when(F.col("kg.k") == 1, F.col("cnt") * F.length("kg.g"))
            ).alias("__topbg"),
        )
    )


def repetition_scores_scalable(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scale twin of ``repetition_scores`` (pinned bit-equal in tests):
    token/bigram mode counts via explode + (doc, gram) hash aggregate +
    per-doc max — linear in document length where the per-row form is
    O(d·n), at the price of two narrow shuffles.  Use for corpora whose
    individual documents are pathologically long (a 10M-token doc costs
    the per-row form ~distinct×n comparisons inside ONE task; here the
    same doc spreads across the cluster as (doc_id, gram) rows).

    Same inlining discipline as the per-row form: grams explode from the
    PROJECTED token/bigram columns of ``_repetition_base``."""
    pre = _repetition_base(docs, text_col, id_col)
    # both mode maxima from ONE combined explode (see
    # _repetition_mode_stats — r15: was two separate explode passes)
    stats = _repetition_mode_stats(pre)

    def frac(num, den):
        return (num / den).cast("decimal(9,6)").cast("double")

    base = pre.select(
        "doc_id",
        "n_lines",
        "__dl",
        F.size("__t").cast("long").alias("__nt"),
        "__chars",
    )
    return (
        base.join(stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            frac(F.col("n_lines") - F.col("__dl"), F.col("n_lines")).alias(
                "dup_line_frac"
            ),
            frac(F.col("__topt"), F.col("__nt")).alias("top_token_frac"),
            frac(F.coalesce(F.col("__topbg"), F.lit(0)), F.col("__chars")).alias(
                "top_bigram_char_frac"
            ),
        )
    )


def text_stats_bundle(
    docs: DataFrame,
    gram: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The full per-document text profile — token counts, quality
    heuristics, min-md5 char-gram fingerprint, repetition signals — in
    ONE corpus scan, zero joins, zero shuffles.

    r15 optimization round, two steps: the llm_text_stats entry composed
    ``token_stats ⋈ quality_scores ⋈ char_fingerprints ⋈
    repetition_scores_scalable`` — four operators, SIX parquet scans
    (repetition alone paid three) and three broadcast joins, each arm
    re-tokenizing the same text.  First everything except the two
    repetition mode maxima fused into one projection over a single
    tokenize (two scans + one join).  Then the mode maxima themselves
    moved in-row — array_sort + run-length fold (``_mode_maxima_exprs``,
    the ``token_entropy`` rewrite applied to the repetition kernel) —
    deleting the explode branch: its second corpus scan, both
    map-side-combined exchanges and the broadcast join (plan: 22 nodes /
    3 exchanges -> 8 nodes / 1 ensure-parallelism exchange).  Counts are
    exact integers in both forms, so output is column-for-column
    identical to the original composition (same expressions, same cast
    chain — pinned in tests/test_repetition.py) and the entry's oracle
    is unchanged.

    The stepped selects (project ``__t`` first, the bigram/sorted arrays
    next, derive everything in a final select) are the anti-inlining
    discipline documented on ``repetition_scores``: CollapseProject
    leaves a multiply-referenced non-cheap alias alone, so the split and
    the sorts run once per row instead of once per lambda reference.
    """
    from hedera_etl_spark.tables import ensure_parallelism

    en = LANG_PROFILES["en"]
    pre = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("__text"),
        tokens(text_col).alias("__t"),
    )
    t = F.col("__t")
    txt = F.col("__text")
    bigrams = F.when(F.size(t) < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat(
                F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)
            ),
        )
    )
    sorted_arrays = pre.select(
        "doc_id",
        "__text",
        "__t",
        F.array_sort(t).alias("__st"),
        F.array_sort(bigrams).alias("__sbg"),
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(txt) - F.lit(gram - 1), F.lit(1))),
        lambda i: txt.substr(i, F.lit(gram)),
    )
    lines = F.split(txt, "\n")
    n_tokens = F.size(t).cast("long")
    n_distinct = F.size(F.array_distinct(t)).cast("long")
    n_chars = F.length(txt).cast("long")
    stop_hits = F.size(F.filter(t, lambda x: x.isin(list(en)))).cast("long")
    n_lines = F.size(lines).cast("long")
    dl = F.size(F.array_distinct(lines)).cast("long")
    topt, topbg = _mode_maxima_exprs(F.col("__st"), F.col("__sbg"))

    def frac(num, den, typ="decimal(9,6)"):
        return (num / den).cast(typ).cast("double")

    return sorted_arrays.select(
        "doc_id",
        n_tokens.alias("n_ws_tokens"),
        F.regexp_count(txt, F.lit(WORD_PATTERN)).cast("long").alias("n_re_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        n_chars.alias("n_chars"),
        frac(n_distinct, n_tokens).alias("ttr"),
        frac(n_chars - (n_tokens - F.lit(1)), n_tokens).alias("avg_token_len"),
        frac(stop_hits, n_tokens).alias("stopword_ratio"),
        frac(
            n_distinct * F.lit(100) + stop_hits * F.lit(10),
            n_tokens,
            "decimal(12,6)",
        ).alias("quality_score"),
        F.substring(F.array_min(F.transform(grams, F.md5)), 1, 16).alias(
            "fingerprint"
        ),
        F.size(F.array_distinct(grams)).cast("long").alias("n_grams"),
        n_lines.alias("n_lines"),
        frac(n_lines - dl, n_lines).alias("dup_line_frac"),
        frac(topt, n_tokens).alias("top_token_frac"),
        frac(F.coalesce(topbg, F.lit(0)), n_chars).alias(
            "top_bigram_char_frac"
        ),
    )


def char_fingerprints(
    docs: DataFrame, gram: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Document fingerprint from character n-grams (winnowing-style):
    the minimum md5 over all character 5-grams, plus the distinct-gram
    count.  Rolling windows are a pure index-sequence transform."""
    from hedera_etl_spark.tables import ensure_parallelism

    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text_col) - F.lit(gram - 1), F.lit(1))),
        lambda i: F.col(text_col).substr(i, F.lit(gram)),
    )
    # one md5 per character of every document — spread the scan split
    return ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.substring(F.array_min(F.transform(grams, F.md5)), 1, 16).alias("fingerprint"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_grams"),
    )


def char_fingerprints_scalable(
    docs: DataFrame, gram: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``char_fingerprints`` as explode + two-level aggregate — the
    repetition_scores_scalable rewrite applied to the fingerprint (r14,
    after the sf10 ladder decade flagged the per-row form at ~14x on
    10x data).  This form explodes (doc_id, gram) rows: md5 runs inside
    whole-stage codegen, no per-row gram/md5 arrays are materialized,
    the first groupBy(doc_id, gram) partial-combines map-side
    (duplicate grams collapse before the exchange), and the doc-keyed
    reduce computes COUNT(*) = distinct grams + MIN(md5 of distinct).

    Measured crossover (docs/PERF_NOTES.md r14, min-of-2 after warm):
    sf1 per-row 2.9 s vs exploded 11.5 s (char-granularity explode
    moves one row per character — at bench scale the per-row form
    wins easily), sf10 40.4 s vs 38.6 s (par), and the DECADE ratios
    flip the verdict going up: per-row 13.9x/decade (superlinear —
    allocation churn of interpreted lambdas on a shared heap) vs
    3.3x/decade here (sublinear).  One decade past sf10 the exploded
    form wins ~4x and keeps widening, so THIS is the 100 TB path; the
    per-row form remains the entry/bench form at small SF.  An
    aggregate-running-min variant of the per-row form (no md5 array)
    was also built and measured: no change (2.74/41.1) — the cost is
    the md5 calls themselves, not the array.  Bit-equal to the per-row
    form (min over duplicates == min over distinct; pinned in
    test_textdedup.py)."""
    from hedera_etl_spark.tables import ensure_parallelism

    exploded = (
        ensure_parallelism(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length(text_col) - F.lit(gram - 1), F.lit(1)),
                )
            ).alias("__i"),
            F.col(text_col).alias("__t"),
        )
        .select("doc_id", F.expr(f"substring(__t, __i, {int(gram)})").alias("__g"))
    )
    return (
        exploded.groupBy("doc_id", "__g")
        .agg(F.count(F.lit(1)).alias("__dup"))
        .groupBy("doc_id")
        .agg(
            F.substring(F.min(F.md5("__g")), 1, 16).alias("fingerprint"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
    )


#: Measured form crossovers (total corpus characters), so production
#: callers don't hand-pick the 100 TB path (VERDICT r14 #7):
#: - fingerprint: per-row wins to ~sf1 (15M chars: 2.05 s vs 11.5 s),
#:   par at the sf10 rung (~150M chars: 40.4 vs 38.6), scalable wins
#:   every decade after (3.3x/decade vs 13.9x/decade) — PERF_NOTES r14;
#: - repetition: the O(d*n) per-row lambdas lose much earlier — r15
#:   measurement (local[32], min-of-2, all columns forced): sf0.1
#:   (1.5M chars) 2.46 s vs 1.63 s, sf1 (15M) 18.2 s vs 6.6 s.  Inside
#:   ``prepare`` the per-row form fuses with neighboring projections
#:   and prunes to the two filter columns, so the threshold sits at the
#:   decade where standalone per-row is ~3x worse, not at first
#:   standalone crossover.
FP_SCALABLE_MIN_CHARS = 150_000_000
REP_SCALABLE_MIN_CHARS = 10_000_000


def _corpus_chars(docs: DataFrame, text_col: str) -> int:
    """One scan-only aggregate (column-pruned to text) — the size probe
    behind form='auto'.  Callers pass an already-materialized frame (or
    accept one upstream recompute); the probe costs ~1% of the md5 work
    either form then does."""
    row = docs.agg(F.sum(F.length(text_col)).alias("c")).collect()[0]
    return int(row["c"] or 0)


def _pick_form(
    docs: DataFrame, text_col: str, form: str, threshold: int
) -> bool:
    """True -> scalable.  ``form``: 'auto' | 'per_row' | 'scalable'."""
    if form == "per_row":
        return False
    if form == "scalable":
        return True
    if form != "auto":
        raise ValueError(
            f"form must be 'auto', 'per_row' or 'scalable', got {form!r}"
        )
    return _corpus_chars(docs, text_col) >= threshold


def char_fingerprints_auto(
    docs: DataFrame,
    gram: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    form: str = "auto",
    auto_threshold_chars: int = FP_SCALABLE_MIN_CHARS,
) -> DataFrame:
    """Production entry for the document fingerprint: picks the per-row
    HOF form below ``auto_threshold_chars`` total corpus characters and
    the explode+aggregate scale form at/above it (the measured sf10
    crossover), or obeys an explicit ``form=``.  The two forms are
    bit-equal (pinned in test_textdedup.py), so the choice is purely a
    physical-plan decision."""
    scalable = _pick_form(docs, text_col, form, auto_threshold_chars)
    fn = char_fingerprints_scalable if scalable else char_fingerprints
    return fn(docs, gram=gram, text_col=text_col, id_col=id_col)


def repetition_scores_auto(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    form: str = "auto",
    auto_threshold_chars: int = REP_SCALABLE_MIN_CHARS,
) -> DataFrame:
    """Form selector for the Gopher repetition signals — same contract
    as ``char_fingerprints_auto`` (bit-equal twins, physical choice
    only).  This is the selector ``prepare_training_corpus`` threads
    through its quality floor (``analysis_form=``)."""
    scalable = _pick_form(docs, text_col, form, auto_threshold_chars)
    fn = repetition_scores_scalable if scalable else repetition_scores
    return fn(docs, text_col=text_col, id_col=id_col)


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the standard
    pre-tokenization shape for LLM training data (context-length packing
    happens downstream; this is the map-side fan-out that feeds it).

    Pure array math per row: tokenize once, slice [start, start+chunk)
    windows advancing by (chunk - overlap), explode one row per chunk.
    No shuffle at any corpus size; chunk ids are (doc_id, chunk_idx) so
    downstream dedup/shuffling has a stable key.  A document shorter than
    one chunk yields exactly one chunk (itself); documents with NULL text
    are dropped (nothing to chunk — downstream packing must never see a
    NULL chunk_text).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}")
    step = chunk_tokens - overlap
    toked = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("__toks")
    )
    # number of chunks: ceil(max(n - overlap, 1) / step), at least 1
    n_chunks = F.greatest(
        F.ceil((F.greatest(F.size("__toks") - overlap, F.lit(1))) / F.lit(step)),
        F.lit(1),
    ).cast("long")
    exploded = toked.select(
        "doc_id",
        "__toks",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk = F.slice(
        F.col("__toks"), (F.col("chunk_idx") * step + 1).cast("int"), chunk_tokens
    )
    return exploded.select(
        "doc_id",
        "chunk_idx",
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"),
    )


#: scrub patterns: (name, regex, replacement) — the email/number classes a
#: training pipeline redacts before tokenization.  Mechanism demo: real
#: pipelines plug presidio-style recognizers into the same projection.
SCRUB_PATTERNS: tuple = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
    ("long_number", r"\b\d{9,}\b", "<NUM>"),
)


def scrub_text(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact PII-shaped spans with chained regexp_replace — one JVM-side
    projection, no shuffle; emits the scrubbed text plus per-class hit
    counts so the pipeline can quarantine high-density documents instead
    of silently keeping them.

    Each class's count runs against the text AFTER the previous classes'
    replacements, so the counts agree with what was actually redacted —
    counting every class against the raw text would double-count a span
    matching two patterns (a 16-digit card number matches both the phone
    and long-number shapes but is only ever replaced once)."""
    scrubbed = F.col(text_col)
    counts = []
    for name, pattern, repl in SCRUB_PATTERNS:
        counts.append(
            F.regexp_count(scrubbed, F.lit(pattern)).cast("long").alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pattern, repl)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        scrubbed.alias("scrubbed_text"),
        *counts,
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word k-gram, slide a
    window of ``w`` consecutive hashes, select each window's minimum,
    and keep the DISTINCT selected values as the document's fingerprint
    set — (doc_id, fp) rows.

    ``char_fingerprints`` keeps ONE global-min hash per document (a
    whole-document identity signal); winnowing keeps a density-guaranteed
    SET: any shared token run of length >= w + k - 1 between two
    documents forces at least one shared fingerprint (the winnowing
    guarantee, property-pinned in tests), which is what plagiarism-style
    containment detection needs — overlap sharing works through the
    ordinary shared-fp equi-join, never a pairwise text comparison.

    All per-row expressions off ONE tokenization (the projected-column
    discipline): gram hashes are 60-bit md5 prefixes (the packing/
    sampling cross-engine hash canon — DuckDB twin
    ``('0x' || substring(md5(g), 1, 15))::BIGINT``); windows are an
    index-sequence transform over the hash array with truncating slices,
    so documents with fewer than ``w`` grams contribute their single
    whole-array minimum.  Zero shuffles: tokenize, hash, select, and
    dedupe all happen inside the document's own row; the explode is
    map-side.
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    toked = docs.select(
        F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("__t")
    )
    tc = F.col("__t")
    grams = F.when(
        F.size(tc) < k, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(tc) - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(tc, i + j) for j in range(k)]),
        )
    )
    hashed = toked.select(
        "doc_id",
        F.transform(
            grams,
            lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
        ).alias("__h"),
    )
    hc = F.col("__h")
    fps = F.when(F.size(hc) == 0, F.array().cast("array<bigint>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(hc) - F.lit(w - 1), F.lit(1))),
                lambda j: F.array_min(F.slice(hc, j, w)),
            )
        )
    )
    return (
        hashed.select("doc_id", F.explode_outer(fps).alias("fp"))
        .filter(F.col("fp").isNotNull())
    )


def fingerprint_overlap(
    fps_a: DataFrame,
    fps_b: DataFrame | None = None,
    min_shared: int = 1,
    max_fp: int | None = 500,
    cap_observations: dict | None = None,
) -> DataFrame:
    """(doc_a, doc_b, shared) — document pairs sharing at least
    ``min_shared`` winnowing fingerprints, from (doc_id, fp) rows: one
    equi-join on the fingerprint value + one pair aggregate, the
    standard containment-candidate detector.  Self mode (``fps_b``
    None) emits each unordered pair once (doc_a < doc_b).

    ``max_fp`` is the degenerate-fingerprint skew guard (the
    minhash/LSH production rule): a boilerplate k-gram selected as a
    window minimum across N documents would make the fp equi-join
    quadratic in N; fingerprints held by more than ``max_fp`` documents
    are dropped from pairing (a count-over-window on the same fp key
    the join shuffles on — missed pairs under-merge, the documented
    recall trade).

    The cap is a RECALL TRADE and must never be silent (VERDICT r7):
    pass ``cap_observations`` and the dropped (doc, fp) membership
    counts ride the caller's own action — ``"winnow_fp_cap"`` for the
    ``fps_a`` side, plus ``"winnow_fp_cap_b"`` in two-sided mode (each
    side caps independently, and boilerplate concentrated in one input
    must not hide behind the other side's clean counter).  See
    stats.observe_bucket_cap / stats.cap_counts."""
    from pyspark.sql import Window as W

    from hedera_etl_spark.operators.stats import observe_bucket_cap

    a = fps_a.select(F.col("doc_id").alias("doc_a"), "fp")
    b = (fps_b if fps_b is not None else fps_a).select(
        F.col("doc_id").alias("doc_b"), "fp"
    )
    if max_fp is not None:
        a = a.withColumn("__fn", F.count("*").over(W.partitionBy("fp")))
        a = observe_bucket_cap(
            a, "__fn", max_fp, cap_observations, "winnow_fp_cap"
        )
        a = a.filter(F.col("__fn") <= max_fp).drop("__fn")
        b = b.withColumn("__fn", F.count("*").over(W.partitionBy("fp")))
        if fps_b is not None:
            # self mode caps one physical frame twice — observing the b
            # twin would double-count the same drops, so only two-sided
            # mode gets the second counter
            b = observe_bucket_cap(
                b, "__fn", max_fp, cap_observations, "winnow_fp_cap_b"
            )
        b = b.filter(F.col("__fn") <= max_fp).drop("__fn")
    joined = a.join(b, "fp")
    if fps_b is None:
        joined = joined.filter(F.col("doc_a") < F.col("doc_b"))
    return (
        joined.groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def token_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scalable: bool = False,
) -> DataFrame:
    """(doc_id, n_tokens, token_entropy) — Shannon entropy of the
    document's token distribution in nats, the classic gibberish /
    keyword-stuffing signal: near 0 for one repeated token, ln(n) for
    all-distinct; low entropy at high n_tokens flags degenerate text
    the length/stopword features miss.

    Computed as H = ln(n) - (sum_t c_t ln c_t) / n, which keeps every
    transcendental on an exact INTEGER argument: each ln(c) rounds to
    DECIMAL(12,6) (the repo's float canon), the weighted sum is exact
    decimal and order-free, and the final value is the raw double of
    one division + one subtraction over those exact inputs — identical
    IEEE ops in any engine, with NO re-rounding of a double (the step
    engines disagree on).

    Two plans, identical values (pinned):
    - default: ZERO-SHUFFLE per-row form — sort the token array once and
      fold run lengths (r15 optimization round; the previous
      transform(array_distinct(t), d -> size(filter(t, = d))) form was
      O(u*n) string comparisons per row — ~5x slower at sf0.1 — where
      the sort+fold is O(n log n)).  Every ln(c) term uses the exact
      cast chain of the oracle canon and the decimal(38,6) accumulation
      is exact, so summing run lengths in sorted order instead of
      first-occurrence order is bit-identical;
    - ``scalable=True``: explode + (doc, token) aggregate + doc
      aggregate — two map-side-combined exchanges, linear in tokens,
      the form for pathological single-token-repeated-10^7-times rows
      (same guidance as repetition_scores vs _scalable).
    """
    from hedera_etl_spark.functions import tokens as _tok

    t = _tok(text_col)
    if scalable:
        base = docs.select(
            F.col(id_col).alias("doc_id"), F.explode(t).alias("__tok")
        )
        per_tok = base.groupBy("doc_id", "__tok").agg(
            F.count("*").cast("long").alias("c")
        )
        agg = per_tok.groupBy("doc_id").agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(
                F.col("c") * F.log(F.col("c")).cast("decimal(12,6)")
            ).cast("decimal(38,6)").alias("__wsum"),
        )
    else:
        # sorted-run-length fold: equal tokens are adjacent after
        # array_sort, so one O(n) pass over indices 2..n accumulates the
        # SAME per-distinct-token c*ln(c) terms the old per-distinct
        # scan produced — the exact decimal sum is order-free, so the
        # value is bit-identical (pinned against the scalable form and
        # the oracle).  The sorted array lives in its OWN projection so
        # the two element_at references per fold step hit a column, not
        # two inlined copies of the sort (the repetition_scores
        # anti-inlining discipline).
        sc = F.col("__s")

        def _term(c):
            return (c * F.log(c).cast("decimal(12,6)")).cast("decimal(38,6)")

        zero = F.lit(0).cast("decimal(38,6)")
        run_fold = F.aggregate(
            F.sequence(F.lit(2), F.size(sc)),
            F.struct(
                F.lit(1).cast("long").alias("run"), zero.alias("acc")
            ),
            lambda st, i: F.when(
                F.element_at(sc, i) == F.element_at(sc, i - 1),
                F.struct((st["run"] + 1).alias("run"), st["acc"].alias("acc")),
            ).otherwise(
                F.struct(
                    F.lit(1).cast("long").alias("run"),
                    (st["acc"] + _term(st["run"])).alias("acc"),
                )
            ),
            lambda st: st["acc"] + _term(st["run"]),
        )
        # size < 2 guard: sequence(2, n) flips to a DESCENDING sequence
        # for n < 2, so short arrays take the closed forms instead —
        # n == 1 sums the single term c=1 (ln(1) -> exactly 0), n == 0
        # is the empty sum; both equal the zero literal.  NULL text
        # stays NULL through the otherwise-less when.
        agg = docs.select(
            F.col(id_col).alias("doc_id"),
            F.array_sort(t).alias("__s"),
        ).select(
            "doc_id",
            F.size(sc).cast("long").alias("n_tokens"),
            F.when(F.size(sc) >= 2, run_fold)
            .when(F.size(sc) >= 0, zero)
            .alias("__wsum"),
        )
    # the final value stays a RAW double: every input is an exact
    # decimal (same double image in any engine) and the division +
    # subtraction are single IEEE ops — re-rounding a DOUBLE through
    # DECIMAL is the one step engines disagree on near 6-decimal
    # midpoints (exact-binary-expansion vs multiply-then-round), so the
    # canon rounds decimals only, never doubles (r12 lesson)
    h = (
        F.log(F.col("n_tokens")).cast("decimal(12,6)").cast("double")
        - F.col("__wsum").cast("double") / F.col("n_tokens")
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        h.alias("token_entropy"),
    )


def compression_ratio(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """(doc_id, n_bytes, compressed_bytes, compression_ratio) — zlib
    deflate ratio of the UTF-8 text, the redundancy signal quality
    pipelines cut on from both ends: near 0 = degenerate repetition
    (boilerplate, keyword stuffing), near/above 1 = high-entropy noise
    (binary spill, encrypted spam); prose sits in a stable mid band.

    Python-side by necessity (no JVM deflate expression) — but
    Arrow-batched ``mapInPandas`` over (id, text) only, a zero-shuffle
    map stage whose cost is the deflate itself; NULL text yields NULL
    metrics.  Not SQL-expressible, so pytest-pinned rather than
    oracle-checked (the multimodal precedent)."""
    from typing import Iterator

    schema = (
        "doc_id long, n_bytes long, compressed_bytes long, "
        "compression_ratio double"
    )

    def gen(batches: Iterator) -> Iterator:
        import zlib

        import pandas as pd

        for pdf in batches:
            raw_len = []
            comp_len = []
            for txt in pdf["__text"]:
                if txt is None:
                    raw_len.append(None)
                    comp_len.append(None)
                else:
                    b = txt.encode("utf-8")
                    raw_len.append(len(b))
                    comp_len.append(len(zlib.compress(b, level)))
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.array(raw_len, dtype="Int64"),
                    "compressed_bytes": pd.array(comp_len, dtype="Int64"),
                }
            )
            ratio = out["compressed_bytes"] / out["n_bytes"]
            # empty text: 0 raw bytes but a nonempty deflate header —
            # an undefined ratio, not an infinite one
            ratio[out["n_bytes"] == 0] = None
            out["compression_ratio"] = ratio.astype("Float64").round(6)
            yield out

    return docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    ).mapInPandas(gen, schema=schema)


#: Gopher's stop-word presence list (Rae et al. 2021, Appendix A.1.1).
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_quality_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The rest of the Gopher rule battery (Rae et al. 2021, A.1.1) —
    the rules ``repetition_scores`` (dup lines / top token / top
     2-gram) and ``quality_scores`` don't already carry: word-count
    bounds, mean word length bounds, symbol-to-word ratio (# and
    ellipses), bullet-started and ellipsis-ended line fractions,
    alphabetic-word fraction, and stop-word presence.  Returns the raw
    metrics, one boolean per rule, and the combined ``gopher_pass``.

    One zero-shuffle per-row projection: tokenize once, derive every
    metric from the projected arrays (the inlining discipline); counts
    are exact integers, ratios single divisions rounded through
    DECIMAL(9,6) (house canon), so the relation is oracle-checkable.
    Defaults are the paper's thresholds."""
    from hedera_etl_spark.functions import tokens as _tok

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        _tok(text_col).alias("__t"),
        F.split(F.col(text_col), "\n").alias("__l"),
        (
            F.length(text_col)
            - F.length(F.regexp_replace(F.col(text_col), "[#…]", ""))
            + F.regexp_count(F.col(text_col), F.lit("\\.\\.\\."))
        ).cast("long").alias("__symbols"),
    )
    t, ln = F.col("__t"), F.col("__l")
    m = base.select(
        "doc_id",
        "__symbols",
        F.size(t).cast("long").alias("n_words"),
        F.aggregate(
            t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("__word_chars"),
        F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]")))
        .cast("long").alias("__alpha_words"),
        F.size(F.filter(t, lambda x: x.isin(list(GOPHER_STOPWORDS))))
        .cast("long").alias("__stop_hits"),
        F.size(ln).cast("long").alias("n_lines"),
        F.size(F.filter(ln, lambda x: x.rlike("^\\s*[•\\-\\*]")))
        .cast("long").alias("__bullet_lines"),
        F.size(F.filter(ln, lambda x: x.rlike("(\\.\\.\\.|…)\\s*$")))
        .cast("long").alias("__ellipsis_lines"),
    )

    def ratio(num, den):
        return (num / den).cast("decimal(9,6)").cast("double")

    out = m.select(
        "doc_id",
        "n_words",
        ratio(F.col("__word_chars"), F.col("n_words")).alias("mean_word_len"),
        ratio(F.col("__symbols"), F.col("n_words")).alias("symbol_ratio"),
        ratio(F.col("__bullet_lines"), F.col("n_lines")).alias("bullet_frac"),
        ratio(F.col("__ellipsis_lines"), F.col("n_lines")).alias(
            "ellipsis_frac"
        ),
        ratio(F.col("__alpha_words"), F.col("n_words")).alias(
            "alpha_word_frac"
        ),
        F.col("__stop_hits").alias("stop_hits"),
    )
    flags = out.select(
        "*",
        F.col("n_words").between(min_words, max_words).alias("ok_n_words"),
        F.col("mean_word_len")
        .between(float(min_mean_word_len), float(max_mean_word_len))
        .alias("ok_word_len"),
        (F.col("symbol_ratio") <= float(max_symbol_ratio)).alias("ok_symbols"),
        (F.col("bullet_frac") <= float(max_bullet_frac)).alias("ok_bullets"),
        (F.col("ellipsis_frac") <= float(max_ellipsis_frac)).alias(
            "ok_ellipsis"
        ),
        (F.col("alpha_word_frac") >= float(min_alpha_word_frac)).alias(
            "ok_alpha"
        ),
        (F.col("stop_hits") >= int(min_stop_hits)).alias("ok_stopwords"),
    )
    return flags.select(
        "*",
        (
            F.col("ok_n_words")
            & F.col("ok_word_len")
            & F.col("ok_symbols")
            & F.col("ok_bullets")
            & F.col("ok_ellipsis")
            & F.col("ok_alpha")
            & F.col("ok_stopwords")
        ).alias("gopher_pass"),
    )
