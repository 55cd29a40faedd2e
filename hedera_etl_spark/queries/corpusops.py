"""Corpus-assembly registry entries: duplicate-cluster collapse
(connected components over near-dup pairs) and sequence packing — the
two stages between near-dup detection and shard export in a training
-data pipeline (SURVEY §2 extras; the reference's dedup is exact-key
only, RemoveDuplicatesTemplateQuery.java:29-43, so both operators extend
the engine's LLM-pipeline surface).

Both entries carry full DuckDB oracles:
- the cluster entry's oracle computes the SAME prefix-filtered exact
  -Jaccard pairs (queries/_oracle.ngram_pairs_cte) and then the
  transitive closure with a recursive CTE — closing the loop on the one
  semantic the pair detectors cannot check themselves (A ~ B ~ C must
  collapse even though (A, C) was never scored);
- the packing entry uses the concat-and-chunk packer, whose prefix-sum
  form is window-expressible in ANSI SQL (the FFD packer is inherently
  procedural and stays pytest-verified — tests/test_packing.py pins FFD
  against concat-and-chunk on fill-rate and assignment invariants).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hedera_etl_spark.operators.components import collapse_components
from hedera_etl_spark.operators.packing import _BIN_STRIDE, pack_concat
from hedera_etl_spark.operators.retrieval import C1, C2, C3, bm25_topk
from hedera_etl_spark.operators.textdedup import ngram_jaccard_neardups
from hedera_etl_spark.queries import query
from hedera_etl_spark.queries._oracle import ngram_pairs_cte, shingle_cte
from hedera_etl_spark.tables import load_table

# ---------------------------------------------------------------------------
# dup-cluster corpus: orig + two nested append-mutants per 13th doc.
# Appending 3 then 6 tokens makes the three shingle sets NESTED
# (A ⊂ B ⊂ C), so with s = |A| the pair similarities are s/(s+3),
# (s+3)/(s+6), s/(s+6): docs of 14-25 tokens clear 0.8 on the adjacent
# pairs but NOT on (A, C) — a genuine transitive chain the closure must
# merge; longer docs merge on all three edges, 11-13-token docs merge
# only (B, C).  All three regimes exist in the testdata length mix, so
# the oracle exercises multi-hop closure, full triangles, and partial
# clusters at once.
# ---------------------------------------------------------------------------
_CHAIN_DOCS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || ' zza zzb zzc' AS text
      FROM documents WHERE doc_id % 13 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id,
             text || ' zza zzb zzc zzd zze zzf' AS text
      FROM documents WHERE doc_id % 13 = 0
"""


def chain_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chained-mutant corpus — explode-copies form (one scan, see
    textops._explode_copies)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    orig = F.struct(F.col("doc_id"), F.col("text"))
    m1 = F.struct(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zza zzb zzc")).alias("text"),
    )
    m2 = F.struct(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zza zzb zzc zzd zze zzf")).alias("text"),
    )
    copies = F.when(F.col("doc_id") % 13 == 0, F.array(orig, m1, m2)).otherwise(
        F.array(orig)
    )
    return docs.select(F.explode(copies).alias("d")).select("d.doc_id", "d.text")


_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE corpus AS ({_CHAIN_DOCS_SQL}),
    {shingle_cte('corpus')},
    {ngram_pairs_cte(threshold=0.8, max_df=20)},
    sym AS (
      SELECT doc_a AS n, doc_b AS m FROM pairs
      UNION ALL
      SELECT doc_b AS n, doc_a AS m FROM pairs
    ),
    reach(n, m) AS (
      SELECT n, m FROM sym
      UNION
      SELECT r.n, s.m FROM reach r JOIN sym s ON r.m = s.n
    ),
    comp AS (
      SELECT n AS doc_id, LEAST(n, MIN(m)) AS component FROM reach GROUP BY n
    )
    SELECT c.doc_id,
           COALESCE(k.component, c.doc_id) AS component,
           (COALESCE(k.component, c.doc_id) = c.doc_id) AS keep
    FROM corpus c LEFT JOIN comp k USING (doc_id)
    ORDER BY doc_id
"""


@query(
    "llm_dup_clusters",
    _CLUSTERS_ORACLE,
    tags=("llm", "dedup", "components", "graph"),
    # rotated back IN r15 (VERDICT r14 #1 — r11-stale cohort).
    # localCheckpoint per closure round — a cached plan would pin
    # round-1 materializations (same rule as minhash/ngram entries).
    cache_plan=False,
)
def llm_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminal dedup stage: exact-Jaccard near-dup pairs (prefix
    -filtered blocking, textdedup.ngram_jaccard_neardups) fed through
    alternating large-star/small-star connected components
    (operators/components.py) and collapsed to a per-document keeper
    decision — (doc_id, component, keep), component = min-id member,
    exactly one keep per cluster.  The oracle recomputes the identical
    pairs and takes their transitive closure with a recursive CTE, so
    the hash check covers the multi-hop merges no pair detector sees."""
    docs = chain_docs(spark, sf_dir)
    pairs = ngram_jaccard_neardups(docs, n=3, max_df=20, threshold=0.8).select(
        "doc_a", "doc_b"
    )
    return collapse_components(
        docs.select("doc_id"), pairs, id_col="doc_id", src="doc_a", dst="doc_b"
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# sequence packing (concat-and-chunk form)
# ---------------------------------------------------------------------------
_PACK_MAX_TOKENS = 512
_PACK_GROUPS = 8

_PACK_ORACLE = f"""
    WITH c AS (
      SELECT doc_id,
             CAST(COALESCE(CASE WHEN trim(text) = '' THEN 0
                                ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                           END, 0) AS BIGINT) AS n_tokens,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                  % {_PACK_GROUPS} AS INT) AS group_id
      FROM documents
    ),
    w AS (
      SELECT doc_id, n_tokens, group_id,
             CAST(SUM(n_tokens) OVER (PARTITION BY group_id ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens
                  AS BIGINT) AS start_offset
      FROM c
    )
    SELECT doc_id, n_tokens, group_id, start_offset,
           CAST(CAST(group_id AS BIGINT) * {_BIN_STRIDE}
                + start_offset // {_PACK_MAX_TOKENS} AS BIGINT) AS bin_id,
           (n_tokens > 0 AND
            (start_offset + greatest(n_tokens - 1, 0)) // {_PACK_MAX_TOKENS}
              > start_offset // {_PACK_MAX_TOKENS}) AS split_across
    FROM w
    ORDER BY doc_id
"""


@query(
    "llm_pack_chunks",
    _PACK_ORACLE,
    tags=("llm", "packing", "window"),
    bench=True,
    # rotated back IN r15 (VERDICT r14 #1 — r11-stale cohort).
)
def llm_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators/packing.pack_concat):
    documents lay out end-to-end within deterministic md5 hash groups and
    the token stream is cut every 512 tokens — one window prefix-sum,
    sequential within a group, parallel across groups (n_groups scales
    with the corpus).  ``split_across`` marks documents straddling a cut,
    the rows a cross-document-attention-masking trainer re-reads."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_concat(
        docs, max_tokens=_PACK_MAX_TOKENS, n_groups=_PACK_GROUPS
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BM25 keyword retrieval
# ---------------------------------------------------------------------------
_BM25_TERMS = ("vector", "merge", "window", "spark", "filter")
_BM25_K = 25

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

# Float discipline: every arithmetic step below is ONE correctly-rounded
# IEEE-754 double operation on exact inputs, associated EXACTLY as the
# Spark expression in operators/retrieval.bm25_topk (idf * (tf * C1)) /
# (tf + (C2 + C3 * (dl / avgdl))); the pre-folded constants arrive as
# repr() literals behind CAST(... AS DOUBLE).  Per-term contributions
# round to DECIMAL(38,6) BEFORE the per-doc sum so the aggregate is
# order-free (38 digits: the rational idf ~ N/df must not overflow for
# rare terms on large corpora — a 12,6 cap NULLs scores past ~7e5 docs).
_BM25_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    post AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf
      FROM (
        SELECT doc_id, len(t) AS dl,
               unnest(list_filter(t, x -> x IN ({_BM25_TERMS_SQL}))) AS term
        FROM base
      )
      GROUP BY doc_id, dl, term
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
      FROM documents
    ),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM post GROUP BY term),
    scored AS (
      SELECT p.doc_id,
             CAST(
               (((CAST(s.n_docs - f.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                 / (CAST(f.df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                * (CAST(p.tf AS DOUBLE) * CAST('{C1!r}' AS DOUBLE)))
               / (CAST(p.tf AS DOUBLE)
                  + (CAST('{C2!r}' AS DOUBLE)
                     + CAST('{C3!r}' AS DOUBLE)
                       * (CAST(p.dl AS DOUBLE)
                          / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))
               AS DECIMAL(38,6)) AS contrib
      FROM post p
      JOIN dfreq f USING (term)
      CROSS JOIN stats s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
           CAST(CAST(SUM(contrib) AS DECIMAL(38,6)) AS DOUBLE) AS score
    FROM scored
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT {_BM25_K}
"""


@query(
    "llm_bm25_topk",
    _BM25_ORACLE,
    tags=("llm", "retrieval", "bm25", "topk"),
    bench=True,
    # parked r17 (window-green r14): the explode + per-doc aggregate with
    # dimension-sized broadcast joins stays window-checked via
    # llm_lm_perplexity (IN) and the TakeOrderedAndProject top-k via
    # llm_dsir_resample (IN); scores stay pinned in tests/test_retrieval.py.
    driver_visible=False,
)
def llm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (operators/retrieval.py): top-25 documents
    for a 5-term query — per-row term filter bounds the explode, one
    corpus-sized (doc, term) aggregate, dimension-sized df/stats
    broadcasts, TakeOrderedAndProject top-k.  Rational-idf scoring with
    per-term DECIMAL rounding makes the score hash engine-portable (the
    module docstring derives why)."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=_BM25_K)


# ---------------------------------------------------------------------------
# repeated-span flags (operators/spandedup.py) — substring-level dedup.
# The Spark side counts span frequencies by xxhash64 (64-bit, collision
# odds ~n_spans^2/2^64); the oracle counts the literal span STRINGS, so
# a hash-match additionally certifies collision-freedom on this corpus.
# 3-token spans (not the production 50) because the synthetic vocabulary
# is small enough that 3-grams genuinely repeat across documents.
# ---------------------------------------------------------------------------
_SPAN_N = 3

_SPAN_ORACLE = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    spans AS (
      SELECT doc_id,
             unnest(generate_series(1, greatest(len(t) - {_SPAN_N - 1}, 0))) AS pos,
             t
      FROM toks
    ),
    named AS (
      SELECT doc_id, CAST(pos AS INT) AS pos,
             array_to_string(t[pos:pos+{_SPAN_N - 1}], ' ') AS span
      FROM spans
    ),
    flagged AS (SELECT span FROM named GROUP BY span HAVING COUNT(*) >= 2)
    SELECT n.doc_id, n.pos
    FROM named n JOIN flagged f USING (span)
    ORDER BY doc_id, pos
"""


@query(
    "llm_span_flags",
    _SPAN_ORACLE,
    tags=("llm", "dedup", "spans"),
    # rotated back IN r15 (VERDICT r14 #1 — r11-stale cohort).
)
def llm_span_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span detection (operators/spandedup.repeated_spans): the
    ExactSubstr-style substring dedup stage — per-doc span fan-out off
    one tokenization, one count-over-window on the span hash (r13: no
    join, no checkpoint — see the operator's broadcast-OOM rationale)
    flagging each (doc, pos).  The rebuilt-text cut path is pytest-pinned
    (tests/test_spandedup.py); this entry hash-checks the flag set."""
    from hedera_etl_spark.operators.spandedup import repeated_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return repeated_spans(docs, n=_SPAN_N, min_count=2).orderBy("doc_id", "pos")


# ---------------------------------------------------------------------------
# tokenizer-corpus statistics (operators/vocab.py)
# ---------------------------------------------------------------------------
_VOCAB_ORACLE = """
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    c AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS tf,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY term
    ),
    r AS (
      SELECT term, tf, df,
             CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, term) AS BIGINT) AS rank,
             SUM(tf) OVER (ORDER BY tf DESC, term
                           ROWS UNBOUNDED PRECEDING) AS cumtf,
             SUM(tf) OVER () AS tot
      FROM c
    )
    SELECT term, tf, df, rank, cumtf / tot AS cum_frac
    FROM r ORDER BY rank
"""


@query(
    "llm_vocab_stats",
    _VOCAB_ORACLE,
    tags=("llm", "vocab", "tokenizer", "window"),
    # rotated back IN r17 (parked r13-r16, window-green r12: the
    # parked-age limit of tools/ledger.py).
)
def llm_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary table (operators/vocab.vocab_stats):
    term/document frequencies plus the rank-ordered coverage curve (the
    vocab-size knob).  One explode + one hash aggregate produce a
    VOCABULARY-sized table; the ranking window is single-partition over
    that dimension, never over the corpus.  cum_frac is one exact-long
    division per row — engine-portable."""
    from hedera_etl_spark.operators.vocab import vocab_stats

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return vocab_stats(docs).orderBy("rank")


_PAIR_ORACLE = """
    WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    p AS (
      SELECT unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                                   i -> struct_pack(l := t[i], r := t[i + 1]))) AS pr
      FROM toks
    )
    SELECT pr.l AS "left", pr.r AS "right", CAST(COUNT(*) AS BIGINT) AS tf
    FROM p GROUP BY pr.l, pr.r
    ORDER BY "left", "right"
"""


@query(
    "llm_pair_stats",
    _PAIR_ORACLE,
    tags=("llm", "vocab", "tokenizer", "bpe"),
    # Rotated back INTO the driver window r12 (VERDICT r11 #1 — the
    # r8-stale cohort refresh).
    # parked r17 (window-green r14): the tokenize-explode-aggregate kernel
    # stays window-checked via llm_vocab_stats (IN), and the round-one pair
    # counts seed the BPE merge chain llm_bpe_encode (IN) hash-matches.
    driver_visible=False,
)
def llm_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token pair frequencies (operators/vocab.pair_stats) —
    the seed statistic of BPE's first merge round: pairs built per-row
    off one tokenization, exploded outer, one hash aggregate keyed by
    the pair (output is pair-vocabulary-sized)."""
    from hedera_etl_spark.operators.vocab import pair_stats

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return pair_stats(docs).orderBy("left", "right")


# ---------------------------------------------------------------------------
# the full BPE merge loop (operators/vocab.bpe_merges).  The oracle is a
# k-step UNROLLED CTE chain: each round computes weighted adjacent-pair
# frequencies over the symbolized word table, takes the deterministic
# argmax (tf DESC, lhs, rhs), and applies the merge with the greedy
# left-to-right non-overlap rule — expressed relationally as
# gaps-and-islands: a candidate position merges iff its offset within
# its run of CONSECUTIVE candidate positions is even (runs only occur
# when lhs == rhs, where overlapping candidates chain).  That rule is
# provably the same scan-left-to-right application the Spark fold
# performs, so the two engines agree round by round.
# ---------------------------------------------------------------------------
_BPE_K = 8


def _bpe_cte_chain(k: int) -> list:
    """The k-round unrolled BPE training chain as a CTE list ending in
    ``s{k}`` (the segmented vocabulary after all merges) — shared by the
    merge-list oracle and the encode oracle."""
    # AS MATERIALIZED throughout: DuckDB inlines plain CTEs per
    # reference, and this chain references each s{r} three times — the
    # inlining compounds exponentially across rounds (observed as "Too
    # many open files" from thousands of parquet re-opens).  Every CTE
    # here is vocabulary-sized, so forced materialization is free.
    ctes = ["""w AS MATERIALIZED (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY term
    )""", """s0 AS MATERIALIZED (
      SELECT term, cnt, CAST(i AS INT) AS pos,
             list_extract(string_split(term, ''), i) AS sym
      FROM w, unnest(generate_series(1, len(string_split(term, '')))) AS u(i)
    )"""]
    for r in range(k):
        ctes.append(f"""p{r} AS MATERIALIZED (
      SELECT a.sym AS lhs, b.sym AS rhs, SUM(a.cnt) AS tf
      FROM s{r} a JOIN s{r} b ON a.term = b.term AND b.pos = a.pos + 1
      GROUP BY 1, 2
    )""")
        ctes.append(f"""best{r} AS MATERIALIZED (
      SELECT lhs, rhs, tf FROM p{r} ORDER BY tf DESC, lhs, rhs LIMIT 1
    )""")
        ctes.append(f"""c{r} AS MATERIALIZED (
      SELECT s.term, s.cnt, s.pos, s.sym,
             lead(s.sym) OVER (PARTITION BY s.term ORDER BY s.pos) AS nxt,
             COALESCE(s.sym = b.lhs AND
                      lead(s.sym) OVER (PARTITION BY s.term ORDER BY s.pos)
                        = b.rhs, FALSE) AS cand
      FROM s{r} s LEFT JOIN best{r} b ON TRUE
    )""")
        ctes.append(f"""a{r} AS MATERIALIZED (
      SELECT term, pos,
             (pos - MIN(pos) OVER (PARTITION BY term, grp)) % 2 = 0 AS applied
      FROM (SELECT term, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY term ORDER BY pos) AS grp
            FROM c{r} WHERE cand)
    )""")
        ctes.append(f"""m{r} AS MATERIALIZED (
      SELECT term, cnt, pos, sym, nxt, applied,
             COALESCE(lag(applied) OVER (PARTITION BY term ORDER BY pos),
                      FALSE) AS consumed
      FROM (SELECT c.term, c.cnt, c.pos, c.sym, c.nxt,
                   COALESCE(a.applied, FALSE) AS applied
            FROM c{r} c LEFT JOIN a{r} a USING (term, pos))
    )""")
        ctes.append(f"""s{r + 1} AS MATERIALIZED (
      SELECT term, cnt,
             CAST(ROW_NUMBER() OVER (PARTITION BY term ORDER BY pos) AS INT)
               AS pos,
             CASE WHEN applied THEN sym || nxt ELSE sym END AS sym
      FROM m{r} WHERE NOT consumed
    )""")
    return ctes


def _bpe_oracle(k: int) -> str:
    ctes = _bpe_cte_chain(k)
    steps = "\n      UNION ALL\n      ".join(
        f"SELECT CAST({r + 1} AS INT) AS step, lhs, rhs, lhs || rhs AS merged, "
        f"CAST(tf AS BIGINT) AS tf FROM best{r}"
        for r in range(k)
    )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT * FROM ({steps}) ORDER BY step"
    )


def _bpe_encode_oracle(k: int) -> str:
    """Encode-to-ids twin: the same chain's terminal ``s{k}`` IS the
    segmented vocabulary, so the oracle only adds the frequency-ranked
    piece vocabulary and the per-document term join."""
    ctes = _bpe_cte_chain(k)
    ctes.append(f"""freq AS MATERIALIZED (
      SELECT sym AS piece, SUM(cnt) AS f FROM s{k} GROUP BY sym
    )""")
    ctes.append("""vocab AS MATERIALIZED (
      SELECT piece,
             CAST(ROW_NUMBER() OVER (ORDER BY f DESC, piece) AS BIGINT)
               AS piece_id
      FROM freq
    )""")
    ctes.append("""dt AS MATERIALIZED (
      SELECT DISTINCT doc_id, term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
    )""")
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"""
    SELECT dt.doc_id, dt.term, CAST(s.pos AS INT) AS piece_pos,
           s.sym AS piece, v.piece_id
    FROM dt JOIN s{k} s USING (term) JOIN vocab v ON v.piece = s.sym
    ORDER BY doc_id, term, piece_pos"""
    )


@query(
    "llm_bpe_merges",
    _bpe_oracle(_BPE_K),
    tags=("llm", "vocab", "tokenizer", "bpe", "iterative"),
    # iterative: per-round localCheckpoints during construction
    cache_plan=False,
    # parked r17 (green r16): BPE via llm_bpe_encode (IN); the
    # merge loop is pinned in test_bpe.py.
    driver_visible=False,
)
def llm_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete BPE training loop (operators/vocab.bpe_merges): 8
    merge rounds over the corpus, each round = one vocabulary-sized pair
    aggregate + a one-row argmax to the driver + a greedy left-to-right
    merge fold — the kmeans/qualityfilter bounded-driver pattern.  The
    oracle unrolls the identical 8 rounds as a CTE chain with the
    gaps-and-islands form of the non-overlap rule."""
    from hedera_etl_spark.operators.vocab import bpe_merges

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_merges(docs, k=_BPE_K).orderBy("step")


@query(
    "llm_bpe_encode",
    _bpe_encode_oracle(_BPE_K),
    tags=("llm", "vocab", "tokenizer", "bpe", "encode"),
    # rotated back IN r17 (parked r13-r16, window-green r12: the
    # parked-age limit of tools/ledger.py).
    # bpe_merges collects the merge list per call (localCheckpoints)
    cache_plan=False,
)
def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-to-ids (operators/vocab.bpe_encode): train 8 BPE merges
    on the corpus, segment the DISTINCT-term vocabulary once, rank
    pieces by exact corpus frequency into integer ids, and join back to
    per-document terms — the step that hands a packed corpus to a
    trainer.  The oracle reuses the merge chain's terminal segmented
    vocabulary (s8) and mirrors the ranking with exact BIGINT counts."""
    from hedera_etl_spark.operators.vocab import bpe_encode, bpe_merges

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = [
        (r["step"], r["lhs"], r["rhs"])
        for r in bpe_merges(docs, k=_BPE_K).orderBy("step").collect()
    ]
    return bpe_encode(docs, merges).orderBy("doc_id", "term", "piece_pos")


# ---------------------------------------------------------------------------
# deterministic corpus shuffle (operators/ordershuffle.py): the seeded
# training-order permutation + fixed-size shard assignment — the last
# step before a dataloader.  Oracle: the single-window ROW_NUMBER form
# over the identical md5 hash order (the Spark side runs the
# range-partitioned distributed prefix sum, pinned bit-equal to this
# window in tests/test_ordershuffle.py).
# ---------------------------------------------------------------------------
_SHUF_SALT = "r9shuf"
_SHUF_SIZE = 64

_SHUFFLE_ORACLE = f"""
    WITH b AS (
      SELECT doc_id,
             ('0x' || substring(md5(concat_ws(chr(31), '{_SHUF_SALT}',
                                              CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT
               / 4294967296.0 AS bucket
      FROM documents
    ),
    r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bucket, doc_id) AS shuffle_rank
      FROM b
    )
    SELECT doc_id,
           CAST(shuffle_rank AS BIGINT) AS shuffle_rank,
           CAST((shuffle_rank - 1) // {_SHUF_SIZE} AS INT) AS shard_id,
           CAST((shuffle_rank - 1) % {_SHUF_SIZE} AS INT) AS pos_in_shard
    FROM r ORDER BY shuffle_rank
"""


@query(
    "llm_corpus_shuffle",
    _SHUFFLE_ORACLE,
    tags=("llm", "shuffle", "export", "training-order"),
    # NEW in r9 (VERDICT r8 #7), rotated straight into the driver
    # window; llm_lm_perplexity parks in exchange.
    # the plan embeds running_total's lazy localCheckpoint — same
    # cache opt-out rationale as llm_token_budget_select
    cache_plan=False,
    # Driver-green r14; parked r15: the window prefix-sum + deterministic
    # shard kernel stays driver-checked via llm_pack_chunks (IN r15, same
    # kernel); shard determinism pinned in test_packing.py; keeps its
    # bench slot.
    driver_visible=False,
)
def llm_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle for training order
    (operators/ordershuffle.py): every document's 1-based position in
    the seeded md5 hash permutation plus its fixed-size shard
    assignment (64 docs/shard).  The global rank is a range-partitioned
    distributed prefix sum — two exchanges, no single-reducer global
    sort — and the hash order makes the range partitioning uniformly
    balanced by construction."""
    from hedera_etl_spark.operators.ordershuffle import assign_fixed_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return assign_fixed_shards(
        docs, _SHUF_SIZE, ["doc_id"], salt=_SHUF_SALT
    ).select(
        "doc_id", "shuffle_rank", "shard_id", "pos_in_shard"
    ).orderBy("shuffle_rank")


# ---------------------------------------------------------------------------
# DSIR importance weighting (operators/dsir.py) — Xie et al., NeurIPS
# 2023: hashed unigram+bigram bag features, add-one NB log-likelihood
# ratio between a TARGET corpus (here the 'src1' slice of documents)
# and the RAW corpus (all documents), then Gumbel-top-k resampling.
# Float canon: every ln rounds to DECIMAL(12,6) before the exact
# decimal sums (the lmscore precedent); the Gumbel key is decimal
# arithmetic over rounded-ln terms, so top-k ranks identically across
# engines (doc_id tiebreak).
# ---------------------------------------------------------------------------
_DSIR_B = 1024
_DSIR_SALT = "r12dsir"
_DSIR_GSALT = "r12g"
_DSIR_K = 50


def _dsir_scored_ctes() -> str:
    """CTE chain ending in ``scored`` = (doc_id, n_features, dsir_logw)
    — the oracle twin of dsir_scores(dsir_log_ratio_table(...)).
    Feature rows keep MULTIPLICITY (a bag, not a set): unigrams via
    unnest, bigrams via the positional-index join (the _LM_ORACLE
    idiom); the bucket is the salted md5-prefix hash every sampling
    entry uses."""
    return f"""toks AS MATERIALIZED (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    feats AS MATERIALIZED (
      SELECT doc_id, source,
             ('0x' || substring(md5(concat_ws(chr(31), '{_DSIR_SALT}', feat)),
                                1, 8))::BIGINT % {_DSIR_B} AS bucket
      FROM (
        SELECT doc_id, source, unnest(t) AS feat FROM toks
        UNION ALL
        SELECT doc_id, source, t[i] || ' ' || t[i + 1] AS feat
        FROM toks,
             unnest(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
      )
    ),
    tc AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS target_cnt
      FROM feats WHERE source = 'src1' GROUP BY bucket
    ),
    rc AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS raw_cnt
      FROM feats GROUP BY bucket
    ),
    nt AS (SELECT CAST(COALESCE(SUM(target_cnt), 0) AS BIGINT) AS nt FROM tc),
    nr AS (SELECT CAST(COALESCE(SUM(raw_cnt), 0) AS BIGINT) AS nr FROM rc),
    ratio AS (
      SELECT rc.bucket,
             CAST(ln((CAST(COALESCE(tc.target_cnt, 0) AS DOUBLE) + 1.0)
                     / (CAST(nt.nt AS DOUBLE) + {_DSIR_B}.0))
                  AS DECIMAL(12,6))
             - CAST(ln((CAST(rc.raw_cnt AS DOUBLE) + 1.0)
                       / (CAST(nr.nr AS DOUBLE) + {_DSIR_B}.0))
                    AS DECIMAL(12,6)) AS log_ratio
      FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN nt CROSS JOIN nr
    ),
    scored AS (
      SELECT f.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_features,
             CAST(CAST(SUM(r.log_ratio) AS DECIMAL(38,6)) AS DOUBLE)
               AS dsir_logw
      FROM feats f JOIN ratio r USING (bucket)
      GROUP BY f.doc_id
    )"""


_DSIR_WEIGHTS_ORACLE = f"""
    WITH {_dsir_scored_ctes()}
    SELECT doc_id, n_features, dsir_logw FROM scored ORDER BY doc_id
"""

_DSIR_RESAMPLE_ORACLE = f"""
    WITH {_dsir_scored_ctes()},
    keyed AS (
      SELECT doc_id, n_features, dsir_logw,
             CAST(-ln(-ln((('0x' || substring(md5(concat_ws(chr(31), '{_DSIR_GSALT}',
                                              CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT
                           + 0.5) / 4294967296.0))
                  AS DECIMAL(12,6))
             + CAST(dsir_logw AS DECIMAL(20,6)) AS gumbel_key
      FROM scored
    )
    SELECT doc_id, n_features, dsir_logw,
           CAST(gumbel_key AS DOUBLE) AS gumbel_key
    FROM keyed ORDER BY gumbel_key DESC, doc_id LIMIT {_DSIR_K}
"""


#: Per-session memo of the dsir FEATURE PLAN (a pure logical plan, no
#: data): the entries below are excluded from the registry's prepared-
#: plan cache because their checkpoint would pin round-1 data, but the
#: expression-heavy feature subtree (~0.5 s of driver-side construction)
#: is data-free and safe to reuse — each run still re-checkpoints and
#: recomputes from parquet.
_DSIR_FR_CACHE = None


def _dsir_scored(
    spark: SparkSession, sf_dir: str, hash_fn: str = "md5"
) -> DataFrame:
    # The ONE-PASS fused fit+score (dsir_scores_where, r15 optimization
    # round): fit and scoring share one checkpointed feature pass —
    # one tokenize+hash of the corpus instead of the two the
    # dsir_log_ratio_table_where + dsir_scores composition pays (column
    # pruning specializes the two subtrees, so exchange reuse cannot
    # deduplicate them).  Pinned bit-equal to the two-call composition
    # in tests/test_dsir.py, so the same oracle covers both and the
    # driver hash-checks the production scan-count.
    global _DSIR_FR_CACHE
    from hedera_etl_spark.operators.dsir import (
        dsir_feature_rows_where,
        dsir_scores_where,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    if _DSIR_FR_CACHE is None:
        import weakref

        _DSIR_FR_CACHE = weakref.WeakKeyDictionary()
    try:
        per = _DSIR_FR_CACHE.setdefault(spark, {})
    except TypeError:  # session not weak-referenceable (mock/stub)
        per = {}
    fr = per.get((sf_dir, hash_fn))
    if fr is None:
        per[(sf_dir, hash_fn)] = fr = dsir_feature_rows_where(
            docs, F.col("source") == "src1", n_buckets=_DSIR_B,
            salt=_DSIR_SALT, hash_fn=hash_fn,
        )
    return dsir_scores_where(
        docs, F.col("source") == "src1", n_buckets=_DSIR_B, salt=_DSIR_SALT,
        hash_fn=hash_fn, feature_rows=fr,
    )


@query(
    "llm_dsir_weights",
    _DSIR_WEIGHTS_ORACLE,
    tags=("llm", "selection", "importance", "dsir"),
    bench=True,
    # r15 optimization round: the fused one-pass fit+score embeds a
    # lazy localCheckpoint, so the entry opts out of the prepared-plan
    # cache like every other checkpoint-bearing entry (a cached plan
    # would pin round-1 feature rows).
    cache_plan=False,
    # NEW r12, rotated straight INTO the window (zero never-driver-
    # checked debt); q02_groupby_having parks in exchange — the GROUP
    # BY/HAVING family stays driver-checked via hed_dedupe_job (A1's
    # other named entry, IN).
    # parked r17 (window-green r14): the fit + score kernel stays
    # window-checked via llm_dsir_resample (IN), which ranks on the same
    # _dsir_scored log-weights; weight values stay pinned in
    # tests/test_dsir.py.
    driver_visible=False,
)
def llm_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (operators/dsir.py): fit the hashed
    unigram+bigram add-one NB models on the 'src1' target slice vs the
    whole corpus, score every document's feature bag with the
    broadcast 1024-row log-ratio table — (doc_id, n_features,
    dsir_logw).  The model table is corpus-size-INDEPENDENT (<= 1024
    rows), so the scoring plan is one explode + one broadcast join +
    one doc-keyed exchange at any scale."""
    return _dsir_scored(spark, sf_dir).orderBy("doc_id")


@query(
    "llm_dsir_weights_fast",
    None,  # xxhash64 has no DuckDB twin — rows-only check by design
    tags=("llm", "selection", "importance", "dsir", "production-hash"),
    bench=True,
    # Bench-only twin of llm_dsir_weights (VERDICT r12 #2): the
    # production xxhash64 bucket hash — one native JVM hash per feature
    # occurrence instead of the interpreted conv(md5hex, 16, 10) parse,
    # the exact residual llm_minhash_neardup_fast eliminated for
    # minhash signatures.  Never takes a window slot; correctness rides
    # (a) the md5 pipeline's window hash-match, via llm_dsir_resample
    # since r17 (every stage downstream of
    # the bucket digest is shared — same fit, same smoothing, same
    # score aggregate) and (b) the mode-pair pin in tests/test_dsir.py
    # (identical doc set + n_features — the feature bag is
    # hash-independent — and finite non-degenerate weights).
    cache_plan=False,  # fused form embeds a localCheckpoint (r15 opt)
    driver_visible=False,
)
def llm_dsir_weights_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact llm_dsir_weights pipeline with hash_fn='xxhash64'
    (operators/dsir.py): one native JVM hash per token+bigram
    occurrence instead of two interpreted hex-digest parses — the
    production mode for 100 TB scoring runs; md5 stays the
    cross-engine oracle canon."""
    return _dsir_scored(spark, sf_dir, hash_fn="xxhash64").orderBy("doc_id")


@query(
    "llm_dsir_resample",
    _DSIR_RESAMPLE_ORACLE,
    tags=("llm", "selection", "importance", "dsir", "gumbel", "topk"),
    # rotated back IN r17 (parked r13-r16, window-green r12: the
    # parked-age limit of tools/ledger.py).
    cache_plan=False,  # fused form embeds a localCheckpoint (r15 opt)
)
def llm_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-k importance resampling (operators/dsir.py): sample
    50 documents without replacement with probability proportional to
    exp(dsir_logw) by ranking on log-weight + hash-derived Gumbel
    noise — one TakeOrderedAndProject, no weight-normalization pass,
    reproducible across retries, partitionings and engines."""
    from hedera_etl_spark.operators.dsir import gumbel_topk_resample

    scored = _dsir_scored(spark, sf_dir)
    return gumbel_topk_resample(scored, _DSIR_K, salt=_DSIR_GSALT).orderBy(
        F.col("gumbel_key").desc(), "doc_id"
    )


# ---------------------------------------------------------------------------
# ExactSubstr: arbitrary-length repeated-substring intervals (NEW r13)
# ---------------------------------------------------------------------------
#: 60-token planted template; the first 50 form a second, shorter plant.
#: Appended to doc_id % 7 == 0 (END alignment) and prepended to
#: doc_id % 11 == 0 (START alignment), so the corpus carries repeats of
#: two different lengths at two different alignments, PLUS the 50-token
#: cross-group overlap (the prefix of the 60 IS the 50) — exactly the
#: any-length/any-alignment class a fixed-width reporter cannot name.
_XS_TPL60 = " ".join(f"xs{i}" for i in range(60))
_XS_TPL50 = " ".join(f"xs{i}" for i in range(50))
_XS_W = 20

_XS_ORACLE = f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' {_XS_TPL60}'
                  WHEN doc_id % 11 = 0 THEN '{_XS_TPL50} ' || text
                  ELSE text END AS text
      FROM documents
    ),
    toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS t FROM corpus
    ),
    -- stride-1 {_XS_W}-token windows grouped by STRING equality: the
    -- engine-independent twin of the Spark side's xxhash64-over-slice
    -- (equality decides the flag set either way)
    spans AS MATERIALIZED (
      SELECT doc_id, CAST(i AS INTEGER) AS pos,
             array_to_string(list_slice(t, i, i + {_XS_W - 1}), ' ') AS s
      FROM toks,
           unnest(generate_series(1, greatest(len(t) - {_XS_W - 1}, 0)))
             AS u(i)
    ),
    flagged AS (SELECT s FROM spans GROUP BY s HAVING COUNT(*) >= 2),
    starts AS (SELECT doc_id, pos FROM spans JOIN flagged USING (s)),
    -- island merge: windows at a < b chain iff b <= a + w
    marks AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {_XS_W}
                  THEN 0 ELSE 1 END AS brk
      FROM starts
    ),
    grp AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM marks
    )
    SELECT doc_id, MIN(pos) AS start,
           CAST(MAX(pos) + {_XS_W - 1} AS INTEGER) AS end_pos,
           CAST(MAX(pos) + {_XS_W} - MIN(pos) AS INTEGER) AS n_tokens
    FROM grp GROUP BY doc_id, g
    ORDER BY doc_id, start
"""


@query(
    "llm_exact_substr",
    _XS_ORACLE,
    tags=("llm", "dedup", "exact-substr", "intervals"),
    bench=True,
    # NEW r13 (VERDICT r12 #3): arbitrary-length repeated-substring
    # dedup — ExactSubstr (Lee et al. 2022) — as maximal coverage
    # intervals.  The fixed-width machinery is EXACT for this (see the
    # repeated_intervals equivalence proof; pinned vs a brute-force
    # any-length reference in test_spandedup.py).  Rotated IN r14
    # (VERDICT r13 #1 lead candidate — first driver check).
    # Driver-green r14; parked r15: the span fan-out + count-over-window
    # kernel stays driver-checked via llm_span_flags (IN r15, same
    # spandedup module); batch==streaming parity and the cut paths are
    # pinned in test_spandedup.py; keeps its bench slot.
    driver_visible=False,
)
def llm_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-length repeated-substring intervals
    (operators/spandedup.repeated_intervals): every maximal run of
    token positions covered by a >= 20-token substring occurring >= 2
    times across the planted corpus — (doc_id, start, end_pos,
    n_tokens), the exact removal set of ExactSubstr at ANY repeat
    length and alignment.  The plant appends a 60-token template to
    every doc_id % 7 == 0 document and prepends its 50-token prefix to
    every doc_id % 11 == 0 one, so reported intervals span multiple
    lengths and both alignments; natural near-dup repeats in the
    underlying table surface too (the oracle reproduces them from the
    same string-equality flag set)."""
    from hedera_etl_spark.operators.spandedup import repeated_intervals

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" " + _XS_TPL60)),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit(_XS_TPL50 + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return repeated_intervals(planted, min_len=_XS_W).orderBy(
        "doc_id", "start"
    )
