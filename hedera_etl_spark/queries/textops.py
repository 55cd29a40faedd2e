"""Text dedup + text analysis registry entries (LLM training-data surface).

Every operator family from operators/textdedup.py and textanalysis.py gets a
``queries()`` entry with a full DuckDB oracle — possible because the
operators hash with md5 and divide exact integers, both engine-portable
(see functions/__init__.py and queries/_oracle.py).

Corpus construction for dedup entries mirrors the reference's
integration-test generator (every-k-th row duplicated,
TransactionsGenerator.java:70-81): exact clones for exact/simhash dedup,
one-token-appended mutants for the jaccard-threshold near-dup entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hedera_etl_spark.operators.textanalysis import (
    LANG_PROFILES,
    SCRUB_PATTERNS,
    WORD_PATTERN,
    char_fingerprints,
    chunk_documents,
    groupwise_minmax_norm,
    language_scores,
    quality_scores,
    scrub_text,
    token_stats,
)
from hedera_etl_spark.operators.textdedup import (
    exact_duplicates,
    minhash_lsh_neardups,
    ngram_jaccard_neardups,
    simhash_fingerprints,
    simhash_neardups,
)
from hedera_etl_spark.queries import query
from hedera_etl_spark.queries._oracle import (
    argmax_case,
    jaccard_select,
    lsh_bucket_cte,
    minhash_sig_cte,
    shingle_cte,
    simhash_fp_cte,
)
from hedera_etl_spark.tables import load_table

# Exact-clone corpus: every 7th doc re-ingested under a new id.
_DUP_DOCS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
"""

# Near-dup corpus: every 13th doc with one appended token (high-but-not-1.0
# jaccard against its original).
_NEARDUP_DOCS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || ' zzz' AS text
      FROM documents WHERE doc_id % 13 = 0
"""


def _explode_copies(docs: DataFrame, modulo: int, mutate) -> DataFrame:
    """Corpus + every ``modulo``-th doc re-ingested as ``mutate(row)`` —
    generated by exploding per-row copy structs so the source scans ONCE
    (the union-of-filtered form read the corpus twice)."""
    orig = F.struct(F.col("doc_id"), F.col("text"))
    copies = F.when(
        F.col("doc_id") % modulo == 0, F.array(orig, mutate())
    ).otherwise(F.array(orig))
    return docs.select(F.explode(copies).alias("d")).select("d.doc_id", "d.text")


def dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _explode_copies(
        docs, 7, lambda: F.struct((F.col("doc_id") + 1_000_000).alias("doc_id"), F.col("text"))
    )


def neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _explode_copies(
        docs,
        13,
        lambda: F.struct(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
        ),
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
@query(
    "llm_exact_dedup",
    f"""
    WITH corpus AS ({_DUP_DOCS_SQL})
    SELECT min(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM corpus GROUP BY md5(text)
    ORDER BY keep_id
    """,
    tags=("llm", "dedup"),
    bench=True,
    # parked r17 (window-green r14): the md5(text) min-id keeper groups stay
    # window-checked via llm_removal_ledger (IN), whose oracle rebuilds
    # every exact-dup keeper attribution; exact_duplicates stays pinned in
    # tests/test_textdedup.py.
    driver_visible=False,
)
def llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate collapse by content hash: one hash-aggregate on
    md5(text), the map-side-combining scale path for byte-identical dedup
    (operators/textdedup.py exact_duplicates)."""
    return exact_duplicates(dup_docs(spark, sf_dir)).orderBy("keep_id")


# ---------------------------------------------------------------------------
# removal provenance (the ledger as a hash-checked relation)
# ---------------------------------------------------------------------------
@query(
    "llm_removal_ledger",
    f"""
    WITH corpus AS ({_DUP_DOCS_SQL}),
    keep AS (
      SELECT md5(text) AS h, MIN(doc_id) AS keeper FROM corpus GROUP BY 1
    ),
    exact_drops AS (
      SELECT c.doc_id, 'exact_dedup' AS stage,
             'exact_duplicate' AS reason,
             CAST(k.keeper AS VARCHAR) AS ref_id
      FROM corpus c JOIN keep k ON md5(c.text) = k.h
      WHERE c.doc_id != k.keeper
    ),
    floor_drops AS (
      SELECT k.keeper AS doc_id, 'quality_floor' AS stage,
             'below_min_tokens' AS reason, CAST(NULL AS VARCHAR) AS ref_id
      FROM keep k JOIN corpus c ON c.doc_id = k.keeper
      WHERE len(string_split(c.text, ' ')) < 15
    )
    SELECT doc_id, stage, reason, ref_id FROM exact_drops
    UNION ALL SELECT doc_id, stage, reason, ref_id FROM floor_drops
    ORDER BY doc_id
    """,
    tags=("llm", "provenance", "ledger"),
    # rotated back IN r17 (parked r13-r16, window-green r12: the
    # parked-age limit of tools/ledger.py).
    # the ledger checkpoints every recorded boundary — plans with
    # checkpoints must opt out of the prepared-plan cache
    cache_plan=False,
)
def llm_removal_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal-provenance ledger as a relation
    (operators/provenance.py + llm_pipeline removal_ledger=...): run the
    pipeline over the clone-injected corpus with exact dedup + a
    15-token floor — both stages SQL-expressible, so the oracle rebuilds
    the full (doc_id, stage, reason, ref_id) ledger and the hash match
    certifies partition-exactly-once AND the keeper attribution values,
    not just row counts."""
    from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus
    from hedera_etl_spark.operators.provenance import RemovalLedger

    ledger = RemovalLedger()
    prepare_training_corpus(
        dup_docs(spark, sf_dir),
        near_threshold=None,
        min_tokens=15,
        removal_ledger=ledger,
    )
    return ledger.df().orderBy("doc_id")


# ---------------------------------------------------------------------------
# canonical-URL dedup (crawl-recrawl stage)
# ---------------------------------------------------------------------------
# deterministic synthetic URLs over the documents table, exercising every
# canonicalization rule: scheme/host case (doc_id%2 / %3), explicit :443
# (%5), trailing slash (%4), tracking param + shuffled order (%2),
# fragment (%7).  All variants of one (source, lang, doc_id%40) triple
# canonicalize to the same URL.  The SAME construction in both engines.
_URL_SQL_SPARK = """
      concat(
        CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END,
        CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END,
        '.example.com',
        CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,
        '/', lang, '/page-', CAST(doc_id % 40 AS STRING),
        CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
        CASE WHEN doc_id % 2 = 0
             THEN '?b=2&utm_source=feed&a=1' ELSE '?a=1&b=2' END,
        CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END
      )
"""
_URL_SQL_DUCK = _URL_SQL_SPARK.replace("AS STRING", "AS VARCHAR")

_URL_DEDUP_ORACLE = f"""
    WITH u AS (
      SELECT doc_id, {_URL_SQL_DUCK} AS url FROM documents
    ),
    s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM u),
    parts AS (
      SELECT doc_id,
             regexp_extract(u, '^([^?]*)', 1) AS base,
             regexp_extract(u, '\\?(.*)$', 1) AS query
      FROM s1
    ),
    auth AS (
      SELECT doc_id, base, query,
             regexp_extract(base, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1) AS a
      FROM parts
    ),
    canon AS (
      SELECT doc_id,
             concat(
               regexp_replace(lower(a), ':(80|443)$', ''),
               regexp_replace(substring(base, length(a) + 1), '/+$', ''),
               CASE WHEN p = '' THEN '' ELSE concat('?', p) END
             ) AS canonical_url
      FROM (
        SELECT doc_id, base, a,
               array_to_string(list_sort(list_filter(string_split(query, '&'),
                 p -> p != '' AND NOT starts_with(p, 'utm_')
                      AND NOT (p = 'fbclid' OR starts_with(p, 'fbclid='))
                      AND NOT (p = 'gclid' OR starts_with(p, 'gclid='))
                      AND NOT (p = 'msclkid' OR starts_with(p, 'msclkid=')))), '&') AS p
        FROM auth
      )
    ),
    keyed AS (
      -- rule 7 mirror (operators/urlnorm.py): NULL/empty URLs key by a
      -- per-doc NUL sentinel so they never merge (no-op on this
      -- synthetic corpus — every URL is present)
      SELECT doc_id,
             CASE WHEN canonical_url IS NULL OR canonical_url = ''
                  THEN chr(0) || 'doc:' || CAST(doc_id AS VARCHAR)
                  ELSE canonical_url END AS k
      FROM canon
    )
    SELECT CASE WHEN starts_with(k, chr(0) || 'doc:') THEN NULL ELSE k END
             AS canonical_url,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_dups
    FROM keyed GROUP BY k ORDER BY canonical_url
"""


@query(
    "llm_url_dedup",
    _URL_DEDUP_ORACLE,
    tags=("llm", "dedup", "url", "crawl"),
    # rotated back IN r14 (VERDICT r13 #1 — r10-stale cohort).
    bench=True,
    # Driver-green r14; parked r15: the keyed min-id keeper collapse is
    # llm_exact_dedup's exact shape, window-checked via
    # llm_removal_ledger's keeper attribution (IN r17); URL rules are
    # value-pinned in test_urlnorm.py; keeps its bench slot.
    driver_visible=False,
)
def llm_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup (operators/urlnorm.py): normalize syntactic
    crawl variants — case, default ports, tracking params, query order,
    fragments, trailing slashes — then keep the min-id doc per canonical
    URL.  Pure JVM string projection + ONE partial-aggregated exchange;
    the oracle mirrors the rule set step for step."""
    from hedera_etl_spark.operators.urlnorm import url_dedup_decisions

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_SQL_SPARK).alias("url")
    )
    return url_dedup_decisions(docs).orderBy("canonical_url")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------
_MINHASH_ORACLE = f"""
    WITH corpus AS ({_NEARDUP_DOCS_SQL}),
    {shingle_cte('corpus')},
    {minhash_sig_cte(k=9)},
    {lsh_bucket_cte(bands=3, rows=3, max_bucket=500)},
    {jaccard_select(0.5)}
"""


@query(
    "llm_minhash_neardup",
    _MINHASH_ORACLE,
    tags=("llm", "dedup", "minhash"),
    bench=True,
    cache_plan=False,
)
def llm_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline: shingle -> 9-member signature in one
    aggregate pass -> 3 banded buckets -> skew-capped candidate equi-join ->
    exact-Jaccard verify (never all-pairs; operators/textdedup.py).
    md5 signature mode — the cross-engine canon the DuckDB twin
    replicates; the production xxhash64 mode benches separately as
    llm_minhash_neardup_fast."""
    return minhash_lsh_neardups(
        neardup_docs(spark, sf_dir), n=3, k=9, bands=3, threshold=0.5, max_bucket=500
    )


@query(
    "llm_minhash_neardup_fast",
    None,  # xxhash64 has no DuckDB twin — rows-only check by design
    tags=("llm", "dedup", "minhash", "production-hash"),
    bench=True,
    cache_plan=False,
    # Bench-only twin of llm_minhash_neardup (VERDICT r8 #2): the
    # production xxhash64 signature mode.  Never takes a window slot;
    # correctness rides (a) the md5 entry's driver hash-match (all the
    # shared machinery downstream of the digest) and (b) the pair-set
    # equality pin of the two modes in tests/test_textdedup.py.
    driver_visible=False,
)
def llm_minhash_neardup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact llm_minhash_neardup pipeline with the production
    xxhash64 signature digest (operators/textdedup._km_base): one native
    JVM hash per shingle instead of two interpreted hex-digest parses —
    the residual that pushed the md5 entry past 2x DuckDB in r8."""
    return minhash_lsh_neardups(
        neardup_docs(spark, sf_dir), n=3, k=9, bands=3, threshold=0.5,
        max_bucket=500, hash_fn="xxhash64",
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard with rare-shingle blocking
# ---------------------------------------------------------------------------
_NGRAM_ORACLE = f"""
    WITH corpus AS ({_NEARDUP_DOCS_SQL}),
    {shingle_cte('corpus')},
    -- prefix filtering (textdedup.ngram_jaccard_neardups): blocking keys
    -- are each doc's first (sz - floor(0.8*sz) + 1) surviving shingles in
    -- rarest-first global order; 2 <= df <= 20 applies before ranking
    szs AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    dfc AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
            HAVING COUNT(*) BETWEEN 2 AND 20),
    ranked AS (
      SELECT sh.doc_id, sh.shingle, s.sz,
             ROW_NUMBER() OVER (PARTITION BY sh.doc_id
                                ORDER BY d.df, sh.shingle) AS rn
      FROM sh JOIN dfc d USING (shingle) JOIN szs s USING (doc_id)
    ),
    pre AS (SELECT doc_id, shingle, sz FROM ranked
            WHERE rn <= sz - floor(0.8 * sz) + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pre a JOIN pre b USING (shingle)
      WHERE a.doc_id < b.doc_id
        AND CAST(LEAST(a.sz, b.sz) AS DOUBLE)
            >= 0.8 * CAST(GREATEST(a.sz, b.sz) AS DOUBLE)
    ),
    {jaccard_select(0.8)}
"""


@query(
    "llm_ngram_jaccard",
    _NGRAM_ORACLE,
    tags=("llm", "dedup", "jaccard"),
    cache_plan=False,
    # parked r17 (window-green r14): the prefix-filtered exact-Jaccard pairs
    # stay window-checked via llm_dup_clusters (IN), which closes
    # ngram_jaccard_neardups pairs, and shingle-set Jaccard via
    # llm_fuzzy_decontam (IN).
    driver_visible=False,
)
def llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dups blocked on rare shingles
    (document-frequency-capped prefix filtering — boilerplate shingles
    generate zero candidate pairs)."""
    return ngram_jaccard_neardups(neardup_docs(spark, sf_dir), n=3, max_df=20, threshold=0.8)


# containment fixture: every 17th doc re-ingested as itself + its own
# token-reversed text appended — the original's shingles are ALL inside
# the copy (containment 1.0) while the reversed half contributes mostly
# new shingles (jaccard ~0.5, below any dedup threshold).  The quote/
# wrapper duplication class only containment catches.
_CONTAIN_DOCS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id,
             text || ' ' ||
             array_to_string(list_reverse(string_split(text, ' ')), ' ')
               AS text
      FROM documents WHERE doc_id % 17 = 0
"""


def contain_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _explode_copies(
        docs,
        17,
        lambda: F.struct(
            (F.col("doc_id") + 3_000_000).alias("doc_id"),
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.array_join(F.reverse(F.split("text", " ")), " "),
            ).alias("text"),
        ),
    )


_CONTAIN_ORACLE = f"""
    WITH corpus AS ({_CONTAIN_DOCS_SQL}),
    {shingle_cte('corpus')},
    szs AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    dfc AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
            HAVING COUNT(*) BETWEEN 2 AND 20),
    ranked AS (
      SELECT sh.doc_id, sh.shingle, s.sz,
             ROW_NUMBER() OVER (PARTITION BY sh.doc_id
                                ORDER BY d.df, sh.shingle) AS rn
      FROM sh JOIN dfc d USING (shingle) JOIN szs s USING (doc_id)
    ),
    pre AS (SELECT doc_id, shingle FROM ranked
            WHERE rn <= sz - floor(0.9 * sz) + 1),
    -- the prefix condition binds the SMALLER member only, so candidates
    -- join prefixes against EVERY df-filtered row (no length filter)
    cand AS (
      SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
                      GREATEST(a.doc_id, b.doc_id) AS doc_b
      FROM pre a JOIN ranked b USING (shingle)
      WHERE a.doc_id != b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.inter, na.n AS n_a, nb.n AS n_b,
           CAST(CAST(i.inter / LEAST(na.n, nb.n) AS DECIMAL(9,6)) AS DOUBLE)
             AS containment
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE CAST(i.inter / LEAST(na.n, nb.n) AS DECIMAL(9,6)) >= 0.9
    ORDER BY doc_a, doc_b
"""


@query(
    "llm_containment_pairs",
    _CONTAIN_ORACLE,
    tags=("llm", "dedup", "containment"),
    # NEW r12, rotated INTO the window later the same round (zero
    # never-driver-checked debt into r13); sim_cosine_neardup parks in
    # exchange.  Hash-checks the CONTAINMENT relation — the
    # asymmetric-size duplication class Jaccard cannot express.
    cache_plan=False,
    # parked r17 (green r16): pair detection via
    # llm_similarity_histogram (IN, exact-Jaccard pairs) +
    # llm_dup_clusters (IN).
    driver_visible=False,
)
def llm_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dups (operators/textdedup.containment_neardups):
    pairs with |A∩B|/min(|A|,|B|) >= 0.9 over a corpus where every 17th
    doc is re-ingested wrapped in extra content — containment 1.0,
    jaccard ~0.5 (the quote/wrapper class).  Prefix blocking binds the
    smaller member; no length filter; exact set-intersection verify."""
    from hedera_etl_spark.operators.textdedup import containment_neardups

    return containment_neardups(
        contain_docs(spark, sf_dir), n=3, max_df=20, threshold=0.9
    )


_SIM_HIST_ORACLE = f"""
    WITH corpus AS ({_NEARDUP_DOCS_SQL}),
    {shingle_cte('corpus')},
    szs AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    dfc AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
            HAVING COUNT(*) BETWEEN 2 AND 20),
    ranked AS (
      SELECT sh.doc_id, sh.shingle, s.sz,
             ROW_NUMBER() OVER (PARTITION BY sh.doc_id
                                ORDER BY d.df, sh.shingle) AS rn
      FROM sh JOIN dfc d USING (shingle) JOIN szs s USING (doc_id)
    ),
    pre AS (SELECT doc_id, shingle, sz FROM ranked
            WHERE rn <= sz - floor(0.5 * sz) + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pre a JOIN pre b USING (shingle)
      WHERE a.doc_id < b.doc_id
        AND CAST(LEAST(a.sz, b.sz) AS DOUBLE)
            >= 0.5 * CAST(GREATEST(a.sz, b.sz) AS DOUBLE)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    j AS (
      SELECT CAST(i.inter / (na.n + nb.n - i.inter) AS DECIMAL(9,6)) AS jac
      FROM inter i
      JOIN sizes na ON na.doc_id = i.doc_a
      JOIN sizes nb ON nb.doc_id = i.doc_b
      WHERE CAST(i.inter / (na.n + nb.n - i.inter) AS DECIMAL(9,6)) >= 0.5
    )
    SELECT CAST(floor(jac * 10) AS BIGINT) AS bin,
           CAST(CAST(floor(jac * 10) AS BIGINT) AS DOUBLE) / 10.0 AS sim_lo,
           COUNT(*) AS n_pairs
    FROM j GROUP BY 1, 2 ORDER BY bin
"""


@query(
    "llm_similarity_histogram",
    _SIM_HIST_ORACLE,
    tags=("llm", "dedup", "jaccard", "report"),
    # back IN r17 (green r13, parked r14-r16).
    cache_plan=False,
)
def llm_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold-sweep report (operators/textdedup.py
    similarity_histogram): exact-Jaccard pair counts per similarity
    decile for every pair at >= 0.5 — prefix-filtered blocking at the
    floor (recall-complete above it), one dimension-sized aggregate on
    top, 10 output rows at any corpus size.  The jaccard bins multiply
    the DECIMAL(9,6) canon exactly, so bin edges agree across engines."""
    from hedera_etl_spark.operators.textdedup import similarity_histogram

    return similarity_histogram(
        neardup_docs(spark, sf_dir), n=3, max_df=20, floor=0.5
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
@query(
    "llm_simhash_fp",
    f"""
    WITH {simhash_fp_cte('documents')}
    SELECT doc_id, fp_hi, fp_lo FROM fp ORDER BY doc_id
    """,
    tags=("llm", "dedup", "simhash"),
    bench=True,
    # rotated back IN r13 (VERDICT r12 #4 — the ledger's stalest row,
    # r5); parked r15 (driver-green r13+r14, slot ceded to the NEW
    # llm_quality_classifier): the signature kernel is the literal
    # first stage of in-window llm_simhash_neardup, so the fingerprint
    # relation stays transitively driver-checked every round.
    driver_visible=False,
)
def llm_simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints as two 32-bit halves: one explode + one
    (doc, token) count aggregate + one 64-column sign-sum aggregate — the
    whole fingerprint is two scans regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_fingerprints(docs).orderBy("doc_id")


_SIMHASH_PAIR_ORACLE = f"""
    WITH corpus AS ({_DUP_DOCS_SQL}),
    {simhash_fp_cte('corpus')},
    buckets AS (
      SELECT doc_id, fp_hi, fp_lo, 0 AS band, (fp_lo >> 0)  & 65535 AS bv FROM fp
      UNION ALL
      SELECT doc_id, fp_hi, fp_lo, 1 AS band, (fp_lo >> 16) & 65535 AS bv FROM fp
      UNION ALL
      SELECT doc_id, fp_hi, fp_lo, 2 AS band, (fp_hi >> 0)  & 65535 AS bv FROM fp
      UNION ALL
      SELECT doc_id, fp_hi, fp_lo, 3 AS band, (fp_hi >> 16) & 65535 AS bv FROM fp
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.fp_hi AS hi_a, a.fp_lo AS lo_a,
                      b.fp_hi AS hi_b, b.fp_lo AS lo_b
      FROM buckets a JOIN buckets b USING (band, bv)
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS BIGINT) AS hamming
    FROM pairs
    WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3
    ORDER BY doc_a, doc_b
"""


@query(
    "llm_simhash_neardup",
    _SIMHASH_PAIR_ORACLE,
    tags=("llm", "dedup", "simhash"),
    bench=True,
)
def llm_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with 16-bit banded blocking (pigeonhole: a
    hamming<=3 pair agrees on one of 4 disjoint bands), hamming distance via
    bit_count(xor) on each half."""
    pairs = simhash_neardups(dup_docs(spark, sf_dir), n_bands=4, max_hamming=3)
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


# ---------------------------------------------------------------------------
# token stats / language id / quality / fingerprints
# ---------------------------------------------------------------------------
@query(
    "llm_text_stats",
    f"""
    WITH ts AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
             CAST(len(regexp_extract_all(text, '{WORD_PATTERN}')) AS BIGINT) AS n_re_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    ),
    qbase AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS stop_hits
      FROM documents
    )
    , fp AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(length(text) - 4, 1)),
                            i -> substring(text, i, 5)) AS grams
      FROM documents
    ),
    repb AS (
      SELECT doc_id,
             CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
             CAST(len(list_distinct(string_split(text, chr(10)))) AS BIGINT) AS dl,
             string_split(text, ' ') AS t,
             CAST(length(text) AS BIGINT) AS nchars
      FROM documents
    ),
    rep AS (
      SELECT doc_id, n_lines,
             CAST(CAST((n_lines - dl) / n_lines AS DECIMAL(9,6)) AS DOUBLE)
               AS dup_line_frac,
             CAST(CAST(list_max(list_transform(list_distinct(t),
                                 x -> len(list_filter(t, y -> y = x)))) / len(t)
                  AS DECIMAL(9,6)) AS DOUBLE) AS top_token_frac,
             CAST(CAST(coalesce(list_max(list_transform(list_distinct(
                         CASE WHEN len(t) < 2 THEN []::VARCHAR[]
                              ELSE list_transform(generate_series(1, len(t) - 1),
                                                  i -> t[i] || ' ' || t[i+1]) END),
                         x -> len(list_filter(
                                CASE WHEN len(t) < 2 THEN []::VARCHAR[]
                                     ELSE list_transform(generate_series(1, len(t) - 1),
                                                         i -> t[i] || ' ' || t[i+1]) END,
                                y -> y = x)) * length(x))), 0) / nchars
                  AS DECIMAL(9,6)) AS DOUBLE) AS top_bigram_char_frac
      FROM repb
    )
    SELECT ts.doc_id, ts.n_ws_tokens, ts.n_re_tokens, ts.n_distinct_tokens, ts.n_chars,
           CAST(CAST(q.n_distinct / q.n_tokens AS DECIMAL(9,6)) AS DOUBLE) AS ttr,
           CAST(CAST((ts.n_chars - (q.n_tokens - 1)) / q.n_tokens AS DECIMAL(9,6)) AS DOUBLE)
             AS avg_token_len,
           CAST(CAST(q.stop_hits / q.n_tokens AS DECIMAL(9,6)) AS DOUBLE) AS stopword_ratio,
           CAST(CAST((q.n_distinct * 100 + q.stop_hits * 10) / q.n_tokens AS DECIMAL(12,6))
                AS DOUBLE) AS quality_score,
           substring(list_min(list_transform(fp.grams, x -> md5(x))), 1, 16) AS fingerprint,
           -- NULL-text rail mirrors Spark's array_distinct keeping the
           -- NULL gram (see llm_char_fingerprint_scalable oracle, r14)
           CAST(CASE WHEN ts.n_chars IS NULL THEN 1
                     ELSE len(list_distinct(fp.grams)) END AS BIGINT) AS n_grams,
           rep.n_lines, rep.dup_line_frac, rep.top_token_frac, rep.top_bigram_char_frac
    FROM ts JOIN qbase q USING (doc_id) JOIN fp USING (doc_id) JOIN rep USING (doc_id)
    ORDER BY doc_id
    """,
    tags=("llm", "textstats", "quality", "fingerprint"),
    bench=True,
    # parked r17 (green r16): per-row text features via
    # llm_token_entropy + llm_gopher_flags (IN).
    driver_visible=False,
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text profile: token counting (whitespace tokens, BPE-ish
    regex tokens, distinct tokens, char length), heuristic quality
    features (type-token ratio, mean token length, stopword ratio,
    combined score), the winnowing-style min-md5 5-gram document
    fingerprint (the former llm_char_fingerprint entry, folded in by the
    r6 registry consolidation), and the Gopher-style repetition signals
    (duplicate-line fraction, top-token fraction, top-2-gram character
    coverage) — the repetition columns use the explode+aggregate form
    (repetition_scores_scalable): the per-row twin's distinct-times-
    occurrences lambdas evaluate INTERPRETED and measured 5.7 s at sf0.1
    where the codegen'd hash aggregate runs in ~0.4 s; the twins are
    bit-equal (test-pinned) so the entry hash is unchanged either way."""
    # r15 optimization round: the four-operator composition
    # (token_stats ⋈ quality_scores ⋈ char_fingerprints ⋈
    # repetition_scores_scalable) paid SIX parquet scans and three
    # broadcast joins for what is almost entirely per-row arithmetic;
    # text_stats_bundle fuses everything but the repetition mode
    # aggregate into one projection — two scans, one join, identical
    # columns (equality pinned in tests/test_repetition.py).
    from hedera_etl_spark.operators.textanalysis import text_stats_bundle

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text_stats_bundle(docs, gram=5).orderBy("doc_id")


# ---------------------------------------------------------------------------
# the fingerprint's scale twin (r14): the sf10 ladder decade flagged the
# per-row HOF fingerprint at ~14x/decade (md5-CPU + interpreted-lambda
# churn); the explode+aggregate form is sublinear (3.3x/decade) with its
# measured crossover at the sf10 rung.  Unlike the xxhash64 production
# twins this one computes the SAME md5 canon, so it gets a full
# hash-checked oracle, not a rows-only check.
# ---------------------------------------------------------------------------
_FP_SCALABLE_ORACLE = """
    WITH fp AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(length(text) - 4, 1)),
                            i -> substring(text, i, 5)) AS grams
      FROM documents
    )
    SELECT fp.doc_id,
           substring(list_min(list_transform(fp.grams, x -> md5(x))), 1, 16) AS fingerprint,
           -- NULL-text rail (r14 review): Spark's array_distinct /
           -- groupBy keep the single NULL gram (n_grams=1) while
           -- DuckDB's list_distinct drops NULLs (0) — mirror Spark
           CAST(CASE WHEN d.text IS NULL THEN 1
                     ELSE len(list_distinct(fp.grams)) END AS BIGINT) AS n_grams
    FROM fp JOIN documents d USING (doc_id) ORDER BY doc_id
"""


@query(
    "llm_char_fingerprint_scalable",
    _FP_SCALABLE_ORACLE,
    tags=("llm", "fingerprint", "scale-path"),
    # parked r17 (green r16): shingle-hash fingerprints via
    # llm_winnow_fp (IN); explode + two-level aggregate via
    # q14_explode_tokens (IN).
    driver_visible=False,
)
def llm_char_fingerprint_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style min-md5 5-gram document fingerprint, explode +
    two-level-aggregate form (operators/textanalysis.
    char_fingerprints_scalable) — the 100 TB path past the measured
    sf10 crossover: md5 inside whole-stage codegen, duplicate grams
    collapse map-side, no per-row gram/md5 arrays."""
    from hedera_etl_spark.operators.textanalysis import (
        char_fingerprints_scalable,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return char_fingerprints_scalable(docs).orderBy("doc_id")


_LANGS = sorted(LANG_PROFILES)


def _hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
    return (
        f"CAST(len(list_filter(string_split(text, ' '), x -> x IN ({words}))) AS BIGINT)"
        f" AS hits_{lang}"
    )


_LANG_ORACLE = f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {", ".join(_hits_sql(lang) for lang in _LANGS)}
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             {", ".join(f"CAST(CAST(hits_{lang} / n_tokens AS DECIMAL(9,6)) AS DOUBLE) AS score_{lang}" for lang in _LANGS)}
      FROM base
    )
    SELECT doc_id, {", ".join(f"score_{lang}" for lang in _LANGS)},
           {argmax_case(_LANGS)} AS predicted_lang
    FROM scored ORDER BY doc_id
"""


@query(
    "llm_language_id",
    _LANG_ORACLE,
    tags=("llm", "langid"),
    # parked r17 (green r16): per-row rule scoring over token
    # ratios via llm_gopher_flags + llm_token_entropy (IN).
    driver_visible=False,
)
def llm_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via per-language stopword-ratio scores + deterministic
    earliest-index argmax (CASE chain runs identically in the oracle)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return language_scores(docs).orderBy("doc_id")


@query(
    "llm_groupwise_norm",
    """
    SELECT doc_id, lang, n_chars AS value,
           CASE WHEN MAX(n_chars) OVER w = MIN(n_chars) OVER w THEN 0
                ELSE ((n_chars - MIN(n_chars) OVER w) * 1000000)
                     // (MAX(n_chars) OVER w - MIN(n_chars) OVER w)
           END AS norm_ppm
    FROM documents
    WINDOW w AS (PARTITION BY lang)
    ORDER BY doc_id
    """,
    tags=("llm", "pandas-udf", "grouped-map"),
    # rotated back IN r17 (parked r13-r16, window-green r12: the
    # parked-age limit of tools/ledger.py).
)
def llm_groupwise_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-language min-max normalization in
    parts-per-million (pure integer arithmetic — engine-exact).  The SQL
    twin is the window form; the Pandas form is the shape for per-group
    logic that genuinely needs imperative code."""
    docs = load_table(spark, sf_dir, "documents")
    return groupwise_minmax_norm(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# chunking + PII scrub (promoted to oracle-checked entries in r5; previously
# pytest-only)
# ---------------------------------------------------------------------------
_CHUNK, _OVERLAP = 128, 16
_STEP = _CHUNK - _OVERLAP

_CHUNK_ORACLE = """
    WITH toked AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    n AS (
      SELECT doc_id, toks,
             CAST(greatest(ceil(greatest(len(toks) - {overlap}, 1) / {step}.0), 1)
                  AS BIGINT) AS n_chunks
      FROM toked
    ),
    e AS (
      SELECT doc_id, toks, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
      FROM n
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           array_to_string(
             list_slice(toks, chunk_idx*{step} + 1, chunk_idx*{step} + {chunk}), ' ')
             AS chunk_text,
           CAST(len(list_slice(toks, chunk_idx*{step} + 1, chunk_idx*{step} + {chunk}))
                AS BIGINT) AS n_tokens
    FROM e
    ORDER BY doc_id, chunk_idx
""".format(chunk=_CHUNK, overlap=_OVERLAP, step=_STEP)


@query(
    "llm_chunking",
    _CHUNK_ORACLE,
    tags=("llm", "chunking"),
    bench=True,
)
def llm_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (128-token chunks, 16 overlap):
    tokenize once, slice windows, explode — zero-shuffle map-side fan-out
    (operators/textanalysis.py chunk_documents)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, chunk_tokens=_CHUNK, overlap=_OVERLAP).orderBy(
        "doc_id", "chunk_idx"
    )


def _scrub_oracle() -> str:
    email, phone, num = (p for _, p, _ in SCRUB_PATTERNS)
    return f"""
    WITH s1 AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{email}')) AS BIGINT) AS n_email,
             regexp_replace(text, '{email}', '<EMAIL>', 'g') AS t1
      FROM documents
    ),
    s2 AS (
      SELECT doc_id, n_email,
             CAST(len(regexp_extract_all(t1, '{phone}')) AS BIGINT) AS n_phone,
             regexp_replace(t1, '{phone}', '<PHONE>', 'g') AS t2
      FROM s1
    ),
    s3 AS (
      SELECT doc_id, n_email, n_phone,
             CAST(len(regexp_extract_all(t2, '{num}')) AS BIGINT) AS n_long_number,
             regexp_replace(t2, '{num}', '<NUM>', 'g') AS scrubbed_text
      FROM s2
    )
    SELECT doc_id, scrubbed_text, n_email, n_phone, n_long_number
    FROM s3 ORDER BY doc_id
    """


@query(
    "llm_pii_scrub",
    _scrub_oracle(),
    tags=("llm", "pii", "scrub"),
    # Driver-green r14; parked r15: the regexp battery stays driver-checked
    # via q13_scalar_functions (IN r15, same regexp_replace/regexp_extract
    # surface) and the chunk fan-out via llm_chunking (IN); scrub rules
    # value-pinned in the pii tests.
    driver_visible=False,
)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-shaped span redaction (email/phone/long-number) via chained
    regexp_replace with per-class hit counts computed against the
    progressively scrubbed text — one JVM projection, no shuffle
    (operators/textanalysis.py scrub_text).  The oracle chains the same
    three classes in the same order, proving the count-after-replace
    semantics cross-engine."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return scrub_text(docs).orderBy("doc_id")


# the winnowing fingerprint (former llm_char_fingerprint entry) is
# driver-verified inside llm_text_stats since the r6 registry
# consolidation; operators/textanalysis.char_fingerprints remains the
# implementation and keeps its unit tests.


# ---------------------------------------------------------------------------
# benchmark decontamination (training/eval n-gram overlap)
# ---------------------------------------------------------------------------
_DECONTAM_N = 5  # word n-gram width for the registry entry (API default: 13)

_DECONTAM_ORACLE = f"""
    WITH {shingle_cte('documents', n=_DECONTAM_N)},
    -- eval set: every 41st document plays the leaked benchmark item
    esh AS (
      SELECT DISTINCT
             unnest(list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - {_DECONTAM_N - 1}, 0)),
               i -> array_to_string(string_split(text, ' ')[i:i+{_DECONTAM_N - 1}], ' ')))
               AS shingle
      FROM documents WHERE doc_id % 41 = 0
    ),
    prof AS (
      SELECT doc_id,
             COUNT(*) AS n_grams,
             CAST(SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits
      FROM sh LEFT JOIN esh e USING (shingle)
      GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_hits,
           CAST(CAST(n_hits / n_grams AS DECIMAL(9,6)) AS DOUBLE) AS contamination
    FROM prof WHERE n_hits >= 1
    ORDER BY doc_id
"""


@query(
    "llm_decontaminate",
    _DECONTAM_ORACLE,
    tags=("llm", "decontamination"),
    # parked r17 (window-green r14): word-5-gram shingling + the broadcast
    # eval-dimension probe stay window-checked via llm_fuzzy_decontam (IN);
    # exact-overlap drops stay pinned in tests/test_decontam.py.
    driver_visible=False,
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination probe (operators/decontam.py): flag
    training documents sharing any word 5-gram with the evaluation set
    (here: every 41st document, simulating a leaked benchmark).  The eval
    n-gram set is a broadcast dimension, the corpus side is scanned once,
    and the only shuffle is the per-doc profile aggregate — the GPT-3
    appendix-C style exact-overlap sweep in a 100 TB-safe shape."""
    from hedera_etl_spark.operators.decontam import contamination_profile

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_docs = docs.filter(F.col("doc_id") % 41 == 0)
    return (
        contamination_profile(docs, eval_docs, n=_DECONTAM_N)
        .filter(F.col("n_hits") >= 1)
        .orderBy("doc_id")
    )


_BLOOM_DECON_ORACLE = f"""
    WITH {shingle_cte('documents', n=_DECONTAM_N)},
    esh AS (
      SELECT DISTINCT
             unnest(list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - {_DECONTAM_N - 1}, 0)),
               i -> array_to_string(string_split(text, ' ')[i:i+{_DECONTAM_N - 1}], ' ')))
               AS shingle
      FROM documents WHERE doc_id % 41 = 0
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM sh JOIN esh USING (shingle)
    GROUP BY doc_id
    HAVING COUNT(*) >= 1
    ORDER BY doc_id
"""


@query(
    "llm_bloom_decontam",
    _BLOOM_DECON_ORACLE,
    tags=("llm", "decontamination", "bloom", "scale-path"),
    # back IN r17 (green r13, parked r14-r16).
    # the reference shingle dimension carries a localCheckpoint (two
    # consumers: bloom build + exact verify) — cache opt-out as usual
    cache_plan=False,
)
def llm_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (operators/decontam.py
    bloom_contaminated_ids): the giant-reference scale path — the
    reference n-grams fold into a FIXED-SIZE bit table (broadcast at
    any reference size), the corpus probes it with k broadcast joins
    map-side, and only the surviving candidate slice meets the
    reference in the exact shuffled verify.  The oracle is the plain
    exact-overlap semantics: matching it certifies the one-sided Bloom
    errors are all removed."""
    from hedera_etl_spark.operators.decontam import bloom_contaminated_ids

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 41 == 0)
    return bloom_contaminated_ids(
        docs, ref, n=_DECONTAM_N, m_bits=1 << 14, k=4
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# deterministic sampling (training-data mixture control)
# ---------------------------------------------------------------------------
@query(
    "llm_stratified_sample",
    """
    WITH b AS (
      SELECT doc_id, lang,
             ('0x' || substring(md5(concat_ws(chr(31), 'r5',
                                              CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT
               / 4294967296.0 AS bucket
      FROM documents
    )
    SELECT doc_id, lang FROM b
    WHERE bucket < CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 1.0 ELSE 0.5 END
    ORDER BY doc_id
    """,
    tags=("llm", "sampling"),
    # parked r17 (window-green r14): the md5-bucket Bernoulli keep rule
    # stays window-checked via llm_temperature_mixture (IN, per-group rates)
    # and llm_train_val_test_split (IN); determinism stays pinned in
    # tests/test_sampling.py.
    driver_visible=False,
)
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling (operators/sampling.py): the
    training-data mixture knob — keep 100% of 'de', 25% of 'en', 50% of
    everything else, decided by an md5 bucket of the row key so the exact
    sample reproduces under retries, re-runs, and in the oracle engine
    (rand()-based sampling reproduces in none of them)."""
    from hedera_etl_spark.operators.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_hash_sample(
        docs,
        "lang",
        {"en": 0.25, "de": 1.0},
        key_cols=["doc_id"],
        default_rate=0.5,
        salt="r5",
    ).orderBy("doc_id")


@query(
    "llm_temperature_mixture",
    """
    WITH dims AS (
      SELECT lang, CAST(COUNT(*) AS DOUBLE) AS c
      FROM documents WHERE lang IS NOT NULL GROUP BY lang
    ),
    w AS (
      SELECT lang, c, sqrt(c) AS wgt, SUM(sqrt(c)) OVER () AS wsum
      FROM dims
    ),
    r AS (
      SELECT lang,
             CAST(CAST(least(1.0, (wgt / wsum)
                                  * (MIN(c * wsum / wgt) OVER ()) / c)
                       AS DECIMAL(9,6)) AS DOUBLE) AS rate
      FROM w
    )
    SELECT d.doc_id, d.lang, r.rate
    FROM documents d JOIN r USING (lang)
    WHERE ('0x' || substring(md5(concat_ws(chr(31), 'tmix',
                                           CAST(d.doc_id AS VARCHAR))), 1, 8))::BIGINT
            / 4294967296.0 < r.rate
    ORDER BY d.doc_id
    """,
    tags=("llm", "sampling", "mixture", "temperature"),
    # rotated back IN r17 (parked r13-r16, window-green r12: the
    # parked-age limit of tools/ledger.py).
)
def llm_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed mixture resampling (operators/sampling.py
    temperature_mixture_sample): target share of domain d ∝ c_d^alpha —
    the multilingual-LM exponential-smoothing knob (alpha=1 natural,
    alpha→0 uniform) — solved ENTIRELY in the plan: one domain-sized
    aggregate, normalizing-sum and binding-domain-min as windows over
    that dimension, broadcast join back, md5-bucket Bernoulli filter.
    alpha=0.5 here: the smoothing is then sqrt, IEEE-exact in both
    engines (pow's last ulp is libm-specific), and the rate rounds
    through DECIMAL(9,6) on both sides — the repo's float hash canon."""
    from hedera_etl_spark.operators.sampling import temperature_mixture_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_mixture_sample(
        docs, "lang", key_cols=["doc_id"], alpha=0.5, salt="tmix"
    ).select("doc_id", "lang", "rate").orderBy("doc_id")


@query(
    "llm_weighted_sample",
    """
    WITH b AS (
      SELECT doc_id, n_chars,
             ('0x' || substring(md5(concat_ws(chr(31), 'r8w',
                                              CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT
               / 4294967296.0 AS bucket
      FROM documents
    )
    SELECT doc_id, n_chars FROM b
    WHERE bucket < least(greatest(CAST(n_chars AS DOUBLE) / 256.0, 0.0), 1.0)
    ORDER BY doc_id
    """,
    tags=("llm", "sampling"),
    # rotated back IN r13 (VERDICT r12 #1 — r9-stale cohort).
    # parked r17 (window-green r14): the md5-bucket keep rule stays
    # window-checked via llm_temperature_mixture + llm_train_val_test_split
    # (IN); weight monotonicity stays pinned in tests/test_sampling.py.
    driver_visible=False,
)
def llm_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row importance sampling (operators/sampling.py
    weighted_hash_sample): keep each document with probability equal to
    its own quality/relevance weight (here length-derived:
    min(n_chars/256, 1)) — the DSIR-style resampling knob.  The decision
    is the md5 bucket of the doc id, so the realized sample reproduces
    under retries, re-runs, and in the oracle engine, and raising a
    row's weight can only add it, never drop it.  Zero shuffles."""
    from hedera_etl_spark.operators.sampling import weighted_hash_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_hash_sample(
        docs, ["doc_id"], F.col("n_chars") / 256.0, salt="r8w"
    ).orderBy("doc_id")


@query(
    "llm_grouped_sample",
    """
    WITH b AS (
      SELECT doc_id, lang,
             ('0x' || substring(md5(concat_ws(chr(31), 'r8g',
                                              CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT
               / 4294967296.0 AS bucket
      FROM documents
    )
    SELECT doc_id, lang, sample_rank FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY bucket, doc_id) AS sample_rank
      FROM b
    )
    WHERE sample_rank <= 20
    ORDER BY lang, sample_rank
    """,
    tags=("llm", "sampling", "topk"),
    # rotated back IN r15 (VERDICT r14 #1 — r11-stale cohort).
)
def llm_grouped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-group uniform sample (operators/sampling.py
    grouped_hash_sample): 20 documents per language, drawn by smallest
    md5 bucket — deterministic reservoir semantics (eval-set carving,
    per-domain spot-check exports).  The oracle's single window is the
    semantics; the executed plan is grouped_topk's two-phase
    local-then-global top-k, because languages are low-cardinality at
    corpus scale and a one-window form would sort whole languages on
    single reducers."""
    from hedera_etl_spark.operators.sampling import grouped_hash_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return grouped_hash_sample(
        docs, ["lang"], k=20, key_cols=["doc_id"], salt="r8g"
    ).select("doc_id", "lang", "sample_rank").orderBy("lang", "sample_rank")


# ---------------------------------------------------------------------------
# n-gram LM perplexity scoring (operators/lmscore.py) — the CCNet-style
# quality signal: train an add-0.5 bigram LM on the corpus, score every
# document's mean ln-probability.  Float canon per the module docstring:
# the smoothed probability is one correctly-rounded division of exact
# operands; ln is the single library-dependent call and each bigram's
# ln(p) rounds to DECIMAL(12,6) BEFORE the per-doc sum (order-free
# exact aggregate; a cross-engine rounding flip is a ~4e-9-per-term
# event).
# ---------------------------------------------------------------------------
_LM_ORACLE = """
    WITH bg AS MATERIALIZED (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           unnest(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
    ),
    c2 AS MATERIALIZED (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2
    ),
    c1 AS MATERIALIZED (
      SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg GROUP BY 1
    ),
    v AS (
      SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
      FROM (SELECT w2 AS w FROM bg UNION ALL SELECT w1 AS w FROM bg)
    ),
    scored AS (
      SELECT bg.doc_id,
             CAST(ln((CAST(c2.c2 AS DOUBLE) + 0.5)
                     / (CAST(c1.c1 AS DOUBLE) + 0.5 * CAST(v.v AS DOUBLE)))
                  AS DECIMAL(12,6)) AS lp
      FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(CAST(SUM(lp) AS DECIMAL(38,6)) AS DOUBLE) AS sum_logp,
           CAST(CAST(SUM(lp) AS DECIMAL(38,6)) AS DOUBLE) / COUNT(*)
             AS avg_logp
    FROM scored GROUP BY doc_id ORDER BY doc_id
"""


@query(
    "llm_lm_perplexity",
    _LM_ORACLE,
    tags=("llm", "quality", "lm", "perplexity"),
    # rotated back IN r17 (parked r13-r16, window-green r12: the
    # parked-age limit of tools/ledger.py).
)
def llm_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring (operators/lmscore.py): train on the
    corpus (two vocabulary-sized aggregates), score every document's
    mean ln-probability via one bigram explode + broadcastable model
    joins + one per-doc aggregate — (doc_id, n_bigrams, sum_logp,
    avg_logp); perplexity is exp(-avg_logp), monotone, thresholds apply
    in log space."""
    from hedera_etl_spark.operators.lmscore import bigram_lm, lm_scores

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return lm_scores(docs, bigram_lm(docs)).orderBy("doc_id")


# ---------------------------------------------------------------------------
# FUZZY benchmark decontamination (operators/decontam.fuzzy_contamination
# _pairs): near-duplicate eval-set scrubbing — catches paraphrased /
# reformatted eval items that exact n-gram overlap (llm_decontaminate)
# misses.  The synthetic eval set is every 37th document with two tokens
# PREPENDED, so no document matches an eval item exactly but the shingle
# Jaccard sits at s/(s+2): documents long enough clear the 0.8 threshold,
# short ones straddle it — the boundary the DECIMAL(9,6)-rounded compare
# must agree on across engines.
# ---------------------------------------------------------------------------
_FUZZY_N = 5
_FUZZY_T = 0.8

_FUZZY_DECON_ORACLE = f"""
    WITH {shingle_cte('documents', n=_FUZZY_N)},
    sza AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz_a FROM sh GROUP BY doc_id),
    etoks AS (
      SELECT doc_id AS eval_id, string_split('zzq zzr ' || text, ' ') AS t
      FROM documents WHERE doc_id % 37 = 0
    ),
    esh AS (
      SELECT DISTINCT eval_id,
             unnest(list_transform(generate_series(1, greatest(len(t) - {_FUZZY_N - 1}, 0)),
                                   i -> array_to_string(t[i:i+{_FUZZY_N - 1}], ' '))) AS shingle
      FROM etoks
    ),
    szb AS (SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS sz_b FROM esh GROUP BY eval_id),
    inter AS (
      SELECT s.doc_id, e.eval_id, CAST(COUNT(*) AS BIGINT) AS inter
      FROM sh s JOIN esh e USING (shingle) GROUP BY 1, 2
    ),
    j AS (
      SELECT doc_id, eval_id,
             CAST(CAST(inter / (sz_a + sz_b - inter) AS DECIMAL(9,6)) AS DOUBLE)
               AS jaccard
      FROM inter JOIN sza USING (doc_id) JOIN szb USING (eval_id)
    )
    SELECT doc_id, eval_id, jaccard FROM j
    WHERE jaccard >= {_FUZZY_T}
    ORDER BY doc_id, eval_id
"""


@query(
    "llm_fuzzy_decontam",
    _FUZZY_DECON_ORACLE,
    tags=("llm", "decontamination", "jaccard"),
    # rotated back IN r17 (parked r13-r16, window-green r12: the
    # parked-age limit of tools/ledger.py).
)
def llm_fuzzy_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination pairs (operators/decontam.py): corpus
    documents whose 5-gram shingle sets reach Jaccard >= 0.8 with a
    perturbed eval item.  The eval side broadcasts as a sized postings
    dimension (per-row sets -> in-row sizes -> map-side explode, zero
    shuffle on either side of the probe); the per-pair intersection is
    exact; the only exchange is the pair aggregate."""
    from hedera_etl_spark.operators.decontam import fuzzy_contamination_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    evals = docs.filter(F.col("doc_id") % 37 == 0).select(
        F.col("doc_id").alias("eval_id"),
        F.concat(F.lit("zzq zzr "), F.col("text")).alias("text"),
    )
    return fuzzy_contamination_pairs(
        docs, evals, n=_FUZZY_N, threshold=_FUZZY_T,
        eval_id_col="eval_id",
    ).orderBy("doc_id", "eval_id")


# ---------------------------------------------------------------------------
# winnowing fingerprints (operators/textanalysis.winnow_fingerprints):
# the MOSS algorithm's fingerprint set — per-row k-gram hashing, sliding
# window-min selection, in-row dedupe; the oracle mirrors the 60-bit md5
# -prefix hash canon and the truncating window slices.
# ---------------------------------------------------------------------------
_WIN_K = 4
_WIN_W = 5

_WINNOW_ORACLE = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(t) < {_WIN_K} THEN []
                  ELSE list_transform(
                         generate_series(1, len(t) - {_WIN_K - 1}),
                         i -> array_to_string(t[i:i+{_WIN_K - 1}], ' '))
             END AS grams
      FROM toks
    ),
    h AS (
      SELECT doc_id,
             list_transform(grams,
               gg -> ('0x' || substring(md5(gg), 1, 15))::BIGINT) AS hs
      FROM g
    ),
    f AS (
      SELECT doc_id,
             CASE WHEN len(hs) = 0 THEN []
                  ELSE list_distinct(list_transform(
                         generate_series(1, greatest(len(hs) - {_WIN_W - 1}, 1)),
                         j -> list_min(hs[j:j+{_WIN_W - 1}])))
             END AS fps
      FROM h
    )
    SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp
    FROM f ORDER BY doc_id, fp
"""


@query(
    "llm_winnow_fp",
    _WINNOW_ORACLE,
    tags=("llm", "fingerprint", "winnowing"),
    # rotated back IN r17 (parked r13-r16, window-green r12: the
    # parked-age limit of tools/ledger.py).
)
def llm_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint sets over the documents table: word
    4-grams, window 5, distinct window minima — (doc_id, fp) rows, all
    selection in the document's own row (zero shuffles before the
    presentation sort).  The winnowing guarantee (shared runs >=
    w + k - 1 tokens force a shared fingerprint) is property-pinned in
    tests/test_winnowing.py."""
    from hedera_etl_spark.operators.textanalysis import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_fingerprints(docs, k=_WIN_K, w=_WIN_W).orderBy("doc_id", "fp")


# ---------------------------------------------------------------------------
# Unicode normalization (operators/textnorm.py): byte-different,
# render-identical strings must hash identically before any dedup.  The
# entry prefixes every document with a DECOMPOSED sequence (Cafe +
# combining acute, a fullwidth letter, doubled spaces) so the NFC +
# lowercase + whitespace-collapse pipeline does real work on every row;
# the oracle runs DuckDB's nfc_normalize — Unicode normal forms are
# fully specified, so CPython's unicodedata (in the Arrow-batched
# pandas UDF) and DuckDB agree byte-for-byte, making this the
# engine's oracle-gated SCALAR pandas-UDF exemplar.
# ---------------------------------------------------------------------------
_NORM_ORACLE = r"""
    SELECT doc_id,
           trim(regexp_replace(
             lower(nfc_normalize(
               'Cafe' || chr(769) || '  ' || chr(65313) || ' ' ||
               regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')
             )),
             '\s+', ' ', 'g')) AS text
    FROM documents
    ORDER BY doc_id
"""


@query(
    "llm_text_normalize",
    _NORM_ORACLE,
    tags=("llm", "normalize", "unicode", "pandas-udf"),
    # rotated back IN r17 (parked r13-r16, window-green r12: the
    # parked-age limit of tools/ledger.py).
)
def llm_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC + lowercase + whitespace-collapse over a corpus salted with
    decomposed Unicode (operators/textnorm.normalize_text): controls
    strip and cleanup stay JVM expressions; only the normalize call
    crosses into Python, Arrow-batched."""
    from hedera_etl_spark.operators.textnorm import normalize_text

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        # explicitly DECOMPOSED: e + U+0301 combining acute, then a
        # fullwidth A - NFC must compose the former, keep the latter
        F.concat(F.lit("Cafe\u0301  \uFF21 "), F.col("text")).alias("text"),
    )
    return normalize_text(docs, form="NFC", lowercase=True).orderBy("doc_id")


# ---------------------------------------------------------------------------
# deterministic train/val/test split (operators/sampling.train_val_test
# _split): membership is a pure function of (salt, doc_id) — stable
# under retries, engines, and corpus growth, which is what keeps eval
# splits from being re-rolled into contamination.  Same md5-bucket
# canon as the stratified-sample entry.
# ---------------------------------------------------------------------------
_SPLIT_ORACLE = """
    WITH b AS (
      SELECT doc_id,
             ('0x' || substring(md5(concat_ws(chr(31), 'split',
                                              CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT
               / 4294967296.0 AS bucket
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN bucket < 0.05 THEN 'test'
                WHEN bucket < 0.1 THEN 'val'
                ELSE 'train' END AS split
    FROM b ORDER BY doc_id
"""


@query(
    "llm_train_val_test_split",
    _SPLIT_ORACLE,
    tags=("llm", "sampling", "split"),
    # rotated back IN r17 (parked r13-r16, window-green r12: the
    # parked-age limit of tools/ledger.py).
)
def llm_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way deterministic split labels over the documents table —
    one projection, zero shuffles before the presentation sort."""
    from hedera_etl_spark.operators.sampling import train_val_test_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return train_val_test_split(
        docs, ["doc_id"], val_frac=0.05, test_frac=0.05
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# grouped top-k export: "top-k docs per domain by quality" — the
# reporting query every curation run ships (VERDICT r7 #7).  Two-phase
# plan (operators/topk.py): local top-k per (domain, shard) spreads the
# low-cardinality domain partitions over every core, then the global
# window ranks only k x n_shards survivors per domain — the single
# domain-partitioned window the oracle runs would serialize each domain
# into one reducer at corpus scale.
# ---------------------------------------------------------------------------
_DOMAIN_TOPK_ORACLE = """
    WITH q AS (
      SELECT doc_id, source,
             CAST(CAST((n_distinct * 100 + stop_hits * 10) / n_tokens
                  AS DECIMAL(12,6)) AS DOUBLE) AS quality_score
      FROM (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS stop_hits
        FROM documents
      )
    )
    SELECT source, rank, doc_id, quality_score FROM (
      SELECT source, doc_id, quality_score,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY quality_score DESC, doc_id) AS rank
      FROM q
    )
    WHERE rank <= 3
    ORDER BY source, rank
"""


@query(
    "llm_domain_topk",
    _DOMAIN_TOPK_ORACLE,
    tags=("llm", "quality", "topk", "export"),
    bench=True,
    # Rotated back INTO the driver window r12 (VERDICT r11 #1 — the
    # r8-stale cohort refresh).
    # Driver-green r14; parked r15: the two-phase grouped top-k kernel
    # stays driver-checked via llm_grouped_sample (IN r15, same kernel) and
    # the rank-window family via q23_percentiles (IN r15); keeps its bench
    # slot.
    driver_visible=False,
)
def llm_domain_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 documents per source domain by the deterministic quality
    score, exported as (source, rank, doc_id, quality_score).

    quality_scores carries ``source`` through as a projection (zero
    joins); grouped_topk's total order is (score DESC, doc_id) so the
    k-boundary is engine-independent; the oracle's single window is the
    semantics, the two-phase plan is the scale shape (bit-equality of
    the two forms is pinned in tests/test_topk.py).  Output is bounded
    (domains x 3), so presentation order uses bounded_sort."""
    from hedera_etl_spark.operators.topk import grouped_topk
    from hedera_etl_spark.tables import bounded_sort

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_scores(docs, carry=("source",)).select(
        "source", "doc_id", "quality_score"
    )
    top = grouped_topk(
        scored,
        keys=["source"],
        order=[F.col("quality_score").desc(), F.col("doc_id")],
        k=3,
        shard_on="doc_id",
    )
    return bounded_sort(
        top.select("source", "rank", "doc_id", "quality_score"),
        "source", "rank",
    )


# ---------------------------------------------------------------------------
# budget-constrained corpus selection (operators/selection.py): greedy
# quality-ordered prefix under a global token budget.  The oracle's
# single cumulative window is the semantics; the executed plan is the
# distributed prefix sum (range partition -> per-partition running sum +
# broadcast offsets) — no single-reducer global sort.
# ---------------------------------------------------------------------------
_BUDGET = 15_000

_BUDGET_ORACLE = f"""
    WITH q AS (
      SELECT doc_id,
             CAST(CAST((n_distinct * 100 + stop_hits * 10) / n_tokens
                  AS DECIMAL(12,6)) AS DOUBLE) AS quality_score,
             n_tokens
      FROM (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
               CAST(len(list_filter(string_split(text, ' '),
                                    x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS stop_hits
        FROM documents
      )
    ),
    c AS (
      SELECT doc_id, quality_score, n_tokens,
             CAST(SUM(n_tokens) OVER (
               ORDER BY quality_score DESC NULLS LAST, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM q
    )
    SELECT doc_id, quality_score, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= {_BUDGET}
    ORDER BY doc_id
"""


@query(
    "llm_token_budget_select",
    _BUDGET_ORACLE,
    tags=("llm", "selection", "quality"),
    # rotated back IN r13 (VERDICT r12 #1 — r9-stale cohort).
    # the plan embeds running_total's lazy localCheckpoint — same
    # no-cache rule as the minhash/ngram entries
    cache_plan=False,
    # Driver-green r14; parked r15: the distributed prefix-sum selection is
    # llm_pack_chunks' (IN r15) kernel over the q10_window_frame (IN) frame
    # family; budget-boundary values stay pinned in test_selection.py.
    driver_visible=False,
)
def llm_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained selection (operators/selection.py
    select_to_token_budget): keep the highest-quality documents whose
    running token total stays within a 15k-token budget — the greedy
    quality-ordered prefix every compute-bounded training run cuts.
    Executed as a range-partitioned distributed prefix sum (two
    exchanges + one broadcast join, balanced even under total quality
    ties), not a single-reducer global window."""
    from hedera_etl_spark.operators.selection import select_to_token_budget

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_scores(docs).select("doc_id", "quality_score", "n_tokens")
    return select_to_token_budget(scored, _BUDGET).orderBy("doc_id")


# ---------------------------------------------------------------------------
# corpus snapshot diff (operators/corpusdiff.py): the audit between two
# corpus versions.  "New" snapshot constructed deterministically from
# documents in BOTH engines: every 11th doc dropped, every remaining 9th
# doc's text rewritten, every 17th doc re-added under a new id.
# ---------------------------------------------------------------------------
_DIFF_NEW_SQL = """
      SELECT doc_id,
             CASE WHEN doc_id % 9 = 0 THEN text || ' (rev2)' ELSE text END AS text
      FROM documents WHERE doc_id % 11 != 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 17 = 0
"""

_DIFF_ORACLE = f"""
    WITH a AS (
      SELECT doc_id,
             md5(concat_ws(chr(31), coalesce(CAST(text AS VARCHAR), chr(0)))) AS old_hash
      FROM documents
    ),
    n AS ({_DIFF_NEW_SQL}),
    b AS (
      SELECT doc_id,
             md5(concat_ws(chr(31), coalesce(CAST(text AS VARCHAR), chr(0)))) AS new_hash
      FROM n
    )
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.old_hash IS NULL THEN 'added'
                WHEN b.new_hash IS NULL THEN 'removed'
                WHEN a.old_hash != b.new_hash THEN 'changed'
                ELSE 'unchanged' END AS status,
           a.old_hash, b.new_hash
    FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    ORDER BY doc_id
"""


@query(
    "llm_corpus_diff",
    _DIFF_ORACLE,
    tags=("llm", "snapshot", "diff"),
    # Driver-green r14; parked r15: the anti-join/EXCEPT diff kernels stay
    # window-checked via q11_set_ops + q06_semi_anti_join (IN); the
    # ledger-completeness partition invariant stays pytest-pinned.
    driver_visible=False,
)
def llm_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/corpusdiff.py corpus_diff): label every
    doc id added / removed / changed / unchanged between two corpus
    versions by md5 content hash.  Both sides prune to (id, hash) BEFORE
    the one full-outer equi-join, so the exchange moves two narrow
    columns, never document bodies — the shape that survives a 100 TB
    snapshot pair (bucket both snapshots by id to co-locate it)."""
    from hedera_etl_spark.operators.corpusdiff import corpus_diff

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0, F.concat(F.col("text"), F.lit(" (rev2)"))
        ).otherwise(F.col("text")).alias("text"),
    ).unionByName(
        docs.filter(F.col("doc_id") % 17 == 0).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
        )
    )
    return corpus_diff(docs, new).orderBy("doc_id")


# ---------------------------------------------------------------------------
# fuzzy key join (operators/fuzzyjoin.py): edit-distance similarity join.
# Corpus: engine-portable random hex keys (md5 of the doc id) + a 1-edit
# mutant for every 13th doc.  The oracle brute-forces levenshtein over
# all pairs — pure semantics; the Spark side must reproduce it through
# PassJoin segment blocking + verify (soundness = equality).
# ---------------------------------------------------------------------------
_FUZZY_ORACLE = """
    WITH k AS (
      SELECT doc_id AS id,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS key
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS id,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 5) || 'z'
               || substring(md5(CAST(doc_id AS VARCHAR)), 7, 6) AS key
      FROM documents WHERE doc_id % 13 = 0
    )
    SELECT a.id AS id_a, b.id AS id_b, a.key AS key_a, b.key AS key_b,
           CAST(levenshtein(a.key, b.key) AS BIGINT) AS dist
    FROM k a, k b
    WHERE a.id < b.id AND levenshtein(a.key, b.key) <= 1
    ORDER BY id_a, id_b
"""


@query(
    "llm_fuzzy_key_join",
    _FUZZY_ORACLE,
    tags=("llm", "fuzzyjoin", "entity-resolution"),
    bench=True,  # VERDICT r8 #3: constant factors measured per round
    # Driver-green r14; parked r15: the segment-blocking equi-join shape
    # stays driver-checked via llm_minhash_neardup's banded equi-join (IN);
    # exact edit-distance verification is pinned against a pure-Python
    # Levenshtein in test_fuzzyjoin.py; keeps its bench slot.
    driver_visible=False,
)
def llm_fuzzy_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity self-join (operators/fuzzyjoin.py,
    PassJoin-family segment blocking + native levenshtein verify): all
    key pairs within 1 edit.  The oracle's all-pairs form is the
    semantics; the executed plan blocks on d+1 pigeonhole segments so
    the only corpus shuffle moves segment-sized rows — O(n^2) becomes
    O(n * collisions), with the hot-segment cap loud."""
    from hedera_etl_spark.operators.fuzzyjoin import fuzzy_neardup_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    hexkey = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12)
    base = docs.select(F.col("doc_id").alias("id"), hexkey.alias("key"))
    mut = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("id"),
        F.concat(
            F.substring(hexkey, 1, 5), F.lit("z"), F.substring(hexkey, 7, 6)
        ).alias("key"),
    )
    pairs = fuzzy_neardup_pairs(
        base.unionByName(mut), max_dist=1, max_segment=500
    )
    return pairs.select(
        "id_a", "id_b", "key_a", "key_b", F.col("dist").cast("long").alias("dist")
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# paragraph-level dedup (operators/paradedup.py): duplicated paragraphs
# keep exactly their corpus-wide first (doc_id, idx) occurrence — the
# web-curation boilerplate-paragraph stage between document dedup and
# span removal.  Corpus: every doc gets a unique intro paragraph, one
# SHARED boilerplate paragraph, and its original text — built
# identically in both engines.  The oracle replicates keep-first with a
# window over the same md5 paragraph hashes and reassembles with an
# ordered string_agg (array_join's exact twin for this split).
# ---------------------------------------------------------------------------
_PARA_BOILER = "SUBSCRIBE to our newsletter for more articles like this"

_PARA_ORACLE = f"""
    WITH src AS (
      SELECT doc_id,
             'intro ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10) ||
             '{_PARA_BOILER}' || chr(10) || chr(10) || text AS text
      FROM documents
    ),
    p AS (
      SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps FROM src
    ),
    e0 AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(ps)),
                            i -> struct_pack(idx := i - 1, para := ps[i])) AS es
      FROM p
    ),
    e1 AS (SELECT doc_id, unnest(es) AS s FROM e0),
    f AS (SELECT doc_id, s.idx AS idx, s.para AS para FROM e1),
    w AS (
      SELECT doc_id, idx, para,
             ROW_NUMBER() OVER (PARTITION BY md5(para)
                                ORDER BY doc_id, idx) AS rn,
             COUNT(*) OVER (PARTITION BY md5(para)) AS cnt
      FROM f WHERE len(para) >= 1
    ),
    keepers AS (
      SELECT doc_id, idx, para FROM w WHERE rn = 1 OR cnt = 1
      UNION ALL
      SELECT doc_id, idx, para FROM f WHERE len(para) < 1
    ),
    final AS (
      SELECT doc_id,
             coalesce(string_agg(para, chr(10) || chr(10) ORDER BY idx),
                      '') AS text
      FROM keepers GROUP BY doc_id
    )
    SELECT doc_id, text FROM final
    WHERE len(trim(text)) > 0
    ORDER BY doc_id
"""


@query(
    "llm_paragraph_dedup",
    _PARA_ORACLE,
    tags=("llm", "dedup", "paragraph", "boilerplate"),
    bench=True,
    # the plan embeds the occurrence frame's lazy localCheckpoint —
    # same cache opt-out rationale as the minhash/ngram entries
    cache_plan=False,
    # Driver-green r14; parked r15: the count-over-window dup kernel
    # stays driver-checked via llm_span_flags (IN r15, same window form)
    # and the keeper collapse via llm_removal_ledger's keeper attribution
    # (IN r17); the keep-first drop set is pinned in test_paradedup.py;
    # keeps its bench slot.
    driver_visible=False,
)
def llm_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level dedup (operators/paradedup.paragraph_dedup):
    duplicated paragraphs keep their corpus-wide first occurrence, every
    later copy is cut and the documents rebuild in original order.
    The corpus plants one boilerplate paragraph in EVERY document (the
    cookie-banner shape); only doc 0's copy may survive.  Scale: the
    dedup exchanges move only (doc_id, idx, md5) — paragraph text never
    leaves the document's row (plan-pinned in tests/test_paradedup.py)."""
    from hedera_etl_spark.operators.paradedup import paragraph_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("intro "), F.col("doc_id").cast("string"), F.lit("\n\n"),
            F.lit(_PARA_BOILER), F.lit("\n\n"), F.col("text"),
        ).alias("text"),
    )
    return paragraph_dedup(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# token-entropy quality signal (operators/textanalysis.token_entropy):
# Shannon entropy of each document's token distribution — the gibberish
# / keyword-stuffing axis the length/stopword features miss.  Float
# canon: H = ln(n) - (sum c*ln c)/n keeps every ln on an exact integer,
# each rounded to DECIMAL(12,6) before the exact decimal weighted sum;
# the final value is the RAW double of one division + one subtraction
# over exact-decimal inputs — never a re-rounded double, the one step
# cross-engine casts disagree on near 6-decimal midpoints.  The Spark side runs
# the ZERO-SHUFFLE in-row form (counts via transform over the distinct
# set), pinned value-identical to the scalable explode+aggregate twin
# the oracle mirrors.
# ---------------------------------------------------------------------------
_ENTROPY_ORACLE = """
    WITH tk AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    ct AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM tk GROUP BY doc_id, tok
    ),
    ag AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(SUM(c * CAST(ln(c) AS DECIMAL(12,6))) AS DECIMAL(38,6))
               AS wsum
      FROM ct GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(CAST(ln(n_tokens) AS DECIMAL(12,6)) AS DOUBLE)
             - CAST(wsum AS DOUBLE) / n_tokens AS token_entropy
    FROM ag ORDER BY doc_id
"""


@query(
    "llm_token_entropy",
    _ENTROPY_ORACLE,
    tags=("llm", "quality", "entropy"),
    bench=True,
    # back IN r17 (green r13, parked r14-r16).
)
def llm_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document
    (operators/textanalysis.token_entropy, zero-shuffle in-row form):
    (doc_id, n_tokens, token_entropy) — low entropy at high token count
    flags degenerate repetition."""
    from hedera_etl_spark.operators.textanalysis import token_entropy
    from hedera_etl_spark.tables import ensure_parallelism

    # r15 optimization round: the O(distinct x tokens) in-row aggregate
    # chained straight onto a one-split scan ran on a single core;
    # ensure_parallelism spreads it (no-op on real multi-split tables).
    # The operator itself stays zero-shuffle per its contract.
    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return token_entropy(docs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# the rest of the Gopher rule battery (textanalysis.gopher_quality_flags):
# the Rae et al. A.1.1 rules repetition_scores/quality_scores don't carry
# — word-count + mean-word-length bounds, symbol ratio, bullet/ellipsis
# line fractions, alphabetic-word fraction, stop-word presence — with
# per-rule booleans and the combined verdict in the hash.  All ratios
# are single int/int divisions rounded through DECIMAL(9,6) (house
# canon).  min_words=5 here: the paper's 50 would fail most of the
# short synthetic docs and leave the bound untested from both sides.
# ---------------------------------------------------------------------------
_GOPHER_STOP_SQL = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"

_GOPHER_ORACLE = f"""
    WITH base AS (
      SELECT doc_id,
             string_split(text, ' ') AS t,
             string_split(text, chr(10)) AS l,
             CAST(length(text)
                  - length(regexp_replace(text, '[#…]', '', 'g'))
                  + len(regexp_extract_all(text, '\\.\\.\\.'))
               AS BIGINT) AS symbols
      FROM documents
    ),
    m AS (
      SELECT doc_id, symbols,
             CAST(len(t) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT)
               AS word_chars,
             CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
               AS BIGINT) AS alpha_words,
             CAST(len(list_filter(t,
                    x -> list_contains({_GOPHER_STOP_SQL}, x)))
               AS BIGINT) AS stop_hits,
             CAST(len(l) AS BIGINT) AS n_lines,
             CAST(len(list_filter(l,
                    x -> regexp_matches(x, '^\\s*[•\\-\\*]')))
               AS BIGINT) AS bullet_lines,
             CAST(len(list_filter(l,
                    x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$')))
               AS BIGINT) AS ellipsis_lines
      FROM base
    ),
    r AS (
      SELECT doc_id, n_words,
             CAST(CAST(word_chars / n_words AS DECIMAL(9,6)) AS DOUBLE)
               AS mean_word_len,
             CAST(CAST(symbols / n_words AS DECIMAL(9,6)) AS DOUBLE)
               AS symbol_ratio,
             CAST(CAST(bullet_lines / n_lines AS DECIMAL(9,6)) AS DOUBLE)
               AS bullet_frac,
             CAST(CAST(ellipsis_lines / n_lines AS DECIMAL(9,6)) AS DOUBLE)
               AS ellipsis_frac,
             CAST(CAST(alpha_words / n_words AS DECIMAL(9,6)) AS DOUBLE)
               AS alpha_word_frac,
             stop_hits
      FROM m
    )
    SELECT *,
           (n_words BETWEEN 5 AND 100000) AS ok_n_words,
           (mean_word_len BETWEEN 3.0 AND 10.0) AS ok_word_len,
           (symbol_ratio <= 0.1) AS ok_symbols,
           (bullet_frac <= 0.9) AS ok_bullets,
           (ellipsis_frac <= 0.3) AS ok_ellipsis,
           (alpha_word_frac >= 0.8) AS ok_alpha,
           (stop_hits >= 2) AS ok_stopwords,
           ((n_words BETWEEN 5 AND 100000)
            AND (mean_word_len BETWEEN 3.0 AND 10.0)
            AND (symbol_ratio <= 0.1)
            AND (bullet_frac <= 0.9)
            AND (ellipsis_frac <= 0.3)
            AND (alpha_word_frac >= 0.8)
            AND (stop_hits >= 2)) AS gopher_pass
    FROM r ORDER BY doc_id
"""


@query(
    "llm_gopher_flags",
    _GOPHER_ORACLE,
    tags=("llm", "quality", "gopher"),
    # back IN r17 (green r13, parked r14-r16).
)
def llm_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rest of the Gopher quality battery
    (operators/textanalysis.gopher_quality_flags): per-rule metrics +
    booleans + the combined verdict for every document, one
    zero-shuffle projection."""
    from hedera_etl_spark.operators.textanalysis import gopher_quality_flags

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_quality_flags(docs, min_words=5).orderBy("doc_id")


# ---------------------------------------------------------------------------
# model-based quality filtering (r15): the fastText-style linear
# classifier serving pass (operators/qualityclf.py) — hashed
# unigram+bigram features, broadcast integer weight table, mean-pool +
# rational fast-sigmoid.  The squash avoids exp() on purpose: every op
# in 0.5 + r/(2*(1+|r|)) is IEEE correctly rounded, so both engines
# produce the same double BEFORE the decimal rounding, and `keep` is
# the integer-exact SUM(w_int) >= 0.
# ---------------------------------------------------------------------------
_QCLF_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             list_concat(
               toks,
               list_filter(
                 list_transform(generate_series(1, greatest(len(toks), 1)),
                                i -> CASE WHEN i + 1 <= len(toks)
                                          THEN toks[i] || chr(31) || toks[i + 1]
                                     END),
                 g -> g IS NOT NULL)) AS feats
      FROM t
    ),
    e AS (SELECT doc_id, unnest(feats) AS feat FROM f),
    agg AS (
      SELECT doc_id,
             SUM((('0x' || substring(md5('qcw:' || CAST(
                    ('0x' || substring(md5('qcf:' || feat), 1, 8))::BIGINT % 2048
                  AS VARCHAR)), 1, 8))::BIGINT % 2001) - 1000) AS w_sum,
             COUNT(*) AS n_feats
      FROM e GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_feats, 0) AS BIGINT) AS n_feats,
           CAST(COALESCE(a.w_sum, 0) AS BIGINT) AS w_sum,
           CAST(CAST(
             0.5 + (COALESCE(a.w_sum, 0)
                    / (1000.0 * greatest(COALESCE(a.n_feats, 0), 1)))
                   / (2.0 * (1.0 + abs(COALESCE(a.w_sum, 0)
                    / (1000.0 * greatest(COALESCE(a.n_feats, 0), 1)))))
             AS DECIMAL(12,6)) AS DOUBLE) AS score,
           COALESCE(a.w_sum, 0) >= 0 AS keep
    FROM documents d LEFT JOIN agg a USING (doc_id)
    ORDER BY d.doc_id
"""


@query(
    "llm_quality_classifier",
    _QCLF_ORACLE,
    tags=("llm", "quality", "classifier", "fasttext"),
    bench=True,
    # NEW r15, rotated IN at creation (the ledger refuses parked
    # never-checked entries — tools/ledger.py): llm_simhash_fp ceded
    # the slot, so the classifier gets its first driver hash-check in
    # CORRECTNESS_r15.
    # parked r17 (green r16): broadcast model-table scoring via
    # llm_lm_perplexity (IN); the classifier is pinned in
    # test_qualityclf.py.
    driver_visible=False,
)
def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style model-based quality scoring
    (operators/qualityclf.py): hashed unigram+bigram features over 2048
    buckets, one broadcast join against the integer weight table, one
    doc-keyed partial-agg exchange, rational fast-sigmoid score and the
    integer-exact keep verdict — the serving pass of the CCNet /
    FineWeb-Edu quality-filter family."""
    from hedera_etl_spark.operators.qualityclf import quality_classifier_scores

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return quality_classifier_scores(docs).orderBy("doc_id")
