"""Similarity-search registry entries over the embeddings table.

The Spark side computes all vector math with explicitly sequential folds
(functions.dot/norm/cosine — F.aggregate is a left fold), and the oracle
mirrors them with DuckDB list_reduce, so cosine values match bit-for-bit
and rank ties resolve identically in both engines.

The LSH hyperplane sign matrix is generated from md5 in Python at plan time
(similarity.hyperplane_signs) and embedded as literals on BOTH sides, so
bucket assignments are engine-independent too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hedera_etl_spark.operators.similarity import (
    brute_force_topk,
    cosine_neardup_pairs,
    hyperplane_signs,
    ivf_centroids,
    ivf_topk,
    lsh_ann_topk,
)
from hedera_etl_spark.queries import query
from hedera_etl_spark.queries._oracle import (
    fold_cosine,
    fold_dot,
    lsh_bucket_expr,
    plane_literal,
)
from hedera_etl_spark.tables import load_table

DIMS = 64
QUERY_IDS = [0, 1, 2, 3, 4]
K = 5
N_PLANES = 8

_IDS_SQL = ", ".join(str(i) for i in QUERY_IDS)

#: Degenerate-bucket cap for the LSH entries — mirrored in the oracle SQL.
#: Far above any real bucket at bench SFs (so it drops nothing here), but
#: the guard being IN the plan is what the oracle pins: at corpus scale it
#: is the difference between a bounded bucket join and a quadratic one.
MAX_BUCKET = 500


# ---------------------------------------------------------------------------
# brute-force cosine top-k (the exactness baseline)
# ---------------------------------------------------------------------------
@query(
    "sim_bruteforce_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
      WHERE vec_id IN ({_IDS_SQL})
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {fold_cosine('q.qvec', 'e.embedding', DIMS)} AS cos
      FROM q, embeddings e
      WHERE e.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, CAST(CAST(cos AS DECIMAL(9,6)) AS DOUBLE) AS cos_sim
    FROM ranked WHERE rank <= {K}
    ORDER BY query_id, rank
    """,
    tags=("sim", "ann", "baseline"),
    # rotated back IN r14 (VERDICT r13 #1 — r10-stale cohort).
    bench=True,
    # Window-green r14; parked r15: the ANN family keeps sim_ivf_topk /
    # sim_ivfpq_topk + sim_cosine_neardup (IN; sim_lsh_ann_topk parked
    # r17) window rows; every bucketed variant stays property-pinned
    # against this brute-force baseline in test_similarity.py; keeps its
    # bench slot.
    driver_visible=False,
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast query set, one corpus scan, per-query
    ranking window — the recall=1.0 baseline the ANN variants are judged
    against (operators/similarity.py brute_force_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, QUERY_IDS, k=K, dims=DIMS)


# ---------------------------------------------------------------------------
# LSH-ANN top-k (the scale path)
# ---------------------------------------------------------------------------
_SIGNS = hyperplane_signs(N_PLANES, DIMS)
_BUCKET = lsh_bucket_expr("embedding", _SIGNS, DIMS)

_LSH_ORACLE = f"""
    WITH b AS (
      SELECT vec_id, embedding, {_BUCKET} AS bucket FROM embeddings
    ),
    bkeep AS (
      SELECT vec_id, embedding, bucket FROM
        (SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS bn FROM b)
      WHERE bn <= {MAX_BUCKET}
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qvec, bucket FROM b
      WHERE vec_id IN ({_IDS_SQL})
    ),
    scored AS (
      SELECT q.query_id, b.vec_id AS neighbor_id,
             {fold_cosine('q.qvec', 'b.embedding', DIMS)} AS cos
      FROM q JOIN bkeep b USING (bucket)
      WHERE b.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, CAST(CAST(cos AS DECIMAL(9,6)) AS DOUBLE) AS cos_sim
    FROM ranked WHERE rank <= {K}
    ORDER BY query_id, rank
"""


@query(
    "sim_lsh_ann_topk",
    _LSH_ORACLE,
    tags=("sim", "ann", "lsh"),
    # parked r17 (window-green r14): skew-capped bucket equi-join blocking
    # stays window-checked via llm_minhash_neardup (IN) and cosine top-k via
    # sim_ivf_topk + sim_cosine_neardup (IN); buckets and cap stay pinned in
    # tests/test_similarity.py.
    driver_visible=False,
)
def sim_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH buckets turn the cross join
    into a bucket equi-join — O(n*q/2^planes) candidates instead of O(n*q).
    Single-probe at 8 planes (the small-corpus setting; the operator
    defaults to 16 planes + multi-probe for corpus scale), with the
    degenerate-bucket cap in-plan; the oracle reproduces the identical
    buckets AND cap from the same literal sign matrix."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_ann_topk(
        emb, QUERY_IDS, k=K, n_planes=N_PLANES, dims=DIMS, max_bucket=MAX_BUCKET
    )


# ---------------------------------------------------------------------------
# IVF-ANN top-k (coarse-quantizer inverted lists + multi-probe)
# ---------------------------------------------------------------------------
N_CENTROIDS = 16
N_PROBE = 2
_CENTROIDS = ivf_centroids(N_CENTROIDS, DIMS)
_DOTS_SQL = "[" + ",\n        ".join(
    fold_dot("embedding", plane_literal(c), DIMS) for c in _CENTROIDS
) + "]"

_IVF_ORACLE = f"""
    WITH a AS (
      SELECT vec_id, embedding, {_DOTS_SQL} AS dots FROM embeddings
    ),
    b AS (
      SELECT vec_id, embedding AS vec,
             CAST(list_position(dots, list_max(dots)) AS BIGINT) AS bucket
      FROM a
    ),
    qd AS (
      SELECT vec_id AS query_id, embedding AS qvec, dots FROM a
      WHERE vec_id IN ({_IDS_SQL})
    ),
    qprobe AS (
      SELECT query_id, qvec, idx AS bucket,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d DESC, idx) AS pr
      FROM (SELECT query_id, qvec, unnest(dots) AS d,
                   CAST(generate_subscripts(dots, 1) AS BIGINT) AS idx
            FROM qd)
    ),
    probes AS (SELECT query_id, qvec, bucket FROM qprobe WHERE pr <= {N_PROBE}),
    scored AS (
      SELECT p.query_id, b.vec_id AS neighbor_id,
             {fold_cosine('p.qvec', 'b.vec', DIMS)} AS cos
      FROM probes p JOIN b USING (bucket)
      WHERE b.vec_id != p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, CAST(CAST(cos AS DECIMAL(9,6)) AS DOUBLE) AS cos_sim
    FROM ranked WHERE rank <= {K}
    ORDER BY query_id, rank
"""


@query(
    "sim_ivf_topk",
    _IVF_ORACLE,
    tags=("sim", "ann", "ivf"),
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: every corpus vector lives in exactly one
    inverted list (argmax-dot coarse quantizer); queries probe their 2
    closest of 16 centroids, scanning ~1/8 of the corpus.  Deterministic
    md5-derived centroids stand in for k-means training so the oracle
    reproduces the identical inverted lists (operators/similarity.py
    ivf_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, QUERY_IDS, k=K, n_centroids=N_CENTROIDS, n_probe=N_PROBE, dims=DIMS
    )


# ---------------------------------------------------------------------------
# embedding near-dup pairs
# ---------------------------------------------------------------------------
_NEARDUP_CORPUS_SQL = """
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0
"""

_COS_NEARDUP_ORACLE = f"""
    WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
    b0 AS (
      SELECT vec_id, embedding, {_BUCKET} AS bucket FROM corpus
    ),
    b AS (
      SELECT vec_id, embedding, bucket FROM
        (SELECT *, COUNT(*) OVER (PARTITION BY bucket) AS bn FROM b0)
      WHERE bn <= {MAX_BUCKET}
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             {fold_cosine('a.embedding', 'c.embedding', DIMS)} AS cos
      FROM b a JOIN b c USING (bucket)
      WHERE a.vec_id < c.vec_id
    )
    SELECT id_a, id_b, CAST(CAST(cos AS DECIMAL(9,6)) AS DOUBLE) AS cos_sim
    FROM pairs WHERE cos >= 0.99
    ORDER BY id_a, id_b
"""


@query(
    "sim_cosine_neardup",
    _COS_NEARDUP_ORACLE,
    tags=("sim", "dedup"),
    # rotated back IN r15 (VERDICT r14 #1 — r11-stale cohort).
)
def sim_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= 0.99) over a corpus with
    every 10th vector re-ingested under a new id.  LSH-blocked: identical
    vectors always share a bucket, so the clones are found without any
    all-pairs comparison; the degenerate-bucket cap rides the self-join's
    own bucket shuffle (oracle-mirrored)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    clones = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(clones)
    return cosine_neardup_pairs(
        corpus, threshold=0.99, n_planes=N_PLANES, dims=DIMS, max_bucket=MAX_BUCKET
    )


# ---------------------------------------------------------------------------
# index-backed semantic dedup (operators/vectorindex.semantic_dedup
# _decisions) — the within-batch decision path, single-batch form: the
# oracle reproduces the IVF probe blocking (each vector's top-2 centroid
# buckets vs every vector's primary bucket), the cosine threshold, and
# the transitive min-id collapse with a recursive CTE.  The CROSS-batch
# path (probe against the persisted index, append survivors) is
# inherently stateful across calls and stays pytest-pinned
# (tests/test_semantic_dedup.py); this entry hash-checks the decision
# semantics the stateful path reuses verbatim.
# ---------------------------------------------------------------------------
_SEM_THRESHOLD = 0.99

_SEM_ORACLE = f"""
    WITH RECURSIVE corpus AS ({_NEARDUP_CORPUS_SQL}),
    a AS MATERIALIZED (
      SELECT vec_id, embedding, {_DOTS_SQL} AS dots FROM corpus
    ),
    prim AS MATERIALIZED (
      SELECT vec_id, embedding AS vec,
             CAST(list_position(dots, list_max(dots)) AS BIGINT) AS bucket
      FROM a
    ),
    probes AS MATERIALIZED (
      SELECT vec_id, qvec, bucket FROM (
        SELECT vec_id, embedding AS qvec, idx AS bucket,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, idx) AS pr
        FROM (SELECT vec_id, embedding, unnest(dots) AS d,
                     CAST(generate_subscripts(dots, 1) AS BIGINT) AS idx
              FROM a)
      ) WHERE pr <= {N_PROBE}
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT least(p.vec_id, c.vec_id) AS src,
                      greatest(p.vec_id, c.vec_id) AS dst
      FROM probes p JOIN prim c USING (bucket)
      WHERE p.vec_id != c.vec_id
        AND {fold_cosine('p.qvec', 'c.vec', DIMS)} >= {_SEM_THRESHOLD}
    ),
    sym AS (
      SELECT src AS n, dst AS m FROM cand
      UNION ALL
      SELECT dst AS n, src AS m FROM cand
    ),
    reach(n, m) AS (
      SELECT n, m FROM sym
      UNION
      SELECT r.n, s.m FROM reach r JOIN sym s ON r.m = s.n
    ),
    comp AS (
      SELECT n AS vec_id, LEAST(n, MIN(m)) AS component FROM reach GROUP BY n
    )
    SELECT c.vec_id,
           (COALESCE(k.component, c.vec_id) = c.vec_id) AS keep
    FROM corpus c LEFT JOIN comp k USING (vec_id)
    ORDER BY vec_id
"""


@query(
    "sim_semantic_dedup",
    _SEM_ORACLE,
    tags=("sim", "dedup", "ivf", "components"),
    # rotated back IN r14 (VERDICT r13 #3 — was the stalest parked row,
    # driver-green r8, AND the one local-cost sore spot): the entry now
    # probes a PERSISTED index (build-once/probe-many, like PQIndex)
    # instead of building a throwaway index directory per call.  The
    # relation is unchanged — replay determinism (same corpus, same
    # batch marker) re-derives the identical first-batch decisions, so
    # the oracle stays the first-batch recursive-CTE twin; persisted ==
    # throwaway equality is pytest-pinned (test_vectorindex.py).
    # Still a side-effecting function (index read + possible build), so
    # its plan must never be served from the prepared-plan cache.
    cache_plan=False,
    # parked r17 (window-green r14): the IVF-bucket probe stays
    # window-checked via sim_ivf_topk (IN), cosine threshold pairs via
    # sim_cosine_neardup (IN) and the transitive min-id keeper via
    # llm_dup_clusters (IN, the same collapse_components); lifecycle stays
    # pinned in tests/test_semantic_dedup.py.
    driver_visible=False,
)
def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-backed semantic dedup decisions (first-batch form) over the
    clone-injected embeddings corpus: IVF-bucket-blocked cosine pairs at
    0.99 collapse transitively to a min-id keeper via connected
    components — (vec_id, keep).  The oracle mirrors the probe blocking
    from the same literal centroid grid and closes pairs with a
    recursive CTE.

    Index lifecycle (r14): the directory is keyed by an order-free
    corpus fingerprint (bit_xor of xxhash64(vec_id, embedding)), so a
    regenerated/different corpus can never probe a stale index — it
    simply builds a fresh one; the first call on a machine pays the
    one-time build+append (write-once batch marker), every later call
    replays: identical decisions, zero writes, probe-only cost."""
    import hashlib
    import os

    from hedera_etl_spark import fsutil
    from hedera_etl_spark.operators.vectorindex import semantic_dedup_decisions

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    clones = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(clones)
    fp = corpus.agg(
        F.coalesce(
            F.expr("bit_xor(xxhash64(vec_id, embedding))"), F.lit(0)
        ).alias("sig"),
        F.count("*").alias("n"),
    ).collect()[0]
    token = f"{fp['n']}-{fp['sig'] & ((1 << 64) - 1):016x}"
    # key = sf_dir + corpus fingerprint + the INDEX-GEOMETRY params
    # (r14 review: a later N_CENTROIDS/DIMS tune with an unchanged
    # corpus must build fresh, not probe the old grid — build params
    # are ignored when _meta.json already exists); threshold/n_probe
    # are probe-time knobs that don't change the artifacts, so they
    # stay out of the key.  The root is fsutil.secure_cache_root
    # (r15, ADVICE r14): user-owned XDG/~/.cache when available,
    # created 0700 and ownership/mode-verified before reuse, so
    # another local user can neither PermissionError us nor pre-plant
    # index artifacts at the predictable path; fingerprint-keyed
    # siblings from superseded corpora/geometries are reaped on open
    # (keep newest 3 — VERDICT r14 #4's unbounded-growth wart).
    sf_tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = fsutil.secure_cache_root("semdedup")
    key = f"semdedup-v1-k{N_CENTROIDS}-d{DIMS}-{sf_tag}-{token}"
    fsutil.reap_stale_cache_dirs(root, "semdedup-v1-", keep=3, exclude=(key,))
    path = os.path.join(root, key)
    return semantic_dedup_decisions(
        spark,
        corpus,
        path,
        threshold=_SEM_THRESHOLD,
        n_probe=N_PROBE,
        n_centroids=N_CENTROIDS,
        dims=DIMS,
        batch_id="registry-corpus",
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# embedding covariance (operators/embedpca.py) — the one-aggregate stage
# PCA builds on.  Hash-matching a floating-point covariance across
# engines works because every product of two float32 components is
# EXACT in float64 (48-bit product < 53-bit mantissa), each product
# rounds ONCE to DECIMAL(38,12), and the sums are then exact and
# order-free; the final cov derivation is three correctly-rounded
# double ops mirrored literally.  dims=16 keeps the entry's expression
# count at 152 (the operator takes any d; PCA itself is pytest-pinned
# against numpy — eigenvectors are not SQL-expressible).
# ---------------------------------------------------------------------------
_PCA_DIMS = 16


def _cov_oracle(dims: int) -> str:
    sums = [
        "CAST(COUNT(*) AS BIGINT) AS n",
        f"CAST(COUNT(CASE WHEN len(embedding) >= {dims} THEN 1 END)"
        " AS BIGINT) AS n_valid",
    ]
    for i in range(1, dims + 1):
        sums.append(
            f"SUM(CAST(CAST(embedding[{i}] AS DOUBLE)"
            f" AS DECIMAL(38,12))) AS s_{i}"
        )
    for i in range(1, dims + 1):
        for j in range(i, dims + 1):
            sums.append(
                f"SUM(CAST(CAST(embedding[{i}] AS DOUBLE)"
                f" * CAST(embedding[{j}] AS DOUBLE)"
                f" AS DECIMAL(38,12))) AS p_{i}_{j}"
            )
    cells = ",\n        ".join(
        f"({i}, {j}, CAST(CAST(p_{i}_{j} AS DOUBLE) / CAST(n AS DOUBLE)"
        f" - (CAST(s_{i} AS DOUBLE) / CAST(n AS DOUBLE))"
        f"   * (CAST(s_{j} AS DOUBLE) / CAST(n AS DOUBLE))"
        f" AS DECIMAL(38,12)))"
        for i in range(1, dims + 1)
        for j in range(i, dims + 1)
    )
    return f"""
    WITH sums AS MATERIALIZED (
      SELECT {', '.join(sums)} FROM embeddings
    ),
    cells(i, j, cov, ok) AS (
      SELECT u.i, u.j, u.cov,
             CASE WHEN n = n_valid THEN 1
                  ELSE error('covariance: null/short vectors') END AS ok
      FROM sums, (VALUES
        {cells}) AS u(i, j, cov)
    )
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           CAST(CASE WHEN ok = 1 THEN cov END AS DOUBLE) AS cov
    FROM cells ORDER BY i, j
"""


@query(
    "sim_pca_covariance",
    _cov_oracle(_PCA_DIMS),
    tags=("sim", "pca", "covariance", "aggregate"),
    # rotated back IN r17 (parked r13-r16, window-green r12: the
    # parked-age limit of tools/ledger.py).
)
def sim_pca_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise covariance of the first 16 embedding dimensions in ONE
    map-side-combined aggregate (operators/embedpca.covariance_matrix) —
    the corpus-touching stage of PCA; the eigendecomposition runs on the
    driver over this d x d result (bounded-driver pattern)."""
    from hedera_etl_spark.operators.embedpca import covariance_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_matrix(emb, dims=_PCA_DIMS).orderBy("i", "j")


# ---------------------------------------------------------------------------
# contrastive positive / hard-negative mining (operators/similarity.py
# contrastive_mining) — per query: k_pos nearest same-label neighbors and
# k_neg nearest different-label neighbors.  Oracle runs the exact
# (broadcast) mode; the LSH-bucketed scale mode's subset/determinism
# properties are pinned in tests/test_similarity.py.
# ---------------------------------------------------------------------------
_KPOS, _KNEG = 2, 3

_HARDNEG_ORACLE = f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel
      FROM embeddings WHERE vec_id IN ({_IDS_SQL})
    ),
    scored AS (
      SELECT q.query_id,
             CASE WHEN e.label = q.qlabel THEN 'pos' ELSE 'neg' END AS role,
             e.vec_id AS neighbor_id,
             {fold_cosine('q.qvec', 'e.embedding', DIMS)} AS cos
      FROM q, embeddings e
      WHERE e.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, role, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id, role
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, role, rank, neighbor_id,
           CAST(CAST(cos AS DECIMAL(9,6)) AS DOUBLE) AS cos_sim
    FROM ranked
    WHERE rank <= CASE WHEN role = 'pos' THEN {_KPOS} ELSE {_KNEG} END
    ORDER BY query_id, role, rank
"""


@query(
    "sim_hard_negatives",
    _HARDNEG_ORACLE,
    tags=("sim", "contrastive", "mining"),
    # Driver-green r14; parked r15: ranked ANN retrieval via sim_ivf_topk /
    # sim_ivfpq_topk (IN); the grouped rank-band filter via
    # llm_grouped_sample (IN r15); negative-band values keep their local
    # oracle each round.
    driver_visible=False,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for embedding-model training data: per
    query, the 2 nearest same-label neighbors (positives) and the 3
    nearest different-label ones (hard negatives — close in space, wrong
    by label).  One corpus scan, one window over (query, role); the
    per-role k is a row-level CASE, not a second exchange.  At corpus
    scale pass n_planes to mine inside LSH buckets — candidates pruned
    ~2^planes-fold, and near-in-space is exactly where hard negatives
    live (operators/similarity.py contrastive_mining)."""
    from hedera_etl_spark.operators.similarity import contrastive_mining

    emb = load_table(spark, sf_dir, "embeddings")
    return contrastive_mining(emb, QUERY_IDS, k_pos=_KPOS, k_neg=_KNEG, dims=DIMS)


# ---------------------------------------------------------------------------
# PQ-ADC top-k (product quantization, Jégou et al. TPAMI 2011): corpus
# vectors compressed to m=8 code ids (k=16 codes/subspace over 64 dims),
# distances computed on the CODES via per-query lookup tables.  Fixed
# md5-derived codebooks (scale 0.35 ≈ the testdata shell) stand in for
# k-means training so the oracle reproduces the identical cells — the
# same contract as sim_ivf_topk; trained codebooks are pytest-pinned
# (tests/test_pquant.py).  Float canon: every subdistance is a
# zero-seeded sequential fold (list_reduce twin), the ADC sum folds the
# m looked-up subdistances in subspace order, and the distance rounds
# once to DECIMAL(12,6) before ranking (neighbor-id tiebreak).
# ---------------------------------------------------------------------------
from hedera_etl_spark.operators.pquant import pq_adc_topk, pq_codebooks

_PQ_M, _PQ_K, _PQ_SCALE = 8, 16, 0.35
_PQ_SUB = DIMS // _PQ_M
_PQ_BOOKS = pq_codebooks(_PQ_M, _PQ_K, DIMS, scale=_PQ_SCALE)


def _pq_sq_sql(vec: str, offset: int, code: list[float]) -> str:
    lit = "([" + ", ".join(f"{float(v)}" for v in code) + "]::DOUBLE[])"
    return (
        f"list_reduce(list_transform(generate_series(1, {_PQ_SUB}), "
        f"d -> ({vec}[{offset} + d]::DOUBLE - {lit}[d]) "
        f"* ({vec}[{offset} + d]::DOUBLE - {lit}[d])), "
        f"(acc, x) -> acc + x)"
    )


def _pq_dlists(vec: str) -> str:
    """One column per subspace: the 16-entry subdistance list."""
    cols = []
    for s, book in enumerate(_PQ_BOOKS):
        exprs = ",\n          ".join(
            _pq_sq_sql(vec, s * _PQ_SUB, code) for code in book
        )
        cols.append(f"[{exprs}] AS d{s}")
    return ",\n        ".join(cols)


_PQ_CODE_LIST = "[" + ", ".join(
    f"CAST(list_position(d{s}, list_aggregate(d{s}, 'min')) AS INT)"
    for s in range(_PQ_M)
) + "]"

_PQ_LUT_LIST = "[" + ", ".join(f"d{s}" for s in range(_PQ_M)) + "]"

_PQ_ORACLE = f"""
    WITH ed AS (
      SELECT vec_id,
        {_pq_dlists('embedding')}
      FROM embeddings
    ),
    enc AS (
      SELECT vec_id, {_PQ_CODE_LIST} AS codes FROM ed
    ),
    qd AS (
      SELECT vec_id AS query_id,
        {_pq_dlists('embedding')}
      FROM embeddings WHERE vec_id IN ({_IDS_SQL})
    ),
    qlut AS (
      SELECT query_id, {_PQ_LUT_LIST} AS lut FROM qd
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             CAST(list_reduce(
               list_transform(generate_series(1, {_PQ_M}),
                              s -> q.lut[s][e.codes[s]]),
               (acc, x) -> acc + x) AS DECIMAL(12,6)) AS dd
      FROM qlut q, enc e
      WHERE e.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, dd,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dd ASC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, CAST(dd AS DOUBLE) AS adc_dist
    FROM ranked WHERE rank <= {K}
    ORDER BY query_id, rank
"""


@query(
    "sim_pq_adc_topk",
    _PQ_ORACLE,
    tags=("sim", "ann", "pq", "adc"),
    bench=True,
    # back IN r17 (green r13, parked r14-r16).
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/pquant.py): encode the
    corpus to 8 code ids per vector (zero-shuffle in-row argmins),
    broadcast the queries with their per-subspace lookup tables, and
    rank candidates by the sum of m table lookups — the
    compressed-domain scan that replaces 64-float arithmetic with 8
    array reads at serving time, and raw vectors with ~8 bytes at rest."""
    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(
        emb, QUERY_IDS, k_neighbors=K, m=_PQ_M, n_codes=_PQ_K, dims=DIMS,
        codebooks=_PQ_BOOKS,
    )


# ---------------------------------------------------------------------------
# IVF-PQ top-k: both compressions composed — the coarse quantizer
# prunes WHICH vectors are scored (2 of 16 inverted lists probed), PQ
# codes shrink WHAT a score reads (8 lookups per candidate).  Oracle =
# the sim_ivf_topk probe CTEs grafted onto the sim_pq_adc_topk
# encode/LUT CTEs, both built from the SAME md5 literals.
# ---------------------------------------------------------------------------
_IVFPQ_ORACLE = f"""
    WITH ed AS (
      SELECT vec_id, {_DOTS_SQL} AS dots,
        {_pq_dlists('embedding')}
      FROM embeddings
    ),
    enc AS (
      SELECT vec_id,
             CAST(list_position(dots, list_max(dots)) AS BIGINT) AS bucket,
             {_PQ_CODE_LIST} AS codes
      FROM ed
    ),
    qd AS (
      SELECT vec_id AS query_id, dots, {_PQ_LUT_LIST} AS lut
      FROM ed WHERE vec_id IN ({_IDS_SQL})
    ),
    qprobe AS (
      SELECT query_id, lut, idx AS bucket,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d DESC, idx) AS pr
      FROM (SELECT query_id, lut, unnest(dots) AS d,
                   CAST(generate_subscripts(dots, 1) AS BIGINT) AS idx
            FROM qd)
    ),
    probes AS (SELECT query_id, lut, bucket FROM qprobe WHERE pr <= {N_PROBE}),
    scored AS (
      SELECT p.query_id, e.vec_id AS neighbor_id,
             CAST(list_reduce(
               list_transform(generate_series(1, {_PQ_M}),
                              s -> p.lut[s][e.codes[s]]),
               (acc, x) -> acc + x) AS DECIMAL(12,6)) AS dd
      FROM probes p JOIN enc e USING (bucket)
      WHERE e.vec_id != p.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, dd,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dd ASC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank, neighbor_id, CAST(dd AS DOUBLE) AS adc_dist
    FROM ranked WHERE rank <= {K}
    ORDER BY query_id, rank
"""


@query(
    "sim_ivfpq_topk",
    _IVFPQ_ORACLE,
    tags=("sim", "ann", "ivf", "pq", "adc"),
    # rotated IN r13 (VERDICT r12 #1 — first driver row for the NEW-r12
    # IVF-PQ composition, alongside sim_pq_adc_topk's ADC kernel row).
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-k (operators/pquant.ivfpq_topk): one
    zero-shuffle corpus pass assigns each vector's inverted list AND
    its 8 PQ codes; queries broadcast with probe lists + ADC lookup
    tables; only probed lists are scored, each candidate costing 8
    array reads — the composition that serves 10^11-vector corpora."""
    from hedera_etl_spark.operators.pquant import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, QUERY_IDS, k_neighbors=K, n_centroids=N_CENTROIDS,
        n_probe=N_PROBE, dims=DIMS, codebooks=_PQ_BOOKS,
    )


# ---------------------------------------------------------------------------
# cluster-balanced sampling (embedding-space mixture control, NEW r13)
# ---------------------------------------------------------------------------
_CBAL_ORACLE = f"""
    WITH a AS (
      SELECT vec_id, {_DOTS_SQL} AS dots FROM embeddings
    ),
    b AS (
      SELECT vec_id,
             CAST(list_position(dots, list_max(dots)) AS BIGINT) AS cluster
      FROM a
    ),
    dims AS (
      SELECT cluster, CAST(COUNT(*) AS DOUBLE) AS c FROM b GROUP BY cluster
    ),
    w AS (
      SELECT cluster, c, sqrt(c) AS wgt, SUM(sqrt(c)) OVER () AS wsum
      FROM dims
    ),
    r AS (
      SELECT cluster,
             CAST(CAST(least(1.0, (wgt / wsum)
                                  * (MIN(c * wsum / wgt) OVER ()) / c)
                       AS DECIMAL(9,6)) AS DOUBLE) AS rate
      FROM w
    )
    SELECT b.vec_id, b.cluster, r.rate
    FROM b JOIN r USING (cluster)
    WHERE ('0x' || substring(md5(concat_ws(chr(31), 'cbal',
                                           CAST(b.vec_id AS VARCHAR))), 1, 8))::BIGINT
            / 4294967296.0 < r.rate
    ORDER BY vec_id
"""


@query(
    "llm_cluster_balance",
    _CBAL_ORACLE,
    tags=("llm", "sampling", "mixture", "cluster", "embedding"),
    # Driver-green r14; parked r15: the IVF argmax assignment stays
    # driver-checked via sim_ivf_topk (IN) and the grouped-cap draw via
    # llm_grouped_sample (IN r15); the water-filling solver is value-pinned
    # in test_sampling.py.
    driver_visible=False,
)
def llm_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced resampling (operators/sampling.py
    cluster_balanced_sample — the DataComp/DCLM topic-rebalancing
    practice): every embedding assigns to its argmax-dot centroid
    (zero-shuffle in-row pass over the 16 broadcast md5-grid
    centroids), then clusters resample toward c^0.5 shares with the
    exact water-filling temperature solver — over-represented topics
    downsample, rare ones keep everything.  (vec_id, cluster, rate)
    for the exact kept set."""
    from hedera_etl_spark.operators.sampling import cluster_balanced_sample

    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_balanced_sample(
        emb, n_clusters=N_CENTROIDS, alpha=0.5, dims=DIMS, salt="cbal"
    ).orderBy("vec_id")
