"""Multimodal-column registry entries (operators/multimodal.py).

The binary payload is the UTF-8 encoding of documents.text (no real media
in the container), which lets the DuckDB oracle reproduce every derived
value: octet_length(encode(text)) for byte math, md5(text) for the
deterministic fake decode (python hashlib.md5 over UTF-8 bytes == SQL
md5 over the VARCHAR).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hedera_etl_spark.operators.multimodal import (
    audio_chunk_features,
    decode_image_metadata,
    payload_stats,
    resize_images,
    sample_frames,
    with_payload,
)
from hedera_etl_spark.queries import query
from hedera_etl_spark.tables import load_table


@query(
    "mm_payload_decode",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5,
           hex(encode(substring(text, 1, 8))) AS prefix_hex,
           CASE (('0x' || substring(md5(text), 5, 1))::INT % 3)
             WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
           16 + ('0x' || substring(md5(text), 1, 2))::BIGINT AS width,
           16 + ('0x' || substring(md5(text), 3, 2))::BIGINT AS height,
           CAST(64 AS BIGINT) AS out_width,
           CAST(64 AS BIGINT) AS out_height,
           CAST(256 AS BIGINT) AS n_bytes_out,
           repeat(md5(text), 16) AS resized_hex
    FROM documents ORDER BY doc_id
    """,
    tags=("mm", "binary", "decode", "image", "pandas-udf"),
    # rotated back IN r17 (parked r13-r16, window-green r12: the
    # parked-age limit of tools/ledger.py).
)
def mm_payload_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three multimodal image paths in one entry, joined on the doc
    key: decode-free binary stats (byte length / content hash / hex
    prefix — pure JVM built-ins that never leave codegen), the
    Arrow-batched mapInPandas metadata decode, and the binary-in/
    binary-out mapInPandas resize (the former mm_resize entry, folded in
    by the r6 registry consolidation) whose deterministic fake thumbnail
    is the payload's md5 repeated to 256 bytes — so resized_hex IS
    repeat(md5(text), 16), proving the Arrow round trip carries binary
    columns byte-for-byte.  Real decode stays gated behind
    real_decode=True / NotImplementedError (no media libs in this
    container)."""
    docs = with_payload(load_table(spark, sf_dir, "documents"))
    stats = payload_stats(docs)
    meta = decode_image_metadata(docs).select("doc_id", "format", "width", "height")
    thumb = resize_images(docs, target=(64, 64)).select(
        "doc_id",
        "out_width",
        "out_height",
        "n_bytes_out",
        F.lower(F.hex("resized")).alias("resized_hex"),
    )
    return stats.join(meta, "doc_id").join(thumb, "doc_id").orderBy("doc_id")


@query(
    "mm_frame_sample",
    """
    SELECT doc_id, frame_idx, frame_idx * 1000 AS frame_ts_ms
    FROM (
      SELECT doc_id,
             unnest(generate_series(0, (n_chars * 40) // 1000)) AS frame_idx
      FROM documents
    )
    ORDER BY doc_id, frame_idx
    """,
    tags=("mm", "video", "explode"),
    # parked r17 (green r16): explode fan-out via
    # q14_explode_tokens (IN) + hed_tx_explode_transfers (IN).
    driver_visible=False,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling fan-out: explode over a computed per-row index
    sequence (duration faked from n_chars) — the production plan shape for
    per-frame processing of a video table."""
    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(docs).orderBy("doc_id", "frame_idx")


@query(
    "mm_audio_features",
    """
    WITH hx AS (
      SELECT doc_id, hex(encode(text)) AS h FROM documents
    ),
    n AS (
      SELECT doc_id, h,
             CAST(greatest((len(h) // 2 + 399) // 400, 1) AS BIGINT) AS n_chunks
      FROM hx
    ),
    e AS (
      SELECT doc_id, h, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM n
    ),
    c AS (
      SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
             substring(h, chunk_idx * 800 + 1, 800) AS ch
      FROM e
    )
    SELECT doc_id, chunk_idx,
           CAST(len(ch) // 2 AS BIGINT) AS n_bytes,
           CAST(coalesce(list_sum(list_transform(regexp_extract_all(ch, '..'),
                                                 p -> ('0x' || p)::BIGINT)), 0)
                AS BIGINT) AS energy,
           CAST(coalesce(list_max(list_transform(regexp_extract_all(ch, '..'),
                                                 p -> ('0x' || p)::BIGINT)), 0)
                AS BIGINT) AS peak
    FROM c
    ORDER BY doc_id, chunk_idx
    """,
    tags=("mm", "audio", "explode"),
    # Rotated back INTO the driver window in r9 (VERDICT r8 #1: last
    # driver-green r5, three rounds stale); mm_payload_decode parks in
    # exchange and this entry now carries the multimodal family's
    # driver row (chunked mapInPandas feature extraction).
    # parked r17 (window-green r14): the decode-free binary-payload built-
    # ins stay window-checked via mm_payload_decode (IN) and the explode
    # fan-out via hed_tx_explode_transfers (IN); chunk byte math stays
    # pinned in tests/test_stateful.py.
    driver_visible=False,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style chunk features over the binary payload: per-400-byte
    chunk explode + byte statistics (energy = sum, peak = max), all JVM
    built-ins (operators/multimodal.py audio_chunk_features).  The oracle
    reproduces the byte math at the hex level (2 hex chars per byte), so
    the check is byte-exact for any UTF-8 content.  chunk_md5 is
    projected out: DuckDB has no md5(BLOB)."""
    docs = with_payload(load_table(spark, sf_dir, "documents"))
    return (
        audio_chunk_features(docs, chunk_bytes=400)
        .select("doc_id", "chunk_idx", "n_bytes", "energy", "peak")
        .orderBy("doc_id", "chunk_idx")
    )


def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone resize path (no longer a registry entry — its columns
    are oracle-checked inside mm_payload_decode since the r6 registry
    consolidation); kept for the zero-shuffle plan audit in
    test_plans.test_mapside_operators_have_no_pre_sort_exchange."""
    docs = with_payload(load_table(spark, sf_dir, "documents"))
    return (
        resize_images(docs, target=(64, 64))
        .select(
            "doc_id",
            "out_width",
            "out_height",
            "n_bytes_out",
            F.lower(F.hex("resized")).alias("resized_hex"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# perceptual image near-dup (operators/multimodal.image_dhash /
# phash_neardups): the image-dedup stage — 64-bit dHash fingerprints
# (two 32-bit halves), 8x8-bit banded blocking (pigeonhole-complete at
# hamming <= 6), in-bucket pair generation, exact xor-popcount verify.
# The decode is the deterministic md5 fake (the mm contract: the REAL
# PIL path plugs in behind the same gray column); every downstream
# stage is production code and the oracle reproduces it all — md5
# grid, unrolled bit terms, band values, pairs.  Corpus: every 10th
# payload re-ingested under a new id, so the exact-clone class must
# come out at hamming 0 and nothing else pairs (random 64-bit
# fingerprints collide below 7 bits with probability ~5e-12).
# ---------------------------------------------------------------------------
def _dhash_bits_sql(lo: bool) -> str:
    rng = "generate_series(0, 31)" if lo else "generate_series(32, 63)"
    shift = "b" if lo else "(b - 32)"
    return (
        f"CAST(list_sum(list_transform({rng}, b -> "
        f"CASE WHEN gray[(b // 8) * 9 + (b % 8) + 1] "
        f"> gray[(b // 8) * 9 + (b % 8) + 2] "
        f"THEN (1::BIGINT << {shift}) ELSE 0::BIGINT END)) AS BIGINT)"
    )


_PHASH_ORACLE = f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 10 = 0
    ),
    g AS (
      -- md5(text VARCHAR) == python/Spark md5 over the UTF-8 payload
      -- bytes (the mm oracle contract, see module docstring)
      SELECT doc_id,
             list_transform(generate_series(0, 71), i ->
               ('0x' || substring(md5(md5(text) || ':'
                        || CAST(i // 9 AS VARCHAR) || ':'
                        || CAST(i % 9 AS VARCHAR)), 1, 2))::INT) AS gray
      FROM corpus
    ),
    fp AS (
      SELECT doc_id,
             {_dhash_bits_sql(lo=False)} AS fp_hi,
             {_dhash_bits_sql(lo=True)} AS fp_lo
      FROM g
    ),
    bands AS (
      SELECT doc_id, fp_hi, fp_lo, band,
             CASE WHEN band < 4 THEN (fp_lo >> (band * 8)) & 255
                  ELSE (fp_hi >> ((band - 4) * 8)) & 255 END AS bv
      FROM fp, unnest(generate_series(0, 7)) AS u(band)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.fp_hi, b.fp_hi))
                + bit_count(xor(a.fp_lo, b.fp_lo)) AS INT) AS hamming
    FROM bands a JOIN bands b USING (band, bv)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.fp_hi, b.fp_hi))
          + bit_count(xor(a.fp_lo, b.fp_lo)) <= 6
    ORDER BY doc_a, doc_b
"""


@query(
    "mm_phash_neardup",
    _PHASH_ORACLE,
    tags=("mm", "dedup", "phash", "image"),
    # back IN r17 (green r13, parked r14-r16).
    # the fingerprint pass feeds bucket collection twice under AQE
    # re-use; keep plans fresh like the other pair detectors
    cache_plan=False,
)
def mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup (operators/multimodal.phash_neardups):
    dHash fingerprints over the (fake-decoded) payload grid, 8-band
    blocking, exact hamming verify — (doc_a, doc_b, hamming) for every
    pair within 6 bits; the re-ingested clone class lands at 0."""
    from hedera_etl_spark.operators.multimodal import (
        phash_neardups,
        with_payload,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = with_payload(docs).unionByName(
        with_payload(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
    )
    return (
        phash_neardups(corpus)
        .select(
            "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
        )
        .orderBy("doc_a", "doc_b")
    )
