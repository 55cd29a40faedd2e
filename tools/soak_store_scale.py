"""Soak the inverted store probes as the history grows 10x (VERDICT r9
#1 acceptance): per-epoch wall time for a FIXED-size batch must stay
flat while the committed store grows, because the history side is one
scan reduced map-side — never a history-sized shuffle.

Method: synthesize store history directly through the commit protocol
(hash/signature rows from spark.range — building the store through real
epochs would dominate soak time without exercising anything the epoch
runs don't), then time the SAME incremental batch against a small store
and a 10x store, for both stores:

- ParagraphHashStore + incremental_paragraph_dedup (hash probe);
- CorpusSignatureStore + incremental_dedup_batch (content probe + LSH
  candidate probe).

For contrast, the paragraph run also times the PRE-r10 probe shape
(direct left_semi/left_anti of the batch against the full history) at
both store sizes — the shape the inverted probe replaced.

Also soaks compaction: after the timing runs, compact() each store and
re-run the batch — results must be IDENTICAL (duplicate-insensitive
reads) and the dir count must be 1.

Usage: python tools/soak_store_scale.py [small_hashes] [factor]
Prints one JSON line per measurement + a final verdict line; exit 1 if
the large-store epoch exceeds FLAT_TOLERANCE x the small-store epoch.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from hedera_etl_spark.operators.incremental_dedup import (  # noqa: E402
    CorpusSignatureStore,
    incremental_dedup_batch,
)
from hedera_etl_spark.operators.paradedup import (  # noqa: E402
    ParagraphHashStore,
    incremental_paragraph_dedup,
    paragraph_occurrences,
)

FLAT_TOLERANCE = 2.0  # 10x store may cost at most 2x wall (scan-only growth)


def log(**kw):
    print(json.dumps(kw), flush=True)


def synth_hashes(spark, n, salt):
    return spark.range(n).select(
        F.md5(F.concat(F.lit(salt), F.col("id").cast("string"))).alias("para_hash")
    )


def build_paragraph_store(spark, path, n_hashes, n_batches=8):
    """History batches of synthetic hashes; batch 0 holds the md5s of the
    REAL ``hist-para <i>`` paragraphs so the measured epoch's probe has
    genuine hits, the rest are salt-distinct filler."""
    store = ParagraphHashStore(spark, path)
    per = n_hashes // n_batches
    store.commit_batch(
        "hist0",
        spark.range(per).select(
            F.md5(F.concat(F.lit("hist-para "), F.col("id").cast("string"))).alias(
                "para_hash"
            )
        ),
    )
    for b in range(1, n_batches):
        store.commit_batch(f"hist{b}", synth_hashes(spark, per, f"s{b}|"))
    return store


def paragraph_batch(spark, n_docs=2000, dup_every=10, salt=""):
    """Fixed batch: unique paragraphs, every dup_every-th doc also carries
    a paragraph that IS in the synthetic history (``hist-para <i>``)."""
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(f"unique body {salt}"),
            F.col("id").cast("string"),
            F.when(
                F.col("id") % dup_every == 0,
                F.concat(F.lit("\n\nhist-para "), F.col("id").cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def time_paragraph_epoch(spark, store, batch, bid):
    t0 = time.time()
    out = incremental_paragraph_dedup(batch, store, bid)
    n = out.count()
    return time.time() - t0, n


def time_naive_paragraph_probe(spark, store, batch):
    """The pre-r10 shape: batch occurrences semi/anti-joined directly
    against the FULL history (history shuffles)."""
    t0 = time.time()
    occ = paragraph_occurrences(batch)
    history = store.read()
    vs_store = occ.join(history.hint("merge"), "para_hash", "left_semi")
    n = vs_store.count()
    return time.time() - t0, n


def synth_sig_store(spark, path, n_docs, k=9, n_batches=8):
    store = CorpusSignatureStore(spark, path, k=k)
    per = n_docs // n_batches
    for b in range(n_batches):
        base = b * per
        content = spark.range(per).select(
            F.md5(F.concat(F.lit("c|"), (F.col("id") + base).cast("string"))).alias(
                "content_hash"
            ),
            (F.col("id") + base).alias("doc_id"),
        )
        sigs = spark.range(per).select(
            (F.col("id") + base).alias("doc_id"),
            *[
                F.xxhash64(F.concat(F.lit(f"m{i}|"), (F.col("id") + base).cast("string")))
                for i in range(k)
            ],
        ).toDF("doc_id", *[f"mh_{i}" for i in range(k)])
        store.commit_batch(f"hist{b}", content, sigs)
    return store


def sig_batch(spark, n_docs=300, salt=""):
    """Batch docs, shingle-disjoint across docs (every 3-shingle contains
    the doc id) AND across salts (every 3-shingle contains a salted
    word) — the warm epoch commits its docs, so the measured epoch must
    not near-dup against them."""
    i = F.col("id").cast("string")
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.lit("doc"), i, F.lit(f"alpha{salt}"), i,
            F.lit(f"bravo{salt}"), i, F.lit(f"charlie{salt}"), i,
        ).alias("text"),
    )


def time_sig_epoch(spark, store, batch, bid):
    t0 = time.time()
    accepted, stats = incremental_dedup_batch(store, batch, bid)
    n = accepted.count()
    return time.time() - t0, n


def main():
    small = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.showConsoleProgress", "false")
        .appName("soak_store_scale")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="soak_store_scale_")
    failures = []
    try:
        # ---- paragraph store -------------------------------------------------
        results = {}
        for label, n in (("small", small), ("large", small * factor)):
            store = build_paragraph_store(
                spark, os.path.join(root, f"pstore_{label}"), n
            )
            batch = paragraph_batch(spark)
            # warm epoch (JIT/file-listing constants) on DIFFERENT content,
            # then the measured epoch
            time_paragraph_epoch(
                spark, store, paragraph_batch(spark, salt="warm "), "warm"
            )
            sec, rows = time_paragraph_epoch(spark, store, batch, "epoch")
            nsec, hits = time_naive_paragraph_probe(spark, store, batch)
            results[label] = sec
            log(
                store="paragraph", size=n, epoch_sec=round(sec, 3),
                accepted=rows, naive_probe_sec=round(nsec, 3), store_hits=hits,
            )
        ratio = results["large"] / results["small"]
        log(store="paragraph", growth=factor, wall_ratio=round(ratio, 2))
        if ratio > FLAT_TOLERANCE:
            failures.append(f"paragraph epoch grew {ratio:.2f}x on {factor}x store")

        # ---- signature store -------------------------------------------------
        results = {}
        for label, n in (("small", small // 10), ("large", small)):
            store = synth_sig_store(spark, os.path.join(root, f"sstore_{label}"), n)
            batch = sig_batch(spark)
            time_sig_epoch(spark, store, sig_batch(spark, salt="warm "), "warm")
            sec, rows = time_sig_epoch(spark, store, batch, "epoch")
            results[label] = sec
            log(store="signature", size=n, epoch_sec=round(sec, 3), accepted=rows)
        ratio = results["large"] / results["small"]
        log(store="signature", growth=factor, wall_ratio=round(ratio, 2))
        if ratio > FLAT_TOLERANCE:
            failures.append(f"signature epoch grew {ratio:.2f}x on {factor}x store")

        # ---- compaction equivalence -----------------------------------------
        pstore = build_paragraph_store(spark, os.path.join(root, "pstore_cmp"), small // 10)
        batch = paragraph_batch(spark, n_docs=500)
        before = sorted(
            (r["doc_id"], r["text"])
            for r in incremental_paragraph_dedup(batch, pstore, "probe").collect()
        )
        # drop the probe commit so the post-compaction run re-decides
        shutil.rmtree(os.path.join(pstore.hashes_dir, "batch=probe"))
        folded = pstore.compact()
        after = sorted(
            (r["doc_id"], r["text"])
            for r in incremental_paragraph_dedup(batch, pstore, "probe2").collect()
        )
        same = before == after
        log(store="paragraph", compacted_dirs=folded, post_compact_identical=same,
            live_dirs=len(pstore.committed_batches()))
        if not same:
            failures.append("paragraph results changed after compaction")

        sstore = synth_sig_store(spark, os.path.join(root, "sstore_cmp"), small // 10)
        sbatch = sig_batch(spark, n_docs=100)
        a1, _ = incremental_dedup_batch(sstore, sbatch, "probe")
        before = sorted(r["doc_id"] for r in a1.collect())
        for root_dir in (sstore.content_dir, sstore.sigs_dir):
            shutil.rmtree(os.path.join(root_dir, "batch=probe"))
        folded = sstore.compact()
        a2, _ = incremental_dedup_batch(sstore, sbatch, "probe2")
        after = sorted(r["doc_id"] for r in a2.collect())
        same = before == after
        log(store="signature", compacted_dirs=folded, post_compact_identical=same)
        if not same:
            failures.append("signature results changed after compaction")

        log(verdict="FAIL" if failures else "PASS", failures=failures)
        sys.exit(1 if failures else 0)
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
