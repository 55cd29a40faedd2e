"""Soak the incremental paragraph-dedup store at sf0.1 with crash and
replay injections (the soak ritual — every store soak so far has found
a real bug).

Corpus: sf0.1 documents reshaped into paragraph documents — a unique
intro, one of a small pool of shared boilerplates (the recycled-banner
hazard), and the original text.  Three epochs with overlapping content
drive the store; injections:

1. stale staging dir planted before an epoch (heal must sweep it);
2. replay of a committed epoch AFTER later epochs committed — must be
   byte-identical (the exclude-own-batch read plus the disjointness of
   later batches' hashes from this epoch's paragraphs);
3. replay of every epoch on a fresh pipeline — zero new acceptance.

Global invariant checked over the union of all accepted outputs: every
dedup-eligible paragraph hash appears EXACTLY once corpus-wide
(keep-first within epochs, store-cut across epochs).

Usage: python tools/soak_paradedup.py [sf_dir]
Prints one JSON line per epoch + a final verdict line; exit 1 on any
violated invariant.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from hedera_etl_spark.operators.paradedup import (  # noqa: E402
    ParagraphHashStore,
    incremental_paragraph_dedup,
    paragraph_occurrences,
)
from hedera_etl_spark.session import get_spark  # noqa: E402
from hedera_etl_spark.tables import load_table  # noqa: E402

BOILERS = [
    "SUBSCRIBE to our newsletter for daily updates and exclusive content",
    "This article is licensed under a Creative Commons Attribution license",
    "Cookie notice: we use cookies to improve your browsing experience",
]


def epoch_docs(spark, sf_dir: str, epoch: int, n_epochs: int = 3):
    """Epoch slice: each doc gets a unique intro, a boilerplate chosen
    by doc_id (shared across epochs!), and its original text.  Later
    epochs re-ingest a third of the previous epoch's docs under new ids
    (pure recycled content) plus fresh docs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    part = docs.filter(F.col("doc_id") % n_epochs == epoch)
    boiler = F.element_at(
        F.array(*[F.lit(b) for b in BOILERS]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    fresh = part.select(
        (F.col("doc_id") + epoch * 10_000_000).alias("doc_id"),
        F.concat(
            F.lit(f"epoch {epoch} intro "), F.col("doc_id").cast("string"),
            F.lit("\n\n"), boiler, F.lit("\n\n"), F.col("text"),
        ).alias("text"),
    )
    if epoch == 0:
        return fresh
    prev = docs.filter(
        (F.col("doc_id") % n_epochs == epoch - 1) & (F.col("doc_id") % 2 == 0)
    )
    recycled = prev.select(
        (F.col("doc_id") + epoch * 10_000_000 + 5_000_000).alias("doc_id"),
        F.concat(
            F.lit(f"epoch {epoch - 1} intro "), F.col("doc_id").cast("string"),
            F.lit("\n\n"), boiler, F.lit("\n\n"), F.col("text"),
        ).alias("text"),
    )
    return fresh.unionByName(recycled)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("soak-paradedup")
    import tempfile

    root = tempfile.mkdtemp(prefix="paradedup-soak-")
    store_path = os.path.join(root, "pstore")
    store = ParagraphHashStore(spark, store_path)
    rc = 0
    outputs = {}

    for epoch in range(3):
        if epoch == 1:  # injection 1: stale staging dir before the run
            os.makedirs(
                os.path.join(store_path, "hashes", ".batch=junk.__new"),
                exist_ok=True,
            )
            store = ParagraphHashStore(spark, store_path)  # reopen heals
            if os.path.exists(
                os.path.join(store_path, "hashes", ".batch=junk.__new")
            ):
                print(json.dumps({"fail": "staging dir not healed"}))
                rc = 1
        docs = epoch_docs(spark, sf_dir, epoch).persist()
        n_in = docs.count()
        t0 = time.time()
        out = incremental_paragraph_dedup(docs, store, f"e{epoch}").persist()
        n_out = out.count()
        outputs[epoch] = out
        print(
            json.dumps(
                {
                    "epoch": epoch,
                    "docs_in": n_in,
                    "docs_out": n_out,
                    "store_hashes": store.read().count(),
                    "elapsed_sec": round(time.time() - t0, 2),
                }
            )
        )

    # injection 2: replay epoch 1 AFTER epoch 2 committed
    docs1 = epoch_docs(spark, sf_dir, 1).persist()
    replay = incremental_paragraph_dedup(docs1, store, "e1")
    a = {(r["doc_id"], r["text"]) for r in outputs[1].collect()}
    b = {(r["doc_id"], r["text"]) for r in replay.collect()}
    if a != b:
        print(json.dumps({"fail": "replay-after-later-batches diverged",
                          "only_first": len(a - b), "only_replay": len(b - a)}))
        rc = 1

    # global invariant: each eligible paragraph hash appears exactly
    # once across ALL accepted outputs
    union = outputs[0]
    for e in (1, 2):
        union = union.unionByName(outputs[e])
    dup_hashes = (
        paragraph_occurrences(union)
        .groupBy("para_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    if dup_hashes:
        print(json.dumps({"fail": "duplicate paragraphs across epochs",
                          "n_hashes": dup_hashes}))
        rc = 1

    print(json.dumps({"verdict": "PASS" if rc == 0 else "FAIL",
                      "dup_hashes_across_corpus": dup_hashes,
                      "replay_identical": a == b}))
    return rc


if __name__ == "__main__":
    sys.exit(main())
