"""sf0.1-scale soak of the r10 corpus-ingest additions: streaming
decontamination + DEFERRED paragraph-hash commits, with a crash
injection in the new window (the soak ritual — every store soak so far
has found a real bug).

Corpus: sf0.1 documents reshaped as 3-paragraph pages (unique intro, a
shared boilerplate pool, the original text); an eval set built from a
slice of the corpus (those docs are contaminated by construction).

Epochs and injections:

1. epoch 1 baseline: contaminated docs dropped BEFORE any store commit
   (invariant: no contaminated doc reaches the corpus, and neither its
   content hash nor its unique intro-paragraph hash exists in any
   store);
2. epoch 2: two fresh docs — Y carries a long novel paragraph P1; X is
   a NEAR-dup of Y (one token changed) carrying an additional NOVEL
   paragraph.  Doc-level dedup rejects X (min-id keeper = Y), and the
   DEFERRED commit must NOT record X's novel paragraph (the ADVICE r9
   contract, exercised at sf0.1 scale);
3. CRASH WINDOW: replay epoch 2 after deleting its paragraph-store
   batch dir (dying between the doc-store commit and the deferred
   paragraph commit) — the replay must re-commit the identical hash set
   and leave the corpus byte-identical;
4. epoch 3: a fresh doc carrying the rejected NOVEL paragraph — it must
   SURVIVE (its one legitimate home), proving the deferred commit kept
   it claimable;
5. compaction of all three stores, then one more epoch reusing P1 —
   history still cuts post-compaction.

Run: python tools/soak_corpus_r10.py [sf_dir] [workdir]
Prints one JSON line per check; exits 1 on any violated invariant.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from hedera_etl_spark.session import get_spark
from hedera_etl_spark.streaming.corpus import CorpusIngestPipeline
from hedera_etl_spark.tables import load_table

BOILERS = [
    f"SHARED BOILERPLATE BLOCK number {i} please subscribe today" for i in range(5)
]
P1 = " ".join(f"fresh{j}" for j in range(200))
P1_VARIANT = " ".join(f"fresh{j}" for j in range(199)) + " changed"
NOVEL = "a genuinely novel paragraph that must stay claimable forever"


def log(**kw):
    print(json.dumps(kw), flush=True)


def md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def write_jsonl(path: str, rows) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        for doc_id, text in rows:
            fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    os.rename(tmp, path)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/corpus_soak_r10"
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "in")
    os.makedirs(inp)
    spark = get_spark("corpus-soak-r10")
    spark.sparkContext.setLogLevel("ERROR")
    failures: list[str] = []

    docs = [
        (int(r["doc_id"]), str(r["text"]))
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    ]

    def paged(doc_id: int, text: str) -> str:
        return (
            f"intro paragraph for page {doc_id}\n\n"
            f"{BOILERS[doc_id % len(BOILERS)]}\n\n{text}"
        )

    # eval set: every 37th doc's paged text is a benchmark item
    eval_rows = [(10_000_000 + i, paged(i, t)) for i, t in docs if i % 37 == 0]
    eval_docs = spark.createDataFrame(eval_rows, ["doc_id", "text"])
    contaminated_ids = {i for i, _ in docs if i % 37 == 0}

    def pipeline():
        return CorpusIngestPipeline(
            spark,
            input_dir=inp,
            corpus_table=os.path.join(work, "corpus"),
            store_path=os.path.join(work, "store"),
            checkpoint=os.path.join(work, "ckpt"),
            paragraph_dedup_sep="\n\n",
            eval_docs=eval_docs,
            max_files_per_trigger=1,
        )

    # ---- epoch 1 ----------------------------------------------------------
    e1 = [(i, paged(i, t)) for i, t in docs]
    write_jsonl(os.path.join(inp, "e1.jsonl"), e1)
    p = pipeline()
    t0 = time.time()
    m = p.run_until_drained()
    log(epoch=1, sec=round(time.time() - t0, 1), rows_in=m.rows_in,
        accepted=m.accepted, dropped_contaminated=m.dropped_contaminated)
    # >=: a non-eval doc sharing a 13-gram with an eval doc (duplicate
    # source texts) is LEGITIMATELY contaminated too
    if m.dropped_contaminated < len(contaminated_ids):
        failures.append(
            f"epoch1 dropped {m.dropped_contaminated} contaminated, "
            f"expected >= {len(contaminated_ids)}"
        )
    corpus_ids = {r["doc_id"] for r in p.read_corpus().collect()}
    if corpus_ids & contaminated_ids:
        failures.append("contaminated docs reached the corpus")
    bad_content = {md5(paged(i, t)) for i, t in docs if i in contaminated_ids}
    store_content = {r["content_hash"] for r in p.store.content().collect()}
    if bad_content & store_content:
        failures.append("contaminated content hash committed to signature store")
    bad_intros = {md5(f"intro paragraph for page {i}") for i in contaminated_ids}
    para_hashes = {r["para_hash"] for r in p.paragraph_store.read().collect()}
    if bad_intros & para_hashes:
        failures.append("contaminated doc's paragraph hash committed")
    log(check="epoch1_store_hygiene", ok=not failures,
        store_docs=len(store_content), para_hashes=len(para_hashes))

    # ---- epoch 2: rejected near-dup carries a novel paragraph ------------
    e2 = [
        (20_000_000, P1),
        (20_000_001, f"{P1_VARIANT}\n\n{NOVEL}"),
    ]
    write_jsonl(os.path.join(inp, "e2.jsonl"), e2)
    m2 = pipeline().run_until_drained()
    p2 = pipeline()
    accepted2 = {r["doc_id"] for r in p2.read_corpus().collect()} - corpus_ids
    log(epoch=2, accepted_new=sorted(accepted2), dropped_near=m2.dropped_near)
    if accepted2 != {20_000_000}:
        failures.append(f"epoch2 accepted {sorted(accepted2)}, expected [20000000]")
    para_hashes2 = {r["para_hash"] for r in p2.paragraph_store.read().collect()}
    ok = md5(NOVEL) not in para_hashes2 and md5(P1) in para_hashes2
    log(check="deferred_commit_withholds_rejected_paragraph", ok=ok)
    if not ok:
        failures.append("rejected doc's novel paragraph was committed (ADVICE r9)")

    # ---- crash window: die between doc-store and paragraph commits -------
    before_hashes = para_hashes2
    before_corpus = sorted(map(tuple, p2.read_corpus().collect()))
    shutil.rmtree(os.path.join(p2.paragraph_store.hashes_dir, "batch=stream-1"))
    batch_df = spark.createDataFrame(e2, ["doc_id", "text"])
    p3 = pipeline()
    p3._process_batch(batch_df, 1)
    after_hashes = {r["para_hash"] for r in p3.paragraph_store.read().collect()}
    after_corpus = sorted(map(tuple, p3.read_corpus().collect()))
    ok = after_hashes == before_hashes and after_corpus == before_corpus
    log(check="crash_between_doc_and_paragraph_commit_replays_identically", ok=ok)
    if not ok:
        failures.append("crash-window replay diverged")

    # ---- epoch 3: the withheld paragraph finds its legitimate home -------
    e3 = [(30_000_000, f"{NOVEL}\n\nepoch three unique closing text body")]
    write_jsonl(os.path.join(inp, "e3.jsonl"), e3)
    pipeline().run_until_drained()
    p4 = pipeline()
    rows = {r["doc_id"]: r["text"] for r in p4.read_corpus().collect()}
    ok = rows.get(30_000_000, "").startswith(NOVEL)
    log(check="withheld_paragraph_survives_in_later_epoch", ok=ok)
    if not ok:
        failures.append("novel paragraph was cut in epoch 3")

    # ---- compaction + post-compaction decisions --------------------------
    folded = (
        p4.compact_corpus(),
        p4.store.compact(),
        p4.paragraph_store.compact(),
    )
    e4 = [(40_000_000, f"recheck\n\n{P1}")]
    write_jsonl(os.path.join(inp, "e4.jsonl"), e4)
    pipeline().run_until_drained()
    p5 = pipeline()
    row = [r for r in p5.read_corpus().collect() if r["doc_id"] == 40_000_000]
    ok = len(row) == 1 and row[0]["text"] == "recheck"
    log(check="post_compaction_history_still_cuts", folded=folded, ok=ok)
    if not ok:
        failures.append(f"post-compaction epoch wrong: {row!r}")

    log(verdict="FAIL" if failures else "PASS", failures=failures)
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
