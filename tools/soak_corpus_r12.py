"""sf0.1-scale soak of the r12 corpus-ingest additions: the
store-commit→ledger-write crash-window heal, the post_decontam URL
commit policy (contaminated first crawls stay reclaimable), eval
version fingerprints, and the non-latest-epoch heal refusal — crash
injections in every NEW window (the soak ritual — each store soak so
far has found a real bug).

Corpus: sf0.1 documents with syntactic URL variants; a 1/53 slice
doubles as eval v1.  Pipeline runs with url_commit_policy=
"post_decontam" + ledger + eval throughout.

Epochs and injections:

1. epoch 1 baseline: accepted ∪ ledgered partition the input
   exactly-once; contaminated docs reach neither the corpus nor the
   URL store (the post_decontam policy — their URLs stay unclaimed).
2. CRASH (the r12 window): epoch 2 is processed but the ledger write
   dies AFTER the signature-store commit.  The restart replay must
   re-derive and write the missing ledger batch; a SECOND forced
   re-derivation must produce the identical rows (the determinism the
   heal relies on, exercised at corpus scale).
3. reclaim: epoch 3 recrawls a v1-contaminated doc's canonical URL
   with CLEAN content — under post_decontam the URL was never
   committed, so the clean recrawl lands (and now claims the URL).
4. fingerprint guard: re-registering eval v1 with different content
   raises; the same content re-registers fine (plain restart).
5. non-latest refusal: delete epoch 1's ledger batch and replay
   epoch 1 — the heal must refuse (later epochs committed) and write
   nothing.
6. compaction of all stores, then the LATEST epoch's ledger deleted
   and replayed — the heal must work across folded batch dirs
   (origin-attributed exclusion).

Run: python tools/soak_corpus_r12.py [sf_dir] [workdir]
Prints one JSON line per check; exits 1 on any violated invariant.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import warnings

sys.path.insert(0, "/root/repo")

from hedera_etl_spark.session import get_spark
from hedera_etl_spark.streaming.corpus import CorpusIngestPipeline
from hedera_etl_spark.tables import load_table


def log(**kw):
    print(json.dumps(kw), flush=True)


def write_jsonl(path: str, rows) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        for doc_id, text, url in rows:
            fh.write(json.dumps({"doc_id": doc_id, "text": text, "url": url}) + "\n")
    os.rename(tmp, path)


def url_for(doc_id: int, variant: int = 0) -> str:
    sel = (doc_id + variant) % 3
    scheme = "HTTPS" if sel == 0 else "https"
    port = ":443" if sel == 1 else ""
    q = "?b=2&utm_source=f&a=1" if sel == 2 else "?a=1&b=2"
    return f"{scheme}://h{doc_id % 7}.example.com{port}/p-{doc_id}{q}"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/corpus_soak_r12"
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "in")
    os.makedirs(inp)
    spark = get_spark("corpus-soak-r12")
    spark.sparkContext.setLogLevel("ERROR")
    failures: list[str] = []

    def check(name: str, ok: bool, **detail):
        if not ok:
            failures.append(name)
        log(check=name, ok=ok, **detail)

    docs = [
        (int(r["doc_id"]), str(r["text"]))
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    ]
    eval_rows = [(10_000_000 + i, t) for i, t in docs if i % 53 == 0]
    eval_v1 = spark.createDataFrame(eval_rows, ["doc_id", "text"])
    contaminated = {i for i, t in docs if i % 53 == 0 and len(t.split()) >= 13}

    ledger_dir = os.path.join(work, "ledger")

    def pipeline(eval_docs=eval_v1, version="v1", crash_ledger=False):
        p = CorpusIngestPipeline(
            spark,
            input_dir=inp,
            corpus_table=os.path.join(work, "corpus"),
            store_path=os.path.join(work, "store"),
            checkpoint=os.path.join(work, "ckpt"),
            min_tokens=5,
            eval_docs=eval_docs,
            eval_version=version,
            ledger_dir=ledger_dir,
            url_field="url",
            url_commit_policy="post_decontam",
        )
        if crash_ledger:
            def boom(ledger, bid):
                raise RuntimeError("injected: died before ledger write")

            p._commit_ledger_batch = boom
        return p

    # ---- epoch 1: baseline ------------------------------------------------
    e1 = [(i, t, url_for(i)) for i, t in docs]
    write_jsonl(os.path.join(inp, "e1.jsonl"), e1)
    p = pipeline()
    p.run_until_drained()
    corpus_ids = {r["doc_id"] for r in p.read_corpus().collect()}
    led = p.read_ledger().filter("epoch = 'stream-0'")
    led_ids = {r["doc_id"] for r in led.select("doc_id").distinct().collect()}
    inp_ids = {i for i, _ in docs}
    check(
        "e1_partition_exactly_once",
        (corpus_ids | led_ids) == inp_ids and not (corpus_ids & led_ids),
        n_corpus=len(corpus_ids), n_ledgered=len(led_ids), n_in=len(inp_ids),
    )
    check(
        "e1_contaminated_never_accepted",
        not (contaminated & corpus_ids),
        n_contaminated=len(contaminated),
    )
    # post_decontam policy: a contaminated doc's canonical URL stays
    # unclaimed (pick contaminated docs that were their URL-group keeper)
    url_store_ids = {
        r["doc_id"] for r in p.url_store.read().select("doc_id").collect()
    }
    check(
        "e1_policy_withholds_contaminated_urls",
        not (contaminated & url_store_ids),
        n_url_store=len(url_store_ids),
    )

    # ---- epoch 2: CRASH in the ledger write window ------------------------
    e2 = [(100_000 + i, t + " recrawl tail", url_for(i, 1)) for i, t in docs[:800]]
    # half share epoch-1 canonical URLs (recrawls), half are new URLs
    e2 += [
        (200_000 + i, f"fresh epoch two content {i} " + t[:64], f"https://new{i}.site/x")
        for i, (_, t) in enumerate(docs[:400])
    ]
    write_jsonl(os.path.join(inp, "e2.jsonl"), e2)
    p_crash = pipeline(crash_ledger=True)
    crashed = False
    try:
        p_crash.run_until_drained()
    except Exception:
        crashed = True
    check(
        "e2_crash_window_real",
        crashed
        and p_crash.store.has_batch("stream-1")
        and not os.path.isdir(os.path.join(ledger_dir, "batch-stream-1")),
    )
    # restart: the replay heals the missing ledger batch
    p2 = pipeline()
    p2.run_until_drained()  # replays epoch 2 off the uncommitted checkpoint
    check(
        "e2_heal_wrote_ledger",
        os.path.isdir(os.path.join(ledger_dir, "batch-stream-1")),
        replayed=p2.metrics.replayed_batches,
    )
    led2 = sorted(
        map(tuple, p2.read_ledger().filter("epoch = 'stream-1'").collect())
    )
    # forced second re-derivation must be identical (determinism at scale)
    shutil.rmtree(os.path.join(ledger_dir, "batch-stream-1"))
    batch2 = spark.createDataFrame(
        [(d, t) for d, t, _ in e2], ["doc_id", "text"]
    ).selectExpr("doc_id", "text").join(
        spark.createDataFrame(e2, ["doc_id", "text", "url"]).select("doc_id", "url"),
        "doc_id",
    )
    p2._process_batch(batch2.select("doc_id", "text", "url"), 1)
    led2b = sorted(
        map(tuple, p2.read_ledger().filter("epoch = 'stream-1'").collect())
    )
    check("e2_rederivation_deterministic", led2 == led2b, n_rows=len(led2))
    corpus_after_e2 = {r["doc_id"] for r in p2.read_corpus().collect()}
    recrawl_ids = {100_000 + i for i, _ in docs[:800]}
    accepted_recrawls = recrawl_ids & corpus_after_e2
    check(
        "e2_recrawls_of_claimed_urls_drop",
        # recrawls whose epoch-1 keeper doc was ACCEPTED (url committed)
        # must drop; recrawls of withheld (contaminated/floored) urls may
        # land — count only the claimed ones
        all(
            (100_000 + i) not in corpus_after_e2
            for i, _ in docs[:800]
            if i in url_store_ids
        ),
        n_recrawls_in=len(recrawl_ids), n_accepted=len(accepted_recrawls),
    )

    # ---- epoch 3: clean recrawl reclaims a contaminated URL ---------------
    reclaim_src = sorted(
        i for i, _ in docs if i in contaminated and url_for(i) and i not in url_store_ids
    )[:20]
    texts = dict(docs)
    # genuinely distinct clean texts (r11 soak lesson: near-identical
    # synthetic texts correctly near-dup each other): token-reverse the
    # doc's own text (disjoint shingle space from the original AND from
    # each other) plus a unique prefix
    e3 = [
        (300_000 + i,
         f"clean{i} rewrite " + " ".join(reversed(texts[i].split())),
         url_for(i, 2))
        for i in reclaim_src
    ]
    write_jsonl(os.path.join(inp, "e3.jsonl"), e3)
    p3 = pipeline()
    p3.run_until_drained()
    corpus_after_e3 = {r["doc_id"] for r in p3.read_corpus().collect()}
    check(
        "e3_clean_recrawl_reclaims_withheld_url",
        all((300_000 + i) in corpus_after_e3 for i in reclaim_src),
        n_reclaims=len(reclaim_src),
    )
    url_ids_after = {
        r["doc_id"] for r in p3.url_store.read().select("doc_id").collect()
    }
    check(
        "e3_reclaimed_urls_now_claimed",
        all((300_000 + i) in url_ids_after for i in reclaim_src),
    )

    # ---- fingerprint guard -------------------------------------------------
    ok_same = True
    try:
        pipeline()  # same content, same version: fine
    except ValueError:
        ok_same = False
    raised = False
    try:
        changed = spark.createDataFrame(
            eval_rows + [(99_999_999, "a brand new eval item with plenty of "
                                      "tokens to clear the shingle window size")],
            ["doc_id", "text"],
        )
        pipeline(eval_docs=changed, version="v1")
    except ValueError:
        raised = True
    check("eval_fingerprint_guard", ok_same and raised)

    # ---- non-latest refusal -------------------------------------------------
    shutil.rmtree(os.path.join(ledger_dir, "batch-stream-0"))
    batch1 = spark.createDataFrame(e1, ["doc_id", "text", "url"])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        p3._process_batch(batch1, 0)
        refused = any("refusing to backfill" in str(x.message) for x in w)
    check(
        "old_epoch_backfill_refused",
        refused and not os.path.isdir(os.path.join(ledger_dir, "batch-stream-0")),
    )

    # ---- compaction + heal interplay ----------------------------------------
    p3.store.compact()
    p3.url_store.compact()
    p3.compact_corpus()
    shutil.rmtree(os.path.join(ledger_dir, "batch-stream-2"))
    batch3 = spark.createDataFrame(e3, ["doc_id", "text", "url"])
    p3._process_batch(batch3, 2)  # latest epoch: heals across folded stores
    led3 = p3.read_ledger().filter("epoch = 'stream-2'").count()
    check(
        "heal_after_compaction",
        os.path.isdir(os.path.join(ledger_dir, "batch-stream-2")),
        n_rows=led3,
    )
    corpus_final = {r["doc_id"] for r in p3.read_corpus().collect()}
    check("compaction_preserved_corpus", corpus_final == corpus_after_e3)

    log(verdict="FAIL" if failures else "PASS", failures=failures)
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
