"""Workload ``corpus``: the LLM-corpus layer, streaming and batch.

1. Stream: ``STREAM_FILES`` files of documents (bench.py's epoch synthesis)
   drained by ``CorpusIngestPipeline(max_files_per_trigger=1)``, one
   micro-batch per file against a store that grows.  Every file is due
   when the drain starts.  The first micro-batch compiles the query's
   plans; the per-layer drain rate is the documents over the trigger time
   of the ones after it.
2. Batch: bench.py's disjoint-shingle copies through
   ``prepare_training_corpus`` with bench.py's pinned stage set
   (decontaminated against the copies' own ``doc_id % 97`` slice), then
   ``pack_sequences(max_tokens=2048)``, every column hashed, ``PREPARE_RUNS``
   times; the first run compiles the plans the later ones reuse.  The
   packed documents and their token counts of every run must be those
   ``corpus_gen.prepared_texts`` derives; a traced run also checks the
   prepared texts.

The two share the text operators (near-dup, paragraph dedup); only the
stream runs the micro-batch spine and the batch-dir stores.  ``work_s``
is the wall time of the drain plus the prepare runs.
"""

from __future__ import annotations

import json
import os
import time
import zlib

import corpus_gen as C
import harness as H

STREAM_DOCS = 500
STREAM_FILES = 2
#: leading micro-batches (and prepare runs) left out of the per-layer warm
#: figures: they compile the plans that the later ones reuse
WARMUP = 1
PREPARE_RUNS = 2
BATCH_BASE_DOCS = 50
BATCH_COPIES = 10
MAX_TOKENS = 2048
DOC_SCHEMA = "doc_id long, text string, lang string, source string"
PREPARE_ARGS = dict(
    paragraph_dedup_sep="\n\n",
    near_threshold=0.5,
    decontam_mode="auto",
    min_tokens=5,
    sample_rate=0.9,
    salt="bench-prepare",
)


class Corpus:
    name = "corpus"

    def __init__(self, ctx):
        self.ctx = ctx
        self.layer: dict = {}
        self.checks: dict = {}
        self.attempted = 0
        self.failed = 0

    def _write_jsonl(self, path: str, rows: list) -> None:
        with open(path, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")

    # -- set-up ----------------------------------------------------------
    def stage(self, root: str) -> dict:
        from pyspark.sql import functions as F

        from hedera_etl_spark.streaming.corpus import CorpusIngestPipeline

        spark, seed = self.ctx.spark, self.ctx.seed
        self.stream_docs = C.documents(seed, STREAM_DOCS)
        base = C.documents(seed + 1_000_003, BATCH_BASE_DOCS)
        self.batch_docs = C.disjoint_copies(base, BATCH_COPIES)
        self.batch_eval = C.eval_docs(self.batch_docs)
        self.batch_expected = C.prepared_texts(
            self.batch_docs, self.batch_eval, PREPARE_ARGS["sample_rate"], PREPARE_ARGS["salt"])
        d = {k: os.path.join(root, k) for k in ("in", "corpus", "store", "ckpt", "batch")}
        os.makedirs(d["in"])
        os.makedirs(d["batch"])
        per = -(-STREAM_DOCS // STREAM_FILES)
        self.file_docs = {}
        for k in range(STREAM_FILES):
            chunk = self.stream_docs[k * per : (k + 1) * per]
            name = f"docs-{k:04d}.json"
            self.file_docs[name] = len(chunk)
            with open(os.path.join(d["in"], name), "w") as fh:
                fh.write("".join(C.stream_line(doc) + "\n" for doc in chunk))
        self._write_jsonl(os.path.join(d["batch"], "docs.json"), self.batch_docs)
        self._write_jsonl(os.path.join(d["batch"], "eval.json"), self.batch_eval)

        read = lambda name, schema: spark.read.schema(schema).json(  # noqa: E731
            os.path.join(d["batch"], name))
        d["pipe"] = CorpusIngestPipeline(
            spark,
            input_dir=d["in"],
            corpus_table=d["corpus"],
            store_path=d["store"],
            checkpoint=d["ckpt"],
            min_tokens=5,
            paragraph_dedup_sep="\n\n",
            url_field="url",
            max_files_per_trigger=1,
        )
        d["pdocs"] = read("docs.json", DOC_SCHEMA).select(
            "doc_id", "source",
            F.concat(F.lit("intro "), F.col("doc_id").cast("string"), F.lit("\n\n"),
                     F.lit(C.BOILERPLATE), F.lit("\n\n"), F.col("text")).alias("text"),
        )
        d["eval"] = read("eval.json", "doc_id long, text string")
        return d

    # -- measured phase ----------------------------------------------------
    def run(self, d: dict) -> dict:
        ctx, tr = self.ctx, self.ctx.tracer
        sc = ctx.spark.sparkContext
        pipe = d["pipe"]

        # 1. streaming drain: every file is due at drain start
        with tr.span("streaming.corpus.drain", parent="measure"):
            t0 = time.perf_counter()
            q = pipe.start(available_now=True)
            if not q.awaitTermination(170):
                raise TimeoutError("corpus drain did not finish")
            drain_s = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"corpus query failed: {q.exception()}")
        prog = H.progress_records(q, ctx.spark)
        data = sorted((p for p in prog if p["numInputRows"] > 0), key=lambda p: p["batchId"])
        self.attempted += 1 + len(prog)
        file_batch = H.file_batches(d["ckpt"], prog)
        self._expect("stream_files_committed", len(file_batch), STREAM_FILES)
        self._expect("stream_data_batches", len(data), STREAM_FILES)
        # documents / trigger wall of the micro-batches after the warm-up
        docs = {p["batchId"]: 0 for p in data}
        for name, p in file_batch.items():
            docs[p["batchId"]] += self.file_docs[name]
        trigger_s = [p["durationMs"]["triggerExecution"] / 1000 for p in data]
        stream_counts = H.job_group_counts(sc, str(q.runId)) if ctx.trace else None
        self._check_stream(pipe)

        # 2. batch: prepare + pack + materialize, PREPARE_RUNS times
        runs = [self._prepare(d, f"perfbench-prepare-{i}") for i in range(PREPARE_RUNS)]
        self._expect("packed_digest_repeats", [r["digest"] for r in runs],
                     [runs[0]["digest"]] * PREPARE_RUNS)
        self.digests = {"stream_accepted": self.stream_digest, "packed": runs[-1]["digest"]}

        e2e = {"work_s": drain_s + sum(r["wall"] for r in runs)}
        self.samples = {"stream_batches": len(data), "stream_trigger_s": trigger_s,
                        "drain_s": drain_s, "prepare_s": [r["wall"] for r in runs],
                        "digests": self.digests}
        if ctx.trace:
            L = self.layer
            L["streaming.corpus.drain_s"] = drain_s
            L["streaming.corpus.docs_per_s"] = \
                sum(docs[p["batchId"]] for p in data[WARMUP:]) / sum(trigger_s[WARMUP:])
            L["operators.llm_pipeline.warm_s"] = H.mean([r["wall"] for r in runs[WARMUP:]])
            self._layers(d, pipe, prog, data, stream_counts, runs)
        return e2e

    def _prepare(self, d: dict, group: str) -> dict:
        """One measured prepare + pack + materialize, checked."""
        from pyspark.sql import functions as F

        from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus
        from hedera_etl_spark.operators.packing import pack_sequences

        ctx = self.ctx
        sc = ctx.spark.sparkContext
        with ctx.tracer.span("operators.llm_pipeline.prepare", parent="measure", group=group), \
                H.job_group(sc, group, ctx.trace):
            t0 = time.perf_counter()
            out = prepare_training_corpus(d["pdocs"], eval_docs=d["eval"], **PREPARE_ARGS)
            t1 = time.perf_counter()
            packed = pack_sequences(out, max_tokens=MAX_TOKENS)
            t2 = time.perf_counter()
            # materialize every column (xxhash64 over all of them) and
            # return one row per bin, so the packing check needs no rerun
            bins = packed.select(
                "bin_id", "n_tokens", "oversize",
                F.xxhash64(*[F.col(c) for c in packed.columns]).alias("__h"),
                F.crc32(F.concat_ws(":", "doc_id", "n_tokens").cast("binary")).alias("__crc"),
            ).groupBy("bin_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(__h)").alias("h"),
                F.sum("__crc").alias("crc"),
                F.sum("n_tokens").alias("tokens"),
                F.max(F.col("oversize").cast("int")).alias("oversize"),
            ).collect()
            t3 = time.perf_counter()
        self.attempted += 1
        n_packed, digest = self._check_packed(bins)
        return {"wall": t3 - t0, "build_s": t1 - t0, "pack_build_s": t2 - t1,
                "exec_s": t3 - t2, "digest": [n_packed, digest], "bins": len(bins),
                "counts": H.job_group_counts(sc, group) if ctx.trace else None}

    # -- checks ----------------------------------------------------------
    def _expect(self, name, got, want) -> None:
        self.checks[name] = (got, want)
        if got != want:
            self.failed += 1

    def _check_stream(self, pipe) -> None:
        from pyspark.sql import functions as F

        m = pipe.metrics
        drops = (m.dropped_url + m.dropped_exact + m.dropped_near + m.dropped_paragraph_docs
                 + m.dropped_exact_substr_docs + m.dropped_contaminated)
        self._expect("stream_accounting", m.accepted + drops, STREAM_DOCS)
        self._expect("stream_dropped_url", m.dropped_url,
                     STREAM_DOCS - C.canonical_urls(self.stream_docs))
        row = pipe.read_corpus().agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("ids"),
            F.expr("bit_xor(xxhash64(doc_id))").alias("digest"),
        ).collect()[0]
        self._expect("corpus_rows", row["n"], m.accepted)
        self._expect("corpus_distinct_ids", row["ids"], m.accepted)
        self.stream_digest = [row["n"], row["digest"]]

    def _check_packed(self, bins: list) -> tuple:
        """The packing holds exactly the documents the generator expects,
        each with its expected token count (CRC32 sum over
        ``doc_id:n_tokens``), and every bin fits the token budget (an
        oversize document sits alone in its bin); returns the
        (rows, bit_xor) digest of the packing."""
        want = self.batch_expected
        over = [b["bin_id"] for b in bins
                if b["tokens"] > MAX_TOKENS and not (b["oversize"] and b["n"] == 1)]
        self._expect("packed_bins_over_budget", len(over), 0)
        n, digest = 0, 0
        for b in bins:
            n += b["n"]
            digest ^= b["h"]
        self._expect("packed_docs", n, len(want))
        self._expect("packed_doc_tokens_crc_sum", sum(b["crc"] for b in bins),
                     sum(zlib.crc32(f"{i}:{len(t.split())}".encode()) for i, t in want.items()))
        return n, digest

    def _layers(self, d, pipe, prog, data, counts, runs):
        from pyspark.sql import functions as F

        from hedera_etl_spark.operators.llm_pipeline import prepare_training_corpus
        from hedera_etl_spark.operators.packing import pack_sequences

        L, tr, m = self.layer, self.ctx.tracer, pipe.metrics
        for p in prog:
            tr.add("streaming.corpus.microbatch", p["start"], p["end"], parent="measure",
                   query=p["runId"], batch=p["batchId"], rows=p["numInputRows"],
                   durationMs=p["durationMs"])
        sc = "streaming.corpus."
        n = len(prog)
        L[sc + "batches"] = n
        L[sc + "empty_batches"] = n - len(data)
        L[sc + "trigger_s"] = sum(p["durationMs"]["triggerExecution"] for p in data) / 1000
        L[sc + "add_batch_s"] = sum(p["durationMs"]["addBatch"] for p in data) / 1000
        L[sc + "batch_s_first"] = data[0]["durationMs"]["triggerExecution"] / 1000
        L[sc + "batch_s_last"] = data[-1]["durationMs"]["triggerExecution"] / 1000
        L[sc + "jobs_per_batch"] = counts["jobs"] / n
        L[sc + "stages_per_batch"] = counts["stages"] / n
        L[sc + "tasks_per_batch"] = counts["tasks"] / n
        L[sc + "failed_tasks"] = counts["failed_tasks"] + sum(
            r["counts"]["failed_tasks"] for r in runs)
        L[sc + "rows_in"] = STREAM_DOCS
        for k in ("accepted", "dropped_url", "dropped_exact", "dropped_near",
                  "dropped_paragraph_docs", "dropped_contaminated"):
            L[sc + k] = getattr(m, k)
        store = H.dir_stats(d["store"])
        corpus = H.dir_stats(d["corpus"], "batch-")
        L[sc + "store.batch_dirs"] = sum(
            H.dir_stats(os.path.join(d["store"], s), "batch")["dirs"]
            for s in os.listdir(d["store"]) if os.path.isdir(os.path.join(d["store"], s)))
        L[sc + "store.bytes"] = store["bytes"]
        L[sc + "corpus.batch_dirs"] = corpus["dirs"]
        L[sc + "corpus.bytes"] = corpus["bytes"]

        # the prepare split is the last (warm) run's; the first run's wall
        # is its cold cost
        lp, last = "operators.llm_pipeline.", runs[-1]
        L[lp + "cold_s"] = runs[0]["wall"]
        L[lp + "build_s"] = last["build_s"]
        L["operators.packing.build_s"] = last["pack_build_s"]
        L["corpus_batch.exec_s"] = last["exec_s"]
        L[lp + "jobs"] = last["counts"]["jobs"]
        L[lp + "tasks"] = last["counts"]["tasks"]
        L["spark.retention_ok"] = int(H.retention_covers(
            self.ctx.spark.sparkContext, [counts] + [r["counts"] for r in runs]))

        L[lp + "docs_in"] = len(self.batch_docs)
        L[lp + "docs_out"] = last["digest"][0]  # pack_sequences keeps one row per document
        L["operators.packing.sequences"] = last["bins"]

        # attribution-only rerun with eager stage boundaries (stage_timings)
        timings: dict = {}
        with tr.span("operators.llm_pipeline.prepare_staged", parent="run"):
            out = prepare_training_corpus(d["pdocs"], eval_docs=d["eval"],
                                          stage_timings=timings, **PREPARE_ARGS)
            t0 = time.perf_counter()
            packed = pack_sequences(out, max_tokens=MAX_TOKENS)
            packed.select(F.xxhash64(*packed.columns).alias("h")).agg(F.count("h")).collect()
            timings["pack"] = time.perf_counter() - t0
        for k, v in timings.items():
            L[f"{lp}stage.{k}_s"] = v
        # the prepared texts themselves, which the measured run only hashes
        crc = out.select(F.sum(F.crc32(F.concat_ws("\x1f", "doc_id", "text").cast("binary")))
                         ).collect()[0][0]
        self._expect("prepared_text_crc_sum", crc, sum(
            zlib.crc32(f"{i}\x1f{t}".encode()) for i, t in self.batch_expected.items()))
