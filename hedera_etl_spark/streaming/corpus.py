"""Continuous corpus ingestion: streaming documents -> incremental dedup
-> quality floor -> append-only corpus table.

The reference's whole architecture — at-least-once streaming ingest plus
a stateful dedup healer (PubSubToBigQueryPipeline + DedupeJob) — applied
to LLM training data: documents arrive as a JSON-lines stream, and every
micro-batch is deduplicated against EVERYTHING accepted so far through
the persistent signature store (operators/incremental_dedup.py) before
appending to the corpus table.

Exactly-once acceptance under replays: foreachBatch delivers each epoch
at-least-once with a STABLE ``batch_id``; ``incremental_dedup_batch``
commits per-batch store directories named by that id, so a replayed
epoch replays the recorded decision instead of re-deciding; and the
corpus table itself is written as per-batch directories committed by
single renames (write-if-absent).  The three commit points (store,
corpus batch dir, checkpoint) can each crash in between — every window
re-runs idempotently: a replay recomputes the identical decision from
the store, re-stages the corpus batch only if its directory is missing,
and never double-appends.

Scale: per batch, the store is touched by one anti-join (content hashes)
and one LSH bucket join (signatures) — both against O(accepted docs) of
fixed-width rows, never against corpus text; history is never re-read.

Each stage of a micro-batch ends in ONE eager ``localCheckpoint`` whose
own job carries the stage's row count (``stats.counted_checkpoint``):
input, URL, each quality floor, decontamination, paragraph and span
stages in the spine; in-batch keepers, store survivors and the keeper
decision inside ``incremental_dedup_batch``.  A stage's ``before`` is the
previous stage's ``after``, so no job exists only to count.  The URL,
paragraph and span store commits are made in ``_process_batch``, from
materialized frames: the URL store from the stage's checkpointed keeper
map (at the URL stage, or after decontamination under
``url_commit_policy="post_decontam"``); the paragraph and span stores
and the corpus batch restricted to the ``accepted`` frame that
``incremental_dedup_batch`` materializes once (and from which it commits
the signature store, content + sigs).
Budget, measured with ``perfbench/run.py --workload corpus --seed 1
--trace 1`` (URL, min-token and paragraph stages, 250-document
micro-batches, 4 cores): 55 Spark jobs per micro-batch (56.5 before the
paragraph stage decided from one materialized flag frame, 94.5 before
the spine counted once); a warm micro-batch of the same stages is pinned
by ``test_stream_accounting_and_job_budget``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from hedera_etl_spark import fsutil
from hedera_etl_spark.operators.incremental_dedup import (
    CorpusSignatureStore,
    incremental_dedup_batch,
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


@dataclass
class CorpusIngestMetrics:
    batches: int = 0
    #: input rows of every non-replayed micro-batch: ``accepted`` plus
    #: the ``dropped_*`` counters sum to it
    rows_in: int = 0
    accepted: int = 0
    dropped_quality: int = 0
    dropped_exact: int = 0
    dropped_near: int = 0
    dropped_paragraph_docs: int = 0
    dropped_exact_substr_docs: int = 0
    dropped_contaminated: int = 0
    dropped_url: int = 0
    replayed_batches: int = 0
    history: list = field(default_factory=list)


class CorpusIngestPipeline:
    """File-stream of document JSON lines -> deduped corpus table."""

    def __init__(
        self,
        spark: SparkSession,
        input_dir: str,
        corpus_table: str,
        store_path: str,
        checkpoint: str,
        min_tokens: int = 0,
        gopher_rules: dict | None = None,
        text_classifier_weights: "DataFrame | bool | None" = None,
        text_classifier_min_score: float = 0.5,
        text_classifier_buckets: int = 2048,
        text_classifier_scale: int = 1000,
        near_threshold: float = 0.5,
        shingle_n: int = 3,
        minhash_hash_fn: str = "xxhash64",
        max_files_per_trigger: int | None = None,
        paragraph_dedup_sep: str | None = None,
        paragraph_min_chars: int = 1,
        exact_substr_min_len: int | None = None,
        eval_docs: DataFrame | None = None,
        decontam_n: int = 13,
        eval_version: str = "v1",
        ledger_dir: str | None = None,
        url_field: str | None = None,
        url_commit_policy: str = "always",
    ):
        self.spark = spark
        self.input_dir = input_dir
        self.corpus_table = corpus_table
        self._corpus_batches = fsutil.RetiringBatchTable(spark, corpus_table)
        # r15: default the signature hash to the production xxhash64 mode
        # prepare_training_corpus already uses (zero digest calls vs the
        # interpreted md5-hex lambdas — measured -41% on the signature
        # stage).  The store pins whichever mode first touches it, so a
        # pre-existing md5 store keeps md5 (with a warning) and replays
        # stay value-stable; pass minhash_hash_fn="md5" for the oracle-
        # canon hash.
        self.store = CorpusSignatureStore(
            spark, store_path, hash_fn=minhash_hash_fn
        )
        self.checkpoint = checkpoint
        self.min_tokens = min_tokens
        #: dict of textanalysis.gopher_quality_flags threshold overrides
        #: ({} = paper defaults) — applied as part of the quality floor;
        #: per-row deterministic, so replays re-derive identical drops
        self.gopher_rules = gopher_rules
        #: hashed-text classifier floor (operators/qualityclf.py), the
        #: streaming twin of prepare(text_classifier_weights=...).  The
        #: md5 stand-in (``True``) is replay-deterministic by
        #: construction; a caller-supplied trained table must stay
        #: FIXED for the store's lifetime — swapping weights mid-stream
        #: would make replays re-derive different drops (same contract
        #: as eval-set versioning, which pins eval_sh per epoch).
        self.text_classifier_weights = text_classifier_weights
        self.text_classifier_min_score = text_classifier_min_score
        self.text_classifier_buckets = text_classifier_buckets
        self.text_classifier_scale = text_classifier_scale
        self.near_threshold = near_threshold
        self.shingle_n = shingle_n
        self.max_files_per_trigger = max_files_per_trigger
        self.paragraph_dedup_sep = paragraph_dedup_sep
        self.paragraph_min_chars = paragraph_min_chars
        self.exact_substr_min_len = exact_substr_min_len
        self.decontam_n = decontam_n
        # streaming decontamination: the eval/benchmark shingle dimension
        # is computed ONCE and pinned; every epoch probes it map-side
        # (broadcast), so contaminated documents are dropped BEFORE any
        # store commit — a benchmark page must never be recorded as an
        # "accepted" canonical.
        #
        # VERSIONED (VERDICT r10 #7 — the r10 "only change at drained
        # boundaries" caveat made mechanical): each version's shingle
        # dimension persists under ``store/eval/version=<v>`` and every
        # epoch records which version decided it (eval_epochs.json), so
        # an eval refresh (``set_eval_docs``) takes effect from the NEXT
        # epoch while a replayed old epoch re-reads ITS version's
        # persisted shingles and reproduces its original decision —
        # byte-identical replay even across an eval rotation.
        import os as _os

        self._eval_dir = _os.path.join(store_path, "eval")
        self._eval_version = "none"
        self._eval_sh = None
        if eval_docs is not None:
            self._eval_version = eval_version
            self._eval_sh = self._persist_eval(eval_docs, eval_version)
        # the paragraph hash store lives beside the signature store and
        # commits under the SAME stable batch id, so every crash window
        # replays to the identical decision (operators/paradedup.py)
        # per-epoch removal provenance (VERDICT r10 #3, streaming side):
        # when set, every epoch whose ledger batch dir is MISSING writes
        # ledger_dir/batch-<bid> with (doc_id, stage, reason, ref_id,
        # epoch) for every dropped doc — dedup stages name their
        # duplicate (in-batch keeper or store doc id); the decontam ref
        # is NULL (the streaming store keeps only the eval SHINGLE
        # dimension, not eval ids).  Gating on the LEDGER dir (not the
        # store commit) heals the crash window between the store commit
        # and the ledger write (VERDICT r11 #2): a replayed epoch whose
        # ledger is absent re-derives the deterministic decisions
        # against the store as of before the epoch (every stage's store
        # read excludes the epoch's own batch) and writes byte-identical
        # rows; a replay whose ledger already landed skips all ledger
        # work, so nothing is ever recorded twice.
        self.ledger_dir = ledger_dir
        self._ledger_batches = (
            None if ledger_dir is None
            else fsutil.RetiringBatchTable(spark, ledger_dir)
        )
        # canonical-URL dedup (the CCNet/RefinedWeb FIRST stage): when
        # the input JSON carries a URL field, each epoch drops recrawls
        # of any canonical URL committed by an earlier epoch (plus
        # within-batch variants) BEFORE any content hashing — the
        # cheapest dedup granularity runs first.  Store protocol,
        # replay and compaction semantics: operators/urlstore.py.
        #
        # url_commit_policy (ADVICE r11 — what the store remembers):
        # "always" commits the epoch's full first-seen canonical set,
        # including URLs whose doc a later stage drops (cheapest: a
        # recrawl of a dropped page dies at the URL stage); but a URL
        # contaminated under eval v1 then stays excluded even after
        # rotating to v2, and a page whose CONTENT changed between
        # crawls never gets re-judged.  "post_decontam" defers the
        # commit until after the decontamination stage and commits only
        # URLs whose keeper is still alive then, keeping dropped pages
        # reclaimable at the price of re-running the content stages on
        # every recrawl.  Both are deterministic per epoch (the eval
        # version is pinned), so replays re-derive identical commits.
        if url_commit_policy not in ("always", "post_decontam"):
            raise ValueError(
                "url_commit_policy must be 'always' or 'post_decontam', "
                f"got {url_commit_policy!r}"
            )
        self.url_field = url_field
        self.url_commit_policy = url_commit_policy
        self.url_store = None
        if url_field is not None:
            import os

            from hedera_etl_spark.operators.urlstore import CanonicalUrlStore

            self.url_store = CanonicalUrlStore(
                spark, os.path.join(store_path, "urlstore")
            )
        self.paragraph_store = None
        if paragraph_dedup_sep is not None:
            import os

            from hedera_etl_spark.operators.paradedup import ParagraphHashStore

            self.paragraph_store = ParagraphHashStore(
                spark, os.path.join(store_path, "paragraphs")
            )
        # the span-hash store (incremental ExactSubstr, r13) lives beside
        # the signature store under the SAME stable batch id — the
        # identical crash-replay contract as the paragraph store; see
        # SpanHashStore's docstring for the corpus-order storage cost
        # that makes this an OPT-IN stage
        self.span_store = None
        if exact_substr_min_len is not None:
            import os

            from hedera_etl_spark.operators.spandedup import SpanHashStore

            self.span_store = SpanHashStore(
                spark, os.path.join(store_path, "spans")
            )
        self.metrics = CorpusIngestMetrics()

    # -- versioned eval sets (streaming decontamination) -------------------
    def _shingle_fingerprint(self, sh: DataFrame) -> dict:
        """Content fingerprint of a shingle dimension: exact count + the
        order-free XOR of per-shingle xxhash64 — one dimension-sized
        aggregate, no sort, engine-deterministic."""
        row = sh.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(shingle))").alias("h"),
        ).collect()[0]
        return {"n_shingles": row["n"], "xxhash64_xor": row["h"] or 0}

    def _persist_eval(self, eval_docs: DataFrame, version: str) -> DataFrame:
        """Persist ``version``'s shingle dimension (idempotent: an
        existing version dir wins) and return it pinned FROM DISK — the
        persisted rows, not the caller's frame, are the decision input,
        so a replay under this version reads exactly what this epoch
        read.

        Guarded against silent drift (ADVICE r11): each version records
        a content fingerprint beside its dir, and re-registering the
        SAME version name with DIFFERENT eval content raises instead of
        silently decontaminating every future epoch against the stale
        persisted set (the forgotten --eval-version bump).  A fingerprint
        file missing (pre-guard store, or a crash between the dir rename
        and the fingerprint write) is re-derived from the PERSISTED dim —
        the decision input — never from the caller's frame."""
        import json
        import os

        if version == "none":
            raise ValueError("eval_version 'none' is reserved")
        from hedera_etl_spark.operators.decontam import _ref_shingle_dim

        vdir = os.path.join(self._eval_dir, f"version={version}")
        fpath = os.path.join(self._eval_dir, f"fingerprint-version={version}.json")
        dim = _ref_shingle_dim(eval_docs, self.decontam_n, "text")
        if not os.path.isdir(vdir):
            os.makedirs(self._eval_dir, exist_ok=True)
            fsutil.commit_batch_dir(self._eval_dir, f"version={version}", dim)
        recorded = None
        if os.path.exists(fpath):
            with open(fpath) as fh:
                recorded = json.load(fh)
        else:
            # fingerprint the PERSISTED dim (the decision input) and
            # record it BEFORE any comparison, so the cache heals even
            # when this registration goes on to be rejected
            recorded = self._shingle_fingerprint(self.spark.read.parquet(vdir))
            tmpf = fpath + ".__new"
            with open(tmpf, "w") as fh:
                json.dump(recorded, fh)
            os.replace(tmpf, fpath)
        offered = self._shingle_fingerprint(dim)
        if offered != recorded:
            raise ValueError(
                f"eval version {version!r} is already registered with "
                f"different content (persisted {recorded}, offered "
                f"{offered}): bump eval_version to rotate the eval set "
                "— re-registration under the same name would silently "
                "decontaminate against the stale persisted shingles"
            )
        return self.spark.read.parquet(vdir).localCheckpoint()

    def set_eval_docs(self, eval_docs: DataFrame, version: str) -> None:
        """Rotate the eval set: effective for every SUBSEQUENT epoch.
        Epochs already recorded keep their own version (replay-stable).
        Safe at any boundary — an in-flight replayed epoch still reads
        its recorded version's persisted shingles."""
        self._eval_version = version
        self._eval_sh = self._persist_eval(eval_docs, version)

    def _epoch_eval_versions(self) -> dict:
        import json
        import os

        path = os.path.join(self._eval_dir, "eval_epochs.json")
        if not os.path.exists(path):
            return {}
        with open(path) as fh:
            return json.load(fh)

    def _record_epoch_eval(self, bid: str, version: str) -> None:
        import json
        import os

        os.makedirs(self._eval_dir, exist_ok=True)
        data = self._epoch_eval_versions()
        data[bid] = version
        tmp = os.path.join(self._eval_dir, ".eval_epochs.json.__new")
        with open(tmp, "w") as fh:
            json.dump(data, fh)
        os.replace(tmp, os.path.join(self._eval_dir, "eval_epochs.json"))

    def _eval_sh_for(self, bid: str) -> DataFrame | None:
        """The shingle dimension that decides epoch ``bid``: its
        recorded version on replay, the current version (recorded now)
        on first processing; None when the epoch runs eval-free."""
        import os

        v = self._epoch_eval_versions().get(bid)
        if v is None:
            v = self._eval_version
            self._record_epoch_eval(bid, v)
        if v == "none":
            return None
        if v == self._eval_version and self._eval_sh is not None:
            return self._eval_sh
        return self.spark.read.parquet(
            os.path.join(self._eval_dir, f"version={v}")
        )

    def _read(self) -> DataFrame:
        reader = self.spark.readStream.format("text")
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        lines = reader.load(self.input_dir)
        schema, cols = DOC_SCHEMA, ["d.doc_id", "d.text"]
        if self.url_field is not None:
            from pyspark.sql import types as T

            schema = T.StructType(
                list(DOC_SCHEMA.fields)
                + [T.StructField(self.url_field, T.StringType())]
            )
            # a missing/NULL URL passes through dedup (urlnorm rule 7),
            # so the doc filter stays on (doc_id, text) only
            cols = cols + [f"d.`{self.url_field}` AS url"]
        return lines.select(
            F.from_json(F.col("value"), schema).alias("d")
        ).selectExpr(*cols).filter(
            F.col("doc_id").isNotNull() & F.col("text").isNotNull()
        )

    def read_corpus(self, as_of: str | None = None) -> DataFrame:
        """The corpus as one DataFrame: explicit per-batch paths (live
        batches minus compaction-retired ones) rather than a blind
        recursive read, so the crash window between a compaction
        target's rename and its sources' removal never double-counts.

        ``as_of`` (r12): time-travel — the corpus exactly as it stood
        after epoch ``as_of`` (a batch id like ``stream-7``) committed,
        the snapshot a training run actually consumed.  Epoch-named
        batch dirs filter by their number; compacted targets carry
        per-row ``origin_batch`` attribution (``compact_corpus``) and
        filter by it.  A corpus compacted BEFORE origin tracking has
        NULL origins — as-of reads over it raise rather than silently
        dropping those rows."""
        table = self._corpus_batches
        dirs = table.live_dirs()
        if not dirs:
            return self.spark.createDataFrame([], DOC_SCHEMA)
        import re

        if as_of is None:
            return self.spark.read.schema(DOC_SCHEMA).parquet(*table.paths(dirs))

        def _n(name: str):
            m = re.fullmatch(r"batch-stream-(\d+)", name)
            return int(m.group(1)) if m else None

        bound = _n(f"batch-{as_of}")
        if bound is None:
            raise ValueError(
                f"as_of must be a stream epoch id like 'stream-7', got "
                f"{as_of!r}"
            )
        plain = [d for d in dirs if _n(d) is not None and _n(d) <= bound]
        compacted = [d for d in dirs if _n(d) is None]
        frames = []
        if plain:
            frames.append(
                self.spark.read.schema(DOC_SCHEMA).parquet(*table.paths(plain))
            )
        if compacted:
            ext = fsutil.with_origin_schema(DOC_SCHEMA)
            folded = self.spark.read.schema(ext).parquet(*table.paths(compacted))
            origin_n = F.regexp_extract(
                F.col(fsutil.ORIGIN_COL), r"^batch-stream-(\d+)$", 1
            )
            # NULL origins (pre-origin-tracking compactions) AND
            # non-epoch origins (a pre-tracking target refolded later
            # coalesces to its "batch-compacted-*" name) are both
            # unattributable — raise rather than silently dropping them
            # from the snapshot (r12 review finding: the original guard
            # caught only the NULL case)
            if (
                folded.filter(
                    F.col(fsutil.ORIGIN_COL).isNull() | (origin_n == "")
                )
                .limit(1)
                .count()
            ):
                raise ValueError(
                    "corpus contains rows compacted before origin "
                    "tracking (NULL or non-epoch origin_batch) — as-of "
                    "reads would silently drop them; recompact from "
                    "per-epoch batches"
                )
            frames.append(
                folded.filter(origin_n.cast("long") <= bound).select(
                    "doc_id", "text"
                )
            )
        if not frames:
            return self.spark.createDataFrame([], DOC_SCHEMA)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def corpus_epochs(self) -> DataFrame:
        """Lineage report: one row per contributing epoch — (epoch,
        n_docs) — resolved from live batch dirs plus the origin
        attribution inside compacted targets.  Dimension-sized output
        (one row per epoch ever accepted)."""
        dirs = self._corpus_batches.live_dirs()
        if not dirs:
            return self.spark.createDataFrame(
                [], "epoch string, n_docs long"
            )
        out = fsutil.origin_fold(self.spark, self.corpus_table, dirs, DOC_SCHEMA)
        return (
            out.groupBy(
                F.regexp_replace(F.col(fsutil.ORIGIN_COL), "^batch-", "").alias(
                    "epoch"
                )
            )
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("epoch")
        )

    def compact_corpus(self) -> int:
        """Fold all live per-batch corpus directories into one (the
        file-count maintenance the signature store's ``compact()``
        performs for its side: after many micro-batches, per-batch
        listing dominates open cost).  Returns the number of batch dirs
        folded (0 when there is nothing to do).

        Crash-safe through the manifest commit point of
        ``fsutil.RetiringBatchTable``.  Each row keeps its epoch in
        ``origin_batch`` (``read_corpus(as_of=...)`` depends on it), and
        ``dropDuplicates(doc_id)`` guards the merge (corpus rows are
        unique by the effectively-once invariant; the guard keeps a
        violated invariant from compounding).  Caveat (same as the
        store): run past the replay horizon of a drained/checkpointed
        stream — replays of retired batches are absorbed by the
        table's retired check."""
        return self._corpus_batches.compact(
            lambda dirs: fsutil.origin_fold(
                self.spark, self.corpus_table, dirs, DOC_SCHEMA
            ).dropDuplicates(["doc_id"])
        )

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        from hedera_etl_spark.operators.stats import counted_checkpoint

        m = self.metrics
        bid = f"stream-{batch_id}"
        replay = self.store.has_batch(bid)
        ledger = None
        if self.ledger_dir is not None and not self._ledger_batches.has(bid):
            if replay and not self._is_latest_epoch(bid):
                # the heal re-derives against the store MINUS this epoch,
                # which equals store-as-of-before-the-epoch only while no
                # LATER epoch has committed — the genuine crash window
                # always leaves the LAST epoch ledgerless, so that is the
                # only replay the heal serves.  Backfilling an older
                # epoch would attribute its near-dup drops against
                # future store rows (similarity is not transitive), so
                # refuse loudly instead of writing plausible-but-wrong
                # provenance (r12 review finding).
                import warnings

                warnings.warn(
                    f"ledger batch for replayed epoch {bid} is missing but "
                    "later epochs have committed — refusing to backfill "
                    "(re-derivation would judge against future store "
                    "state); provenance for this epoch is unrecoverable"
                )
            else:
                from hedera_etl_spark.operators.provenance import RemovalLedger

                ledger = RemovalLedger()

        def stage(name, out, pre=None, reason=None):
            """End a stage: ONE eager checkpoint, whose own job carries
            the stage's row count (no job exists only to count).  With a
            ledger, the stage's whole-doc drops are ``pre`` anti-join the
            materialized output — both sides already checkpointed."""
            out, c = counted_checkpoint(out, f"stream.{name}")
            if ledger is not None and reason is not None:
                ledger.record(
                    *reason,
                    pre.select("doc_id").join(
                        out.select("doc_id"), "doc_id", "left_anti"
                    ),
                )
            return out, c["n"]

        # the micro-batch input, read once; every later stage's `before`
        # is the previous stage's `after`
        batch, rows_in = stage("input", batch)
        n = rows_in
        pending_urls = None
        if self.url_store is not None:
            from hedera_etl_spark.operators.urlstore import incremental_url_dedup

            url_replay = self.url_store.has_batch(bid)
            out, new_urls = incremental_url_dedup(
                batch, self.url_store, bid, removal_ledger=ledger
            )
            if self.url_commit_policy == "always":
                self.url_store.commit_batch(bid, new_urls)
            else:
                pending_urls = new_urls
            batch, n_url = stage("url", out.drop("url"))
            if not url_replay:  # replays must not double-count drops
                m.dropped_url += n - n_url
            n = n_url

        n_floor_in = n
        if self.min_tokens > 0:
            # stage named identically to the batch pipeline's min-token
            # filter (llm_pipeline.py) so ledgers aggregate across the
            # two pipelines under one key (ADVICE r11)
            batch, n = stage(
                "min_tokens",
                batch.filter(F.size(F.split("text", " ")) >= self.min_tokens),
                batch, ("quality_floor", "below_min_tokens"),
            )
        if self.gopher_rules is not None:
            from hedera_etl_spark.operators.textanalysis import (
                gopher_quality_flags,
            )

            flags = gopher_quality_flags(batch, "text", "doc_id",
                                         **self.gopher_rules)
            # same stage/reason keys as the batch pipeline's gopher
            # stage (llm_pipeline.py) — cross-pipeline ledger unity
            batch, n = stage(
                "gopher",
                batch.join(
                    flags.filter(F.col("gopher_pass")).select("doc_id"),
                    "doc_id",
                    "left_semi",
                ),
                batch, ("quality_floor", "gopher_rules"),
            )
        if self.text_classifier_weights is not None:
            from hedera_etl_spark.operators.qualityclf import (
                quality_classifier_scores,
            )

            w = (
                None
                if self.text_classifier_weights is True
                else self.text_classifier_weights
            )
            scored = quality_classifier_scores(
                batch, weights=w,
                n_buckets=self.text_classifier_buckets,
                scale=self.text_classifier_scale,
            )
            # same stage/reason keys as prepare's classifier floor
            batch, n = stage(
                "text_classifier",
                batch.join(
                    scored.filter(
                        F.col("score") >= F.lit(self.text_classifier_min_score)
                    ).select("doc_id"),
                    "doc_id",
                    "left_semi",
                ),
                batch, ("quality_floor", "text_classifier"),
            )
        dropped_quality = n_floor_in - n
        eval_sh = self._eval_sh_for(bid)
        if eval_sh is not None:
            from hedera_etl_spark.operators.decontam import (
                decontaminate_against_shingles,
            )

            # FIRST, before any store sees the batch: a contaminated doc
            # must never commit hashes/signatures as "accepted" content.
            # eval_sh is the epoch's RECORDED version (replay-stable
            # across eval rotations — see _eval_sh_for).
            batch, n_dec = stage(
                "decontam",
                decontaminate_against_shingles(batch, eval_sh, n=self.decontam_n),
                batch, ("decontam", "contaminated"),
            )
            if not replay:  # replays don't double-count
                m.dropped_contaminated += n - n_dec
            n = n_dec
        if pending_urls is not None:
            # post_decontam commit policy: remember only URLs whose
            # keeper is still alive after decontamination (and the token
            # floor before it) — a contaminated or floored first crawl
            # stays reclaimable by a later clean recrawl.  Deterministic
            # per epoch (decontam reads the pinned recorded version), so
            # a replay re-derives the identical commit; write-if-absent.
            self.url_store.commit_batch(
                bid,
                pending_urls.join(
                    batch.select("doc_id"), "doc_id", "left_semi"
                ),
            )
        para_new_canon = None
        if self.paragraph_store is not None:
            from hedera_etl_spark.operators.paradedup import (
                incremental_paragraph_dedup_plan,
            )

            # BEFORE document dedup (the batch-pipeline ordering): cut
            # paragraphs accepted in any earlier epoch plus within-batch
            # copies, so banner-order variants collapse as exact dups
            # downstream.  The COMMIT is deferred until after document
            # dedup and filtered to ACCEPTED docs (ADVICE r9): committing
            # a paragraph whose canonical document is then rejected by
            # doc-level dedup would mark as "accepted" content that never
            # entered the corpus, permanently cutting it from every later
            # epoch.  A replay excludes its own hashes and reproduces the
            # identical rebuild; the accepted set is deterministic, so
            # the deferred commit is replay-stable too.
            para_replay = self.paragraph_store.has_batch(bid)
            out, para_new_canon = incremental_paragraph_dedup_plan(
                batch,
                self.paragraph_store,
                bid,
                sep=self.paragraph_dedup_sep,
                min_chars=self.paragraph_min_chars,
            )
            # only WHOLE-DOC drops (all paragraphs cut) enter the ledger;
            # paragraph cuts that leave the doc alive are text rewrites
            batch, n_para = stage(
                "paragraph", out, batch, ("paragraph_dedup", "emptied")
            )
            if not para_replay:  # replays must not double-count drops
                m.dropped_paragraph_docs += n - n_para
            n = n_para
        span_new_canon = None
        if self.span_store is not None:
            from hedera_etl_spark.operators.spandedup import (
                incremental_exact_substr_plan,
            )

            # after paragraph dedup (whole repeated paragraphs are the
            # cheaper cut), before document dedup — same deferred-commit
            # discipline as the paragraph store: only spans whose
            # document is ACCEPTED downstream may enter history, or a
            # rejected doc's content would be permanently cut from every
            # later epoch without ever shipping.
            span_replay = self.span_store.has_batch(bid)
            out, span_new_canon = incremental_exact_substr_plan(
                batch,
                self.span_store,
                bid,
                min_len=self.exact_substr_min_len,
            )
            # only WHOLE-DOC drops (text cut to empty) enter the ledger;
            # partial cuts are text rewrites, exactly like paragraphs
            batch, n_span = stage(
                "exact_substr", out.filter(F.col("text") != ""),
                batch, ("exact_substr", "emptied"),
            )
            if not span_replay:
                m.dropped_exact_substr_docs += n - n_span
        # `accepted` comes back materialized: every commit below reads it
        accepted, stats = incremental_dedup_batch(
            self.store,
            batch,
            bid,
            n=self.shingle_n,
            threshold=self.near_threshold,
            removal_ledger=ledger,
        )
        accepted_ids = F.broadcast(accepted.select("doc_id"))
        if para_new_canon is not None:
            self.paragraph_store.commit_batch(
                bid,
                para_new_canon.join(accepted_ids, "doc_id", "left_semi")
                .select("para_hash")
                .distinct(),
            )
        if span_new_canon is not None:
            self.span_store.commit_batch(
                bid,
                span_new_canon.join(accepted_ids, "doc_id", "left_semi")
                # per-hash shipped-occurrence counts (r15): the history
                # side of the min_count threshold for later epochs
                .groupBy("span_hash")
                .agg(F.count(F.lit(1)).cast("long").alias("n")),
            )
        m.batches += 1
        m.history.append(stats)
        if replay:
            m.replayed_batches += 1
        else:
            m.rows_in += rows_in
            m.dropped_quality += dropped_quality
            m.accepted += stats.accepted
            m.dropped_exact += stats.exact_in_batch + stats.exact_vs_store
            m.dropped_near += stats.near_vs_store + stats.near_in_batch
        self._corpus_batches.commit(bid, accepted.select("doc_id", "text"))
        if ledger is not None and ledger.n_stages:
            self._commit_ledger_batch(ledger, bid)

    def compact_ledger(self) -> int:
        """Fold all live per-epoch ledger directories into one — the
        same small-file maintenance and manifest commit point as
        ``compact_corpus``.  Rows already carry their ``epoch`` column,
        so the fold needs no extra attribution.  Returns the number of
        dirs folded."""
        table = self._ledger_batches
        return table.compact(lambda dirs: self.spark.read.parquet(*table.paths(dirs)))

    def _is_latest_epoch(self, bid: str) -> bool:
        """True when no committed signature-store epoch is newer than
        ``bid`` (stream epoch ids are ``stream-<n>``, ordered by n;
        folded batches count — compaction does not reorder time)."""
        import re

        def _n(entry: str):
            m = re.fullmatch(r"batch=stream-(\d+)", entry)
            return int(m.group(1)) if m else None

        mine = _n(f"batch={bid}")
        if mine is None:
            return True  # non-stream id: no ordering info
        return not any(
            n is not None and n > mine
            for n in (_n(e) for e in self.store.known_batches())
        )

    def _commit_ledger_batch(self, ledger, bid: str) -> None:
        """Idempotent per-epoch provenance append (a folded epoch stays
        ledgered, so the heal gate never re-derives it)."""
        self._ledger_batches.commit(bid, ledger.df().withColumn("epoch", F.lit(bid)))

    def read_ledger(self) -> DataFrame:
        """Every epoch's removal-provenance records as one frame (live
        dirs minus compaction-retired ones, so the crash window between
        a compaction target's rename and its sources' removal never
        double-counts — the corpus-table read discipline)."""
        table = self._ledger_batches
        dirs = table.live_dirs() if table is not None else []
        if not dirs:
            raise ValueError("no ledger_dir configured / nothing written yet")
        return self.spark.read.parquet(*table.paths(dirs))

    def start(self, available_now: bool = True) -> StreamingQuery:
        writer = (
            self._read()
            .writeStream.option("checkpointLocation", self.checkpoint)
            .foreachBatch(self._process_batch)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_until_drained(self) -> CorpusIngestMetrics:
        q = self.start(available_now=True)
        q.awaitTermination()
        return self.metrics
