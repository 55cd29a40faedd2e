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
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

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
    rows_in: int = 0
    accepted: int = 0
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
        import shutil

        if version == "none":
            raise ValueError("eval_version 'none' is reserved")
        from hedera_etl_spark.operators.decontam import _ref_shingle_dim

        vdir = os.path.join(self._eval_dir, f"version={version}")
        fpath = os.path.join(self._eval_dir, f"fingerprint-version={version}.json")
        dim = _ref_shingle_dim(eval_docs, self.decontam_n, "text")
        if not os.path.isdir(vdir):
            os.makedirs(self._eval_dir, exist_ok=True)
            tmp = os.path.join(self._eval_dir, f".version={version}.__new")
            shutil.rmtree(tmp, ignore_errors=True)
            dim.write.mode("overwrite").parquet(tmp)
            if not os.path.isdir(vdir):
                os.rename(tmp, vdir)
            else:
                shutil.rmtree(tmp, ignore_errors=True)
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

    def _commit_corpus_batch(self, accepted: DataFrame, bid: str) -> None:
        """Idempotent per-batch corpus append: stage to a hidden sibling,
        rename in only if the live batch directory is absent.  Covers the
        crash window where the store committed but the append had not
        (the replayed decision regenerates the identical rows), and the
        window where the append landed but the checkpoint had not (the
        directory exists — nothing is written twice).  Directory names
        avoid ``key=value`` so partition inference never misreads them.
        A batch RETIRED by compaction counts as present (its rows live in
        the compacted target), so a very late replay cannot resurrect
        it as a duplicate directory."""
        import os
        import shutil

        live = os.path.join(self.corpus_table, f"batch-{bid}")
        if os.path.exists(live) or f"batch-{bid}" in self._retired_batches():
            return
        tmp = os.path.join(self.corpus_table, f".batch-{bid}.__new")
        shutil.rmtree(tmp, ignore_errors=True)
        accepted.write.mode("overwrite").parquet(tmp)
        if not os.path.exists(live):
            os.rename(tmp, live)
        else:  # lost race with a concurrent attempt
            shutil.rmtree(tmp, ignore_errors=True)

    def _manifests(self) -> list:
        """Every compaction manifest as a (filename, dict) list."""
        import json
        import os

        mdir = os.path.join(self.corpus_table, "_compaction")
        if not os.path.isdir(mdir):
            return []
        out = []
        for f in sorted(os.listdir(mdir)):
            if not f.endswith(".json"):
                continue
            with open(os.path.join(mdir, f)) as fh:
                out.append((f, json.load(fh)))
        return out

    def _retired_batches(self) -> set:
        """Batch dirs folded into a compacted target WHOSE TARGET EXISTS
        — the existence check is what makes the compaction manifest a
        commit point rather than a promise (a manifest written before
        the target rename is inert until the rename lands).  Retirement
        is TRANSITIVE by construction: every new manifest subsumes all
        previously-retired names (see ``compact_corpus``), so deleting a
        superseded target never revives its sources.  Cached per
        process (``compact_corpus`` is the only in-process writer and
        invalidates it); cross-process compactions fall under the same
        drained-stream caveat as the store's compact().  The cache keys
        on the manifest-dir listing, so one cheap listdir per call and a
        JSON re-parse only when the manifest set actually changed (an
        unconditional per-batch re-parse would grow with compaction
        history; an unkeyed cache would miss externally-written
        manifests)."""
        import os

        mdir = os.path.join(self.corpus_table, "_compaction")
        key = (
            tuple(sorted(os.listdir(mdir))) if os.path.isdir(mdir) else (),
            # target EXISTENCE is part of retirement (a manifest without
            # its target is inert), so target dirs join the cache key
            tuple(
                sorted(
                    d
                    for d in os.listdir(self.corpus_table)
                    if d.startswith("batch-compacted-")
                )
            )
            if os.path.isdir(self.corpus_table)
            else (),
        )
        cached = getattr(self, "_retired_cache", None)
        if cached is not None and cached[0] == key:
            return cached[1]
        retired: set = set()
        for _, m in self._manifests():
            if os.path.exists(os.path.join(self.corpus_table, m["target"])):
                retired.update(m["sources"])
        self._retired_cache = (key, retired)
        return retired

    def _live_batch_dirs(self) -> list:
        import os

        if not os.path.isdir(self.corpus_table):
            return []
        retired = self._retired_batches()
        return sorted(
            d
            for d in os.listdir(self.corpus_table)
            if d.startswith("batch-") and d not in retired
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
        dirs = self._live_batch_dirs()
        if not dirs:
            return self.spark.createDataFrame([], DOC_SCHEMA)
        import os
        import re

        if as_of is None:
            return self.spark.read.schema(DOC_SCHEMA).parquet(
                *[os.path.join(self.corpus_table, d) for d in dirs]
            )

        def _n(name: str):
            m = re.fullmatch(r"batch-stream-(\d+)", name)
            return int(m.group(1)) if m else None

        bound = _n(f"batch-{as_of}")
        if bound is None:
            raise ValueError(
                f"as_of must be a stream epoch id like 'stream-7', got "
                f"{as_of!r}"
            )
        from hedera_etl_spark import fsutil

        plain = [d for d in dirs if _n(d) is not None and _n(d) <= bound]
        compacted = [d for d in dirs if _n(d) is None]
        frames = []
        if plain:
            frames.append(
                self.spark.read.schema(DOC_SCHEMA).parquet(
                    *[os.path.join(self.corpus_table, d) for d in plain]
                )
            )
        if compacted:
            ext = fsutil.with_origin_schema(DOC_SCHEMA)
            folded = self.spark.read.schema(ext).parquet(
                *[os.path.join(self.corpus_table, d) for d in compacted]
            )
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
        dirs = self._live_batch_dirs()
        if not dirs:
            return self.spark.createDataFrame(
                [], "epoch string, n_docs long"
            )
        import os

        from hedera_etl_spark import fsutil

        ext = fsutil.with_origin_schema(DOC_SCHEMA)
        frames = []
        for d in dirs:
            frames.append(
                self.spark.read.schema(ext)
                .parquet(os.path.join(self.corpus_table, d))
                .withColumn(
                    fsutil.ORIGIN_COL,
                    F.coalesce(F.col(fsutil.ORIGIN_COL), F.lit(d)),
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
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

        Crash-safe without coordination, via a manifest commit point:
        (1) stage the merged rows; (2) write ``_compaction/<target>.json``
        naming the sources (atomic rename); (3) rename the staged dir to
        the live target; (4) delete the sources.  A crash after (2) is
        inert (no target yet — sources still read); after (3) the
        manifest + existing target EXCLUDE the sources from every read,
        so no window double-counts; a retry after any crash re-derives a
        NEW target from the then-live set.  ``dropDuplicates(doc_id)``
        guards the merge (corpus rows are unique by the effectively-once
        invariant; the guard keeps a violated invariant from compounding).
        Caveat (same as the store): run past the replay horizon of a
        drained/checkpointed stream — replays of retired batches are
        absorbed by the ``_commit_corpus_batch`` retired check."""
        import hashlib
        import json
        import os
        import shutil

        # cleanup pass: a prior crash between target-rename and source
        # -delete leaves retired source dirs orphaned on disk (reads
        # already exclude them) — remove them now so the file count
        # actually shrinks and no later manifest shuffle can see them
        self._retired_cache = None
        for b in self._retired_batches():
            shutil.rmtree(os.path.join(self.corpus_table, b), ignore_errors=True)

        batches = self._live_batch_dirs()
        if len(batches) <= 1:
            return 0
        target = (
            "batch-compacted-"
            + hashlib.md5("|".join(batches).encode()).hexdigest()[:12]
        )
        # per-row epoch attribution survives the fold (r12): each source
        # keeps its existing origin (nested compaction) or gains its dir
        # name — read_corpus(as_of=...) time-travel depends on it
        from hedera_etl_spark import fsutil

        ext = fsutil.with_origin_schema(DOC_SCHEMA)
        frames = []
        for b in batches:
            frames.append(
                self.spark.read.schema(ext)
                .parquet(os.path.join(self.corpus_table, b))
                .withColumn(
                    fsutil.ORIGIN_COL,
                    F.coalesce(F.col(fsutil.ORIGIN_COL), F.lit(b)),
                )
            )
        merged = frames[0]
        for f in frames[1:]:
            merged = merged.unionByName(f)
        merged = merged.dropDuplicates(["doc_id"])
        tmp = os.path.join(self.corpus_table, f".{target}.__new")
        shutil.rmtree(tmp, ignore_errors=True)
        merged.write.mode("overwrite").parquet(tmp)
        mdir = os.path.join(self.corpus_table, "_compaction")
        os.makedirs(mdir, exist_ok=True)
        # TRANSITIVE retirement: the new manifest subsumes every name any
        # prior manifest retired (a later compaction deletes superseded
        # targets, so retirement must not depend on them surviving) —
        # once retired, always retired
        prior = self._manifests()
        all_retired = set(batches)
        for _, m in prior:
            all_retired.update(m["sources"])
        all_retired.discard(target)
        mtmp = os.path.join(mdir, f".{target}.json.tmp")
        with open(mtmp, "w") as fh:
            json.dump({"target": target, "sources": sorted(all_retired)}, fh)
        os.rename(mtmp, os.path.join(mdir, f"{target}.json"))
        live = os.path.join(self.corpus_table, target)
        if not os.path.exists(live):
            os.rename(tmp, live)
        else:
            shutil.rmtree(tmp, ignore_errors=True)
        for b in batches:
            shutil.rmtree(os.path.join(self.corpus_table, b), ignore_errors=True)
        # superseded manifests are now redundant (the new one subsumes
        # them) — drop them so per-batch commits parse ONE file, not
        # O(#compactions ever)
        for f, _ in prior:
            os.remove(os.path.join(mdir, f))
        self._retired_cache = None
        return len(batches)

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        m = self.metrics
        bid = f"stream-{batch_id}"
        ledger = None
        if self.ledger_dir is not None and not self._has_ledger_batch(bid):
            if self.store.has_batch(bid) and not self._is_latest_epoch(bid):
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
                batch = batch.localCheckpoint(eager=False)  # ledger anti-joins

        def _ledger_drops(stage, reason, pre, post, eager=False):
            if ledger is None:
                return post
            post = post.localCheckpoint(eager=eager)
            ledger.record(
                stage, reason,
                pre.select("doc_id").join(post.select("doc_id"), "doc_id", "left_anti"),
            )
            return post

        pending_urls = None
        if self.url_store is not None:
            from hedera_etl_spark.operators.urlstore import incremental_url_dedup

            url_replay = self.url_store.has_batch(bid)
            # a plain count, NOT a plan-riding observation (r16 finding):
            # incremental_url_dedup runs an eager store-probe checkpoint
            # whose plan contains this subtree, and on a FRESH url store
            # the static empty-relation rewrite deletes that probe's
            # broadcast side — the observation then completes with a
            # populated all-zeros row (no task updates) that the
            # elimination probe cannot distinguish from a real zero
            before = batch.count()
            if self.url_commit_policy == "post_decontam":
                batch, pending_urls = incremental_url_dedup(
                    batch, self.url_store, bid,
                    removal_ledger=ledger, defer_commit=True,
                )
            else:
                batch = incremental_url_dedup(
                    batch, self.url_store, bid, removal_ledger=ledger
                )
            batch = batch.drop("url").localCheckpoint(eager=False)
            if not url_replay:  # replays must not double-count drops
                m.dropped_url += before - batch.count()

        if self.min_tokens > 0:
            pre = batch
            batch = batch.filter(
                F.size(F.split("text", " ")) >= self.min_tokens
            )
            # stage named identically to the batch pipeline's min-token
            # filter (llm_pipeline.py) so ledgers aggregate across the
            # two pipelines under one key (ADVICE r11)
            batch = _ledger_drops("quality_floor", "below_min_tokens", pre, batch)
        if self.gopher_rules is not None:
            from hedera_etl_spark.operators.textanalysis import (
                gopher_quality_flags,
            )

            pre = batch
            flags = gopher_quality_flags(batch, "text", "doc_id",
                                         **self.gopher_rules)
            batch = batch.join(
                flags.filter(F.col("gopher_pass")).select("doc_id"),
                "doc_id",
                "left_semi",
            )
            # same stage/reason keys as the batch pipeline's gopher
            # stage (llm_pipeline.py) — cross-pipeline ledger unity
            batch = _ledger_drops("quality_floor", "gopher_rules", pre, batch)
        if self.text_classifier_weights is not None:
            from hedera_etl_spark.operators.qualityclf import (
                quality_classifier_scores,
            )

            pre = batch
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
            batch = batch.join(
                scored.filter(
                    F.col("score") >= F.lit(self.text_classifier_min_score)
                ).select("doc_id"),
                "doc_id",
                "left_semi",
            )
            # same stage/reason keys as prepare's classifier floor
            batch = _ledger_drops(
                "quality_floor", "text_classifier", pre, batch
            )
        eval_sh = self._eval_sh_for(bid)
        n_after_decontam = None
        if eval_sh is not None:
            from hedera_etl_spark.operators.decontam import (
                decontaminate_against_shingles,
            )
            from hedera_etl_spark.operators.stats import robust_observe

            # FIRST, before any store sees the batch: a contaminated doc
            # must never commit hashes/signatures as "accepted" content.
            # eval_sh is the epoch's RECORDED version (replay-stable
            # across eval rotations — see _eval_sh_for).
            # The pre-decontam count rides the post-decontam count below
            # as an observation (r16): the standalone `before` job ran
            # the min-token filter chain once more per micro-batch.
            batch, pre_obs = robust_observe(
                batch, "stream.decontam_in", F.count(F.lit(1)).alias("n")
            )
            pre = batch
            batch = decontaminate_against_shingles(
                batch, eval_sh, n=self.decontam_n
            )
            # eager on the ledgered path (ADVICE r16 a): a lazy checkpoint
            # completes pre_obs when it is called, with the true count
            # only if AQE happened to run the observed node in a shuffle
            # stage during that call, else with a default row that sends
            # the read to the fallback job.  The eager one runs the node.
            batch = _ledger_drops(
                "decontam", "contaminated", pre, batch, eager=True
            )
            if not self.store.has_batch(bid):  # replays don't double-count
                # remembered for the paragraph stage (r16): its `before`
                # count re-executed this exact decontam plan every batch
                n_after_decontam = batch.count()
                m.dropped_contaminated += (
                    int(pre_obs.get["n"]) - n_after_decontam
                )
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
            pre_para = batch
            # `batch` is unchanged since the decontam count above (the
            # deferred URL commit reads it without reassigning), so reuse
            # that value instead of re-running the decontam plan (r16)
            before = (
                n_after_decontam
                if n_after_decontam is not None
                else batch.count()
            )
            batch, para_new_canon = incremental_paragraph_dedup_plan(
                batch,
                self.paragraph_store,
                bid,
                sep=self.paragraph_dedup_sep,
                min_chars=self.paragraph_min_chars,
            )
            batch = batch.localCheckpoint(eager=False)
            # only WHOLE-DOC drops (all paragraphs cut) enter the ledger;
            # paragraph cuts that leave the doc alive are text rewrites
            batch = _ledger_drops("paragraph_dedup", "emptied", pre_para, batch)
            if not para_replay:  # replays must not double-count drops
                m.dropped_paragraph_docs += before - batch.count()
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
            pre_span = batch
            before = batch.count()
            batch, span_new_canon = incremental_exact_substr_plan(
                batch,
                self.span_store,
                bid,
                min_len=self.exact_substr_min_len,
            )
            batch = batch.localCheckpoint(eager=False)
            # only WHOLE-DOC drops (text cut to empty) enter the ledger;
            # partial cuts are text rewrites, exactly like paragraphs
            batch = batch.filter(F.col("text") != "")
            batch = _ledger_drops("exact_substr", "emptied", pre_span, batch)
            if not span_replay:
                m.dropped_exact_substr_docs += before - batch.count()
        replay = self.store.has_batch(bid)
        accepted, stats = incremental_dedup_batch(
            self.store,
            batch,
            bid,
            n=self.shingle_n,
            threshold=self.near_threshold,
            removal_ledger=ledger,
        )
        if para_new_canon is not None:
            self.paragraph_store.commit_batch(
                bid,
                para_new_canon.join(
                    accepted.select("doc_id"), "doc_id", "left_semi"
                )
                .select("para_hash")
                .distinct(),
            )
        if span_new_canon is not None:
            self.span_store.commit_batch(
                bid,
                span_new_canon.join(
                    accepted.select("doc_id"), "doc_id", "left_semi"
                )
                # per-hash shipped-occurrence counts (r15) so the store
                # can serve min_count>2 probes; presence semantics at
                # min_count=2 are unchanged (any n >= 1 row is a hit)
                .groupBy("span_hash")
                .agg(F.count(F.lit(1)).cast("long").alias("n")),
            )
        m.batches += 1
        m.rows_in += stats.rows_in
        m.history.append(stats)
        if replay:
            m.replayed_batches += 1
        else:
            m.accepted += stats.accepted
            m.dropped_exact += stats.exact_in_batch + stats.exact_vs_store
            m.dropped_near += stats.near_vs_store + stats.near_in_batch
        self._commit_corpus_batch(accepted.select("doc_id", "text"), bid)
        if ledger is not None and ledger.n_stages:
            self._commit_ledger_batch(ledger, bid)

    def _ledger_retired(self) -> set:
        """Ledger batch dirs folded into a compacted target whose target
        exists — same manifest convention as the corpus table."""
        import json
        import os

        mdir = os.path.join(self.ledger_dir, "_compaction")
        if not os.path.isdir(mdir):
            return set()
        retired: set = set()
        for f in sorted(os.listdir(mdir)):
            if not f.endswith(".json"):
                continue
            with open(os.path.join(mdir, f)) as fh:
                m = json.load(fh)
            if os.path.exists(os.path.join(self.ledger_dir, m["target"])):
                retired.update(m["sources"])
        return retired

    def _has_ledger_batch(self, bid: str) -> bool:
        import os

        # a folded epoch is STILL ledgered (the heal gate must not
        # re-derive and double-write an epoch whose rows live in a
        # compacted target)
        return os.path.isdir(
            os.path.join(self.ledger_dir, f"batch-{bid}")
        ) or f"batch-{bid}" in self._ledger_retired()

    def _live_ledger_dirs(self) -> list:
        import os

        if self.ledger_dir is None or not os.path.isdir(self.ledger_dir):
            return []
        retired = self._ledger_retired()
        return sorted(
            d
            for d in os.listdir(self.ledger_dir)
            if d.startswith("batch-") and d not in retired
        )

    def compact_ledger(self) -> int:
        """Fold all live per-epoch ledger directories into one — the
        same small-file maintenance every sibling store performs (after
        many micro-batches the per-epoch listing dominates open cost).
        Rows already carry their ``epoch`` column, so the fold needs no
        extra attribution; the manifest commit point (stage target →
        write ``_compaction/<target>.json`` naming the sources → rename
        target live → delete sources) makes every crash window read
        each row exactly once, exactly like ``compact_corpus``.
        Returns the number of dirs folded."""
        import hashlib
        import json
        import os
        import shutil

        # clear leftovers of a prior crash between target-rename and
        # source-delete (reads already exclude them)
        for b in self._ledger_retired():
            shutil.rmtree(os.path.join(self.ledger_dir, b), ignore_errors=True)
        dirs = self._live_ledger_dirs()
        if len(dirs) <= 1:
            return 0
        target = (
            "batch-compacted-"
            + hashlib.md5("|".join(dirs).encode()).hexdigest()[:12]
        )
        merged = self.spark.read.parquet(
            *[os.path.join(self.ledger_dir, d) for d in dirs]
        )
        tmp = os.path.join(self.ledger_dir, f".{target}.__new")
        shutil.rmtree(tmp, ignore_errors=True)
        merged.write.mode("overwrite").parquet(tmp)
        mdir = os.path.join(self.ledger_dir, "_compaction")
        os.makedirs(mdir, exist_ok=True)
        prior = [
            f for f in sorted(os.listdir(mdir)) if f.endswith(".json")
        ]
        all_retired = set(dirs)
        for f in prior:  # transitive: once retired, always retired
            with open(os.path.join(mdir, f)) as fh:
                all_retired.update(json.load(fh)["sources"])
        all_retired.discard(target)
        mtmp = os.path.join(mdir, f".{target}.json.tmp")
        with open(mtmp, "w") as fh:
            json.dump({"target": target, "sources": sorted(all_retired)}, fh)
        os.rename(mtmp, os.path.join(mdir, f"{target}.json"))
        live = os.path.join(self.ledger_dir, target)
        if not os.path.exists(live):
            os.rename(tmp, live)
        else:
            shutil.rmtree(tmp, ignore_errors=True)
        for d in dirs:
            shutil.rmtree(os.path.join(self.ledger_dir, d), ignore_errors=True)
        for f in prior:  # superseded manifests are redundant now
            os.remove(os.path.join(mdir, f))
        return len(dirs)

    def _is_latest_epoch(self, bid: str) -> bool:
        """True when no committed signature-store epoch is newer than
        ``bid`` (stream epoch ids are ``stream-<n>``, ordered by n;
        folded batches count — compaction does not reorder time)."""
        import re

        from hedera_etl_spark import fsutil

        def _n(entry: str):
            m = re.fullmatch(r"batch=stream-(\d+)", entry)
            return int(m.group(1)) if m else None

        mine = _n(f"batch={bid}")
        if mine is None:
            return True  # non-stream id: no ordering info
        committed = self.store.committed_batches() | fsutil.folded_batches(
            self.store.content_dir
        )
        return not any(
            n is not None and n > mine for n in (_n(e) for e in committed)
        )

    def _commit_ledger_batch(self, ledger, bid: str) -> None:
        """Idempotent per-epoch provenance append — same staged-rename
        protocol as the corpus batch dirs."""
        import os
        import shutil

        live = os.path.join(self.ledger_dir, f"batch-{bid}")
        if os.path.exists(live):
            return
        os.makedirs(self.ledger_dir, exist_ok=True)
        tmp = os.path.join(self.ledger_dir, f".batch-{bid}.__new")
        shutil.rmtree(tmp, ignore_errors=True)
        ledger.df().withColumn("epoch", F.lit(bid)).write.mode(
            "overwrite"
        ).parquet(tmp)
        if not os.path.exists(live):
            os.rename(tmp, live)
        else:
            shutil.rmtree(tmp, ignore_errors=True)

    def read_ledger(self) -> DataFrame:
        """Every epoch's removal-provenance records as one frame (live
        dirs minus compaction-retired ones, so the crash window between
        a compaction target's rename and its sources' removal never
        double-counts — the corpus-table read discipline)."""
        import os

        dirs = self._live_ledger_dirs()
        if not dirs:
            raise ValueError("no ledger_dir configured / nothing written yet")
        return self.spark.read.parquet(
            *[os.path.join(self.ledger_dir, d) for d in dirs]
        )

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
