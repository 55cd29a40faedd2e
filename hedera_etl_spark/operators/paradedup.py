"""Paragraph-level dedup: remove duplicated paragraphs across the
corpus, keeping one canonical occurrence.

Document-level dedup (textdedup) and fixed-width span removal
(spandedup) bracket a third production stage: web corpora repeat whole
PARAGRAPHS — cookie banners, newsletter pitches, license blocks,
navigation — inside otherwise-distinct pages, and the published
web-scale pipelines (RefinedWeb/FineWeb-style curation) cut them at
paragraph granularity: a paragraph appearing in many documents keeps
exactly its first occurrence and disappears everywhere else, so the
boilerplate's one legitimate home survives.

Semantics: paragraphs are the ``sep``-separated blocks of ``text_col``
(default blank-line ``"\\n\\n"``, split LITERALLY — no regex).  A
paragraph's canonical occurrence is the corpus-wide minimum
(doc_id, paragraph_index) among exact content matches; every other
occurrence is deleted.  Paragraphs shorter than ``min_chars``
(default 1, i.e. empty strings from leading/trailing separators) are
EXEMPT — headers like "Introduction" recur legitimately, and deleting
empty blocks would silently reflow documents.  Documents whose every
paragraph is deleted drop entirely when ``drop_empty``.

Scale shape — paragraph TEXT never shuffles:

1. each document hashes its own paragraphs in-row (md5, the
   cross-engine canon) and explodes only (doc_id, idx, hash, length) —
   narrow rows, one map-side fan-out;
2. one hash aggregate per distinct paragraph hash finds the canonical
   (min (doc_id, idx)) occurrence and the occurrence count — the
   duplicated-paragraph dimension is the only shuffled data;
3. non-canonical occurrences reduce to a per-document sorted index
   list (one narrow shuffle keyed by doc_id, list bounded by the doc's
   own paragraph count);
4. the rebuild is a per-row array filter over the document's own
   split — the corpus text stays in its scan from start to finish
   (plan-pinned in tests/test_paradedup.py).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hedera_etl_spark import fsutil
from hedera_etl_spark.operators.joins import inverted_store_probe


def _sql_str(s: str) -> str:
    """Single-quoted Spark-SQL string literal for ``s`` (backslash,
    quote, and control characters escaped — literal newlines inside an
    expr string are parser-hostile)."""
    out = (
        s.replace("\\", "\\\\")
        .replace("'", "\\'")
        .replace("\n", "\\n")
        .replace("\r", "\\r")
        .replace("\t", "\\t")
    )
    return f"'{out}'"


def paragraph_occurrences(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """Narrow (doc_id, idx, para_hash) rows for every dedup-eligible
    paragraph occurrence (length >= ``min_chars``), hashed in-row —
    paragraph content never leaves the document's row."""
    # split() takes a REGEX: escape so sep is literal (DuckDB's
    # string_split twin is literal by definition)
    hashed = (
        f"transform(split({text_col}, {_sql_str(re.escape(sep))}), p -> "
        "named_struct('h', md5(p), 'n', length(p)))"
    )
    return (
        docs.selectExpr(f"`{id_col}` AS doc_id", f"posexplode({hashed})")
        .filter(f"col.n >= {int(min_chars)}")
        .selectExpr("doc_id", "pos AS idx", "col.h AS para_hash")
    )


def duplicate_paragraph_drops(
    occ: DataFrame, skew_safe: bool = False
) -> DataFrame:
    """(doc_id, idx) of every NON-canonical occurrence of a duplicated
    paragraph: count + min-(doc_id, idx) keeper election as two window
    functions over ONE (para_hash)-partitioned exchange, then a row
    filter — no join node at all.

    r13 form (the repeated_spans class sweep): the previous
    aggregate + join-back put an aggregate-derived, duplication-sized
    dimension on a join's build side — the shape whose size estimate
    sits near the broadcast threshold at mid scale (driver-built
    relation) and pays a second exchange at any scale.  The window
    form is structurally join-free and measured 26% faster at sf0.1
    (0.67 s vs 0.90 s, docs/PERF_NOTES.md); only narrow
    hash/index rows move, as before.

    Skew exposure (r13 advice, disclosed): one ultra-hot paragraph
    hash (a cookie banner repeated across a crawl) buffers every
    occurrence in a single window task with no map-side combine.
    ``skew_safe=True`` switches to the groupBy + SHUFFLE_HASH-hinted
    join-back: the count and the min-struct keeper election combine
    map-side (one partial row per distinct hash per task), the hint
    forbids the driver-built broadcast the r7 form died on, and
    occurrences STREAM through the probe instead of buffering.  Cost:
    ``occ`` gains a second consumer — callers that pass a
    localCheckpoint'ed occurrence frame (paragraph_dedup does) pay
    nothing extra.  Equality of the two forms is pytest-pinned."""
    if skew_safe:
        agg = (
            occ.groupBy("para_hash")
            .agg(
                F.count(F.lit(1)).alias("__cnt"),
                F.min(F.struct("doc_id", "idx")).alias("__keep"),
            )
            .filter(F.col("__cnt") >= 2)
            .select("para_hash", "__keep")
        )
        return (
            occ.join(agg.hint("shuffle_hash"), "para_hash", "inner")
            .filter(
                (F.col("doc_id") != F.col("__keep.doc_id"))
                | (F.col("idx") != F.col("__keep.idx"))
            )
            .select("doc_id", "idx")
        )
    # SQL-text construction (r16, guide §7.3): identical analyzed plan to
    # the previous Column-chain form in ~10x fewer py4j round-trips — the
    # composed prepare rebuilds this every call
    return (
        occ.selectExpr(
            "doc_id",
            "idx",
            "count(1) OVER (PARTITION BY para_hash) AS __cnt",
            "min(struct(doc_id, idx)) OVER (PARTITION BY para_hash) AS __keep",
        )
        .filter(
            "__cnt >= 2 AND (doc_id <> __keep.doc_id OR idx <> __keep.idx)"
        )
        .select("doc_id", "idx")
    )


def rebuild_without(
    docs: DataFrame,
    drops: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    drop_empty: bool = True,
) -> DataFrame:
    """``docs`` with the paragraphs named by ``drops`` (doc_id, idx)
    removed and ``text_col`` rebuilt from the survivors joined by
    ``sep`` in original order — the shared rebuild of the batch and
    incremental dedup paths.  The drop set reduces to a per-document
    sorted index list (one narrow shuffle), then the rebuild is a
    per-row array filter: document text never shuffles."""
    if "__drop_idx" in docs.columns:
        raise ValueError("column name '__drop_idx' is reserved")
    drop_lists = drops.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("idx")).alias("__drop_idx")
    )
    out = docs.join(
        drop_lists.withColumnRenamed("doc_id", id_col), id_col, "left"
    )
    rebuilt = F.expr(
        f"array_join(filter(split({text_col}, {_sql_str(re.escape(sep))}), "
        "(p, i) -> __drop_idx IS NULL OR NOT array_contains(__drop_idx, i)), "
        f"{_sql_str(sep)})"
    )
    out = out.withColumn(text_col, rebuilt).drop("__drop_idx")
    if drop_empty:
        out = out.filter(F.length(F.trim(F.col(text_col))) > 0)
    return out


def paragraph_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    min_chars: int = 1,
    drop_empty: bool = True,
    skew_safe: bool = False,
) -> DataFrame:
    """Corpus with duplicated paragraphs removed (module docstring
    semantics): same schema as ``docs`` with ``text_col`` rebuilt from
    each document's surviving paragraphs in original order.  Documents
    left with no non-empty paragraph drop when ``drop_empty``
    (emptiness is SQL ``trim``, i.e. spaces only — a document reduced
    to exempt empty paragraphs keeps its separators; both engines'
    trim agrees, and the property test pins the rule)."""
    if "__drop_idx" in docs.columns:
        raise ValueError("column name '__drop_idx' is reserved")
    # the occurrence frame feeds TWO consumers (the keeper aggregate and
    # the drop probe) and its derivation is real per-row work (split +
    # per-paragraph md5 over the whole corpus): pin it once instead of
    # hashing the corpus twice — the checkpoint-vs-rescan rule
    # (docs/PERF_NOTES.md); the pinned frame is the narrow
    # (doc_id, idx, hash) projection, not the text
    occ = paragraph_occurrences(docs, text_col, id_col, sep, min_chars).localCheckpoint(
        eager=False
    )
    # skew_safe (r14): the hot-hash escape hatch threads through to the
    # production path — the occurrence frame is already checkpointed
    # here, so its second consumer costs nothing extra
    drops = duplicate_paragraph_drops(occ, skew_safe=skew_safe)
    return rebuild_without(docs, drops, text_col, id_col, sep, drop_empty)


# ---------------------------------------------------------------------------
# Incremental form: dedup each arriving batch's paragraphs against
# everything accepted so far, via a persisted hash store — the
# continuous-crawl analogue of incremental_dedup.py's document-level
# signature store, at paragraph granularity.  The store keeps ONE md5
# per accepted canonical paragraph (O(accepted paragraphs) bytes, never
# corpus text), and a batch run touches it with one anti-join.
# ---------------------------------------------------------------------------


def _hash_schema():
    from pyspark.sql import types as T

    return T.StructType([T.StructField("para_hash", T.StringType(), False)])


class ParagraphHashStore(fsutil.BatchDirStore):
    """Append-only parquet store of accepted canonical paragraph
    hashes: one ``hashes/batch=X`` directory per committed batch, made
    live by a single rename (single-writer per store path).  Commit,
    replay and compaction: ``fsutil.BatchDirStore``."""

    def __init__(self, spark, path: str):
        import os

        super().__init__(spark, os.path.join(path, "hashes"), _hash_schema())
        self.hashes_dir = self.root


def incremental_paragraph_dedup_plan(
    docs: DataFrame,
    store: ParagraphHashStore,
    batch_id: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    min_chars: int = 1,
    drop_empty: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """The batch computation of :func:`incremental_paragraph_dedup`
    WITHOUT the store commit: returns ``(rebuilt_docs,
    new_canon_occurrences)`` where the second frame is
    (doc_id, para_hash) for every surviving canonical paragraph whose
    hash is NOT already in history — the rows a caller commits (possibly
    after filtering by a downstream acceptance decision, e.g. doc-level
    dedup: committing a paragraph whose canonical document is later
    REJECTED would permanently cut content whose one legitimate home
    never entered the corpus — ADVICE r9).

    Scale shape (VERDICT r9 #1 — the history side never shuffles): the
    store probe is INVERTED.  Instead of anti/semi-joining the batch
    against the full history (a full-history shuffle per micro-batch,
    since a mature store cannot broadcast), the batch's OWN distinct
    hash set — bounded by batch size — broadcasts, the history scan is
    reduced map-side by one BroadcastHashJoin to the tiny ``hits`` set
    (history ∩ batch), and both downstream probes (the drop semi-join
    and the new-canon anti-join) run against broadcast hits.  Per batch:
    ONE history scan, ZERO history shuffles (plan-pinned in
    tests/test_paradedup.py); ``hits`` is eagerly pinned so its two
    consumers do not re-scan history."""
    occ = paragraph_occurrences(docs, text_col, id_col, sep, min_chars).localCheckpoint(
        eager=False
    )
    history = store.read(exclude_batch=batch_id)
    batch_hashes = occ.select("para_hash").distinct()
    # hits may carry duplicate hashes after a crash-interrupted
    # compaction (target + leftover sources overlap); both consumers are
    # semi/anti joins, so duplicates are harmless and deduping here would
    # put a shuffle back over the history subtree
    hits = inverted_store_probe(history, batch_hashes, "para_hash").localCheckpoint(
        eager=True
    )
    vs_store = occ.join(F.broadcast(hits), "para_hash", "left_semi").select("doc_id", "idx")
    in_batch = duplicate_paragraph_drops(occ)
    # union then distinct: an occurrence can be both a store hit and a
    # within-batch non-canonical copy
    drops = vs_store.unionByName(in_batch).distinct().localCheckpoint(eager=True)
    out = rebuild_without(docs, drops, text_col, id_col, sep, drop_empty)
    # newly-accepted canon: every eligible occurrence that survived —
    # i.e. is not in the drop set and not already in history.  Each hash
    # survives at exactly ONE (doc_id, idx) (within-batch keep-first), so
    # the doc attribution is unambiguous for acceptance filtering.
    new_canon = (
        occ.join(drops, ["doc_id", "idx"], "left_anti")
        .select("doc_id", "para_hash")
        .join(F.broadcast(hits), "para_hash", "left_anti")
    )
    return out, new_canon


def incremental_paragraph_dedup(
    docs: DataFrame,
    store: ParagraphHashStore,
    batch_id: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    min_chars: int = 1,
    drop_empty: bool = True,
) -> DataFrame:
    """One batch of the continuous paragraph-dedup loop: cut paragraphs
    already accepted in ANY earlier committed batch (store probe) plus
    within-batch duplicates (keep-first, exactly :func:`paragraph_dedup`),
    rebuild the documents, then commit the batch's newly-accepted
    canonical paragraph hashes.

    Deterministic under retries WITHOUT storing outputs: the store read
    excludes ``batch_id`` itself, so a replay of a committed batch
    judges against the same history it saw the first time and returns
    byte-identical documents (pinned in tests).  The commit itself is
    idempotent (single rename).  Plan shape and the deferred-commit
    variant: :func:`incremental_paragraph_dedup_plan`."""
    out, new_canon = incremental_paragraph_dedup_plan(
        docs, store, batch_id, text_col, id_col, sep, min_chars, drop_empty
    )
    store.commit_batch(batch_id, new_canon.select("para_hash").distinct())
    return out
