"""Persistent canonical-URL store + incremental URL dedup.

The streaming twin of the batch ``llm_url_dedup`` entry
(operators/urlnorm.py): a crawl stream sees the same page re-crawled
under syntactic URL variants across epochs, and canonical-URL dedup is
the FIRST (and cheapest) stage of every crawl curation pipeline —
CCNet / RefinedWeb drop recrawls by normalized URL before any content
hashing runs.  What the store keeps per epoch is one
(canonical_url, doc_id) row per first-seen URL — fixed-width, tiny
next to text.

Store protocol: ``fsutil.BatchDirStore`` (append-only ``urls/batch=X``
dirs, single-rename commits, ``compact()`` with the replay heal —
folded rows keep ``origin_batch`` and the ``_folded.json`` manifest
keeps ``has_batch``/exclusion resolving after the dirs fold).

Scale shape per epoch (the inverted-probe discipline, VERDICT r9 #1):
canonicalization is a pure JVM projection; the batch's OWN canonical
set broadcasts and the history scan reduces map-side to the hit rows —
one URL-store scan, zero history shuffles, at any store size.

Semantics:

- a NULL or empty canonical URL never participates (urlnorm rule 7):
  missing-URL docs pass through unchanged and nothing commits for them;
- within a batch the min-doc-id keeper per canonical URL survives;
- a doc whose canonical URL was committed by any EARLIER epoch drops
  (the recrawl);
- the epoch's first-seen canonical set (in-batch keepers not already in
  history) is returned, not committed: WHAT the epoch remembers is a
  policy choice (ADVICE r11) that the caller makes with
  ``store.commit_batch`` under the SAME ``batch_id``.
  ``CorpusIngestPipeline`` commits the full set at the URL stage under
  ``url_commit_policy="always"`` — including URLs of docs a LATER stage
  (content dedup, decontamination, floors) goes on to drop — on the
  argument that re-fetching can only yield the same later-stage
  outcome.  That argument holds only while (a) the page's content is
  stable across crawls and (b) the later stages' decision inputs are
  stable: a versioned eval rotation invalidates (b) — a URL whose first
  crawl was contaminated under eval v1 stays excluded forever even
  after rotating to v2, because the recrawl dies at the URL stage
  before decontamination can re-decide — and a recrawl whose content
  CHANGED invalidates (a).  Under ``"post_decontam"`` it commits only
  URLs whose keeper survived decontamination, so contaminated-on-first-
  crawl URLs stay reclaimable after an eval rotation or a content
  change, at the price of re-running the content stages on every
  recrawl of a dropped page.  Either policy is deterministic from the
  epoch's input + pinned eval version, so replays re-derive the
  identical commit (idempotent rename).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hedera_etl_spark import fsutil
from hedera_etl_spark.operators.joins import inverted_store_probe
from hedera_etl_spark.operators.urlnorm import canonical_urls


def _url_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("canonical_url", T.StringType(), False),
            T.StructField("doc_id", T.LongType()),
        ]
    )


class CanonicalUrlStore(fsutil.BatchDirStore):
    """Append-only parquet store of first-seen canonical URLs: one
    ``urls/batch=X`` directory per committed epoch (single-writer per
    store path).  Commit, replay and compaction: ``fsutil.BatchDirStore``."""

    def __init__(self, spark: SparkSession, path: str):
        super().__init__(spark, os.path.join(path, "urls"), _url_schema())


def incremental_url_dedup(
    docs: DataFrame,
    store: CanonicalUrlStore,
    batch_id: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    removal_ledger=None,
) -> tuple[DataFrame, DataFrame]:
    """One epoch of streaming canonical-URL dedup: drop recrawls of any
    URL committed by an earlier epoch plus within-batch URL variants
    (min-id keeper).  Returns ``(surviving docs, first-seen canonical
    set)``: the docs keep the input schema; the set is
    (canonical_url, doc_id) rows that the caller commits, or the slice
    of them it wants remembered (module docstring), under the SAME
    ``batch_id`` with ``store.commit_batch``.

    Deterministic under retries without storing outputs: the store read
    excludes ``batch_id`` itself.  ``removal_ledger``: optional
    provenance — in-batch drops name their keeper, vs-store drops name
    the store doc that first claimed the URL.
    """
    canon = canonical_urls(docs, url_col).localCheckpoint(eager=False)
    present = canon.filter(
        F.col("canonical_url").isNotNull() & (F.col("canonical_url") != "")
    )
    # within-batch keeper per canonical URL, materialized once: the
    # history probe, the commit, the survivor set and the ledger all
    # read it, and each would otherwise re-run its exchange
    keep_map = present.groupBy("canonical_url").agg(
        F.min(id_col).alias("__keeper")
    ).localCheckpoint()
    # history probe, inverted: the batch's canonical set broadcasts
    history = store.read(exclude_batch=batch_id)
    hits = inverted_store_probe(
        history, keep_map.select(F.col("canonical_url")), "canonical_url"
    ).localCheckpoint(eager=True)
    missing = canon.filter(
        F.col("canonical_url").isNull() | (F.col("canonical_url") == "")
    ).select(F.col(id_col))

    if removal_ledger is not None:
        removal_ledger.record(
            "url_dedup",
            "url_duplicate_in_batch",
            present.join(keep_map, "canonical_url").filter(
                F.col(id_col) != F.col("__keeper")
            ),
            id_col=id_col,
            ref_col="__keeper",
        )
        store_ref = hits.groupBy("canonical_url").agg(
            F.min("doc_id").alias("__store_doc")
        )
        removal_ledger.record(
            "url_dedup",
            "url_duplicate_vs_store",
            keep_map.join(F.broadcast(store_ref), "canonical_url", "inner").select(
                F.col("__keeper").alias(id_col), "__store_doc"
            ),
            id_col=id_col,
            ref_col="__store_doc",
        )

    # the epoch's first-seen canonical set (in-batch keepers not
    # already in history) — deterministic from the input, replay-safe.
    # Its keepers are exactly the surviving URL-bearing docs: a keeper
    # id is the min id of a row carrying that URL.
    new_urls = keep_map.join(
        F.broadcast(hits.select("canonical_url")), "canonical_url", "left_anti"
    ).select("canonical_url", F.col("__keeper").alias("doc_id"))

    accepted_ids = new_urls.select(F.col("doc_id").alias(id_col)).unionByName(missing)
    out = docs.join(F.broadcast(accepted_ids), id_col, "left_semi")
    return out, new_urls
