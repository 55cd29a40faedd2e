"""Command-line entry points — the Spark form of the reference's two
application mains.

- ``ingest``  mirrors HederaETLApplication.main +
  PubSubToBigQueryPipelineOptions (input-subscription /
  output-transactions-table / output-errors-table, here as a source
  directory and two table paths, plus the checkpoint dir Spark needs for
  exactly-the-reference's at-least-once delivery).
- ``dedupe``  mirrors DedupeApplication (the Spring-scheduled
  incremental/full jobs, DedupeConfiguration.java) as an explicit
  one-shot invocation: ``--mode incremental`` (the 5-minute cadence job)
  or ``--mode full`` (the 24-hour safety net), with ``--loop`` running
  the fixed-rate scheduler in-process.
- ``prepare`` the LLM training-data pipeline (operators/llm_pipeline.py):
  dedup -> near-dup collapse -> quality floor -> sample -> pack ->
  checksummed shard export, one command.
- ``pqindex`` persisted product-quantization index (codes-only at
  rest): build (grid / trained / OPQ codebooks), write-once batch
  appends, ADC top-k serving.
- ``bench``   runs the registry's bench-tagged queries (bench.py's
  harness is importable; this is the user-facing wrapper).

Usage:
    python -m hedera_etl_spark.cli ingest --input-dir IN --transactions-table T \
        --errors-table E --checkpoint C [--continuous] [--archive-path A]
    python -m hedera_etl_spark.cli dedupe --table T --state S [--mode full]
    python -m hedera_etl_spark.cli prepare --input DOCS --out-dir OUT \
        --max-tokens 2048 --n-shards 64 [--sample-rate R] [--exact-only]
"""

from __future__ import annotations

import argparse
import sys


class _QueryIdUsageError(Exception):
    """--query-ids can't be parsed for this index's key type (usage
    error: message to stderr, exit code 2 — same contract as the other
    argument-validation paths)."""


def _add_ingest(sub: argparse._SubParsersAction) -> None:
    p = sub.add_parser("ingest", help="JSON-lines stream -> transactions + errors tables")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input-dir", help="streaming source directory (S1)")
    src.add_argument(
        "--kafka-bootstrap-servers",
        help="read from Kafka instead of a directory (S1 message-bus branch; "
        "requires --kafka-topic and the spark-sql-kafka connector JAR)",
    )
    p.add_argument("--kafka-topic", default=None, help="Kafka topic(s), comma-separated")
    p.add_argument(
        "--kafka-starting-offsets", default="earliest", choices=["earliest", "latest"]
    )
    p.add_argument(
        "--kafka-max-offsets-per-trigger",
        type=int,
        default=None,
        help="micro-batch size bound (backpressure for backlog replays)",
    )
    p.add_argument(
        "--transactions-table", required=True, help="output transactions table path (S2)"
    )
    p.add_argument("--errors-table", required=True, help="dead-letter errors table path (S3)")
    p.add_argument("--checkpoint", required=True, help="streaming checkpoint dir (ST1)")
    p.add_argument("--archive-path", default=None, help="optional raw-line archive (S5)")
    p.add_argument("--watermark", default="1 hour", help="dedup state horizon (ST2)")
    p.add_argument(
        "--no-dedupe", action="store_true", help="disable in-stream best-effort dedup"
    )
    p.add_argument(
        "--continuous",
        action="store_true",
        help="run until interrupted (default: drain available input, then exit)",
    )


def _add_dedupe(sub: argparse._SubParsersAction) -> None:
    p = sub.add_parser("dedupe", help="incremental/full dedup over a partitioned table")
    p.add_argument("--table", required=True, help="DAY-partitioned table path")
    p.add_argument("--state", required=True, help="state KV table path (J2)")
    # defaults match the table the `ingest` subcommand writes, so the
    # documented ingest-then-dedupe workflow runs with no extra flags
    p.add_argument("--key", default="consensusTimestamp")
    p.add_argument(
        "--tiebreak",
        default=None,
        help="tiebreak column for which duplicate survives; omit when "
        "duplicates are byte-identical (ingest replays are)",
    )
    p.add_argument("--mode", choices=["incremental", "full"], default="incremental")
    p.add_argument("--lateness-slack-sec", type=int, default=0)
    p.add_argument(
        "--loop-every-sec",
        type=float,
        default=None,
        help="run on a fixed-rate schedule instead of once (DedupeConfiguration.java:35)",
    )
    p.add_argument("--loop-count", type=int, default=None, help="stop after N scheduled runs")


def _add_corpus_ingest(sub: argparse._SubParsersAction) -> None:
    p = sub.add_parser(
        "corpus-ingest",
        help="streaming document JSON lines -> incremental dedup vs the "
        "signature store -> append-only corpus table (streaming/corpus.py)",
    )
    p.add_argument("--input-dir", required=True, help="JSON-lines source directory")
    p.add_argument("--corpus-table", required=True, help="output corpus table path")
    p.add_argument("--store", required=True, help="signature store directory")
    p.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    p.add_argument("--min-tokens", type=int, default=0, help="quality floor (0 disables)")
    p.add_argument(
        "--gopher-rules",
        action="store_true",
        help="apply the full Gopher quality battery per epoch (paper "
        "defaults; same stage key as prepare's --gopher-rules)",
    )
    p.add_argument("--near-threshold", type=float, default=0.5)
    p.add_argument(
        "--paragraph-dedup-sep",
        default=None,
        help="enable incremental paragraph dedup with this literal "
        "separator: each epoch's paragraphs judged against every "
        "earlier epoch via the persisted hash store",
    )
    p.add_argument(
        "--paragraph-min-chars",
        type=int,
        default=1,
        help="paragraphs shorter than this are dedup-EXEMPT (recurring "
        "short headers survive); same knob as prepare's flag",
    )
    p.add_argument(
        "--exact-substr-min-len",
        type=int,
        default=None,
        help="incremental ExactSubstr: cut repeated substrings of >= "
        "this many tokens within the epoch AND against every earlier "
        "epoch's accepted spans (persisted span-hash store; storage is "
        "corpus-order sized — see SpanHashStore)",
    )
    p.add_argument(
        "--eval-input",
        default=None,
        help="benchmark/eval parquet: every epoch decontaminates against "
        "its n-grams BEFORE any store commit; versioned per epoch "
        "(--eval-version), so rotating the set keeps replays of old "
        "epochs on their original decisions",
    )
    p.add_argument(
        "--eval-version",
        default="v1",
        help="names the eval set for per-epoch version records; bump it "
        "whenever --eval-input content changes",
    )
    p.add_argument("--decontam-n", type=int, default=13)
    p.add_argument(
        "--removal-ledger-out",
        default=None,
        help="write per-epoch removal provenance — (doc_id, stage, "
        "reason, ref_id, epoch) for every dropped doc — as parquet "
        "batch dirs under this path (idempotent across replays)",
    )
    p.add_argument(
        "--url-field",
        default=None,
        help="JSON field holding each document's URL: enables canonical-"
        "URL dedup as the FIRST stage (recrawls of any URL committed by "
        "an earlier epoch drop before content hashing; "
        "operators/urlstore.py)",
    )
    p.add_argument(
        "--url-commit-policy",
        choices=["always", "post_decontam"],
        default="always",
        help="what the URL store remembers: 'always' commits every "
        "first-seen canonical URL (a recrawl of a dropped page dies at "
        "the URL stage forever); 'post_decontam' commits only URLs whose "
        "doc survived decontamination, so pages contaminated under one "
        "eval version stay reclaimable after rotating it "
        "(operators/urlstore.py)",
    )
    p.add_argument(
        "--max-files-per-trigger", type=int, default=None, help="micro-batch size bound"
    )
    p.add_argument(
        "--continuous",
        action="store_true",
        help="run until interrupted (default: drain available input, then exit)",
    )
    p.add_argument(
        "--compact-after",
        action="store_true",
        help="after draining, fold the per-batch corpus, signature-store "
        "and paragraph-store directories into one each (crash-safe; run "
        "past the replay horizon)",
    )


def _add_prepare(sub: argparse._SubParsersAction) -> None:
    p = sub.add_parser(
        "prepare",
        help="training-data pipeline: dedup -> collapse -> filter -> "
        "sample -> pack -> checksummed shards (operators/llm_pipeline.py)",
    )
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--out-dir", required=True, help="export directory (shards + _manifest)")
    p.add_argument("--max-tokens", type=int, required=True, help="packing budget per context")
    p.add_argument("--n-shards", type=int, required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument(
        "--removal-ledger-out",
        default=None,
        help="write per-document removal provenance — (doc_id, stage, "
        "reason, ref_id) for every dropped doc — as parquet to this "
        "path (operators/provenance.py)",
    )
    p.add_argument(
        "--normalize-form",
        default=None,
        choices=["NFC", "NFKC", "NFD", "NFKD"],
        help="Unicode-normalize text before any dedup hashing",
    )
    p.add_argument("--normalize-lowercase", action="store_true")
    p.add_argument(
        "--paragraph-dedup-sep",
        default=None,
        help="enable paragraph-level dedup with this literal separator "
        "(e.g. $'\\n\\n'): duplicated paragraphs keep their corpus-wide "
        "first occurrence",
    )
    p.add_argument("--paragraph-min-chars", type=int, default=1)
    p.add_argument(
        "--near-threshold",
        type=float,
        default=0.5,
        help="MinHash near-dup Jaccard threshold; --exact-only skips the stage",
    )
    p.add_argument("--exact-only", action="store_true")
    p.add_argument(
        "--near-dup-method",
        default="minhash",
        choices=["minhash", "winnow"],
        help="near-dup detector: MinHash+LSH set similarity, or winnowing "
        "fingerprint overlap (catches containment of long verbatim runs)",
    )
    p.add_argument(
        "--minhash-hash-fn",
        default="xxhash64",
        choices=["xxhash64", "md5"],
        help="MinHash signature digest: xxhash64 (production, JVM-native)"
        " or md5 (slower; lets another engine replay the exact pair set)",
    )
    p.add_argument("--winnow-min-shared", type=int, default=3)
    p.add_argument("--min-tokens", type=int, default=5, help="quality floor (0 disables)")
    p.add_argument(
        "--span-dedup-n",
        type=int,
        default=None,
        help="cut verbatim token spans of this width recurring in the "
        "corpus (keeps the canonical first occurrence)",
    )
    p.add_argument(
        "--exact-substr-min-len",
        type=int,
        default=None,
        help="ExactSubstr: cut every repeated substring of >= this many "
        "tokens at ANY length/alignment (all occurrences go)",
    )
    p.add_argument(
        "--keeper-score-col",
        default=None,
        help="column naming a per-doc quality score: the near-dup "
        "cluster keeper becomes highest-score (ties min-id) instead of "
        "min-id — FineWeb-style best-in-cluster retention",
    )
    p.add_argument(
        "--eval-input",
        default=None,
        help="benchmark/eval parquet; enables n-gram decontamination",
    )
    p.add_argument("--decontam-n", type=int, default=13, help="decontamination n-gram width")
    p.add_argument(
        "--decontam-mode",
        choices=("auto", "exact", "bloom"),
        default="auto",
        help="decontamination engine: exact broadcasts the reference "
        "shingles; bloom takes the fixed-size Bloom-table scale path for "
        "giant references (identical results, auto-sized m/k); auto "
        "switches on the reference shingle count",
    )
    p.add_argument(
        "--bloom-decontam-fp",
        type=float,
        default=0.01,
        help="target false-positive rate sizing the Bloom filter (cost "
        "knob only — the exact verify removes every false positive)",
    )
    p.add_argument(
        "--bloom-auto-threshold",
        type=int,
        default=2_000_000,
        help="approx distinct reference n-grams above which auto mode "
        "uses the Bloom path",
    )
    p.add_argument(
        "--fuzzy-decontam-threshold",
        type=float,
        default=None,
        help="additionally drop NEAR-duplicates of eval items at this "
        "shingle-Jaccard (exact overlap alone misses paraphrases)",
    )
    p.add_argument("--fuzzy-decontam-n", type=int, default=5)
    p.add_argument(
        "--max-dup-line-frac", type=float, default=None, help="Gopher repetition cap"
    )
    p.add_argument(
        "--max-top-bigram-frac", type=float, default=None, help="Gopher repetition cap"
    )
    p.add_argument(
        "--quality-weights",
        default=None,
        help="JSON weight file (qualityfilter.save_weights); enables the "
        "trained-classifier quality floor",
    )
    p.add_argument("--min-quality-prob", type=float, default=0.5)
    p.add_argument(
        "--text-classifier-weights",
        default=None,
        help="(bucket, w_int) parquet from `classifier-train`, or the "
        "literal 'standin' for the deterministic md5 table; enables the "
        "hashed-text classifier floor (operators/qualityclf.py)",
    )
    p.add_argument("--text-classifier-min-score", type=float, default=0.5)
    p.add_argument("--text-classifier-buckets", type=int, default=2048)
    p.add_argument(
        "--mixture",
        default=None,
        help="target domain mixture, e.g. 'web=0.5,code=0.3,books=0.2' "
        "(solved to per-domain keep-rates; untargeted domains drop)",
    )
    p.add_argument(
        "--mixture-temperature",
        type=float,
        default=None,
        help="derive the target mixture from the corpus's own domain "
        "masses with exponential smoothing w_d ∝ c_d^alpha (alpha=1 "
        "natural mixture, alpha→0 uniform; mT5 uses 0.3) — mutually "
        "exclusive with --mixture",
    )
    p.add_argument("--domain-col", default="source", help="mixture stratum column")
    p.add_argument(
        "--mixture-weight-col",
        default=None,
        help="per-row mass column (e.g. a token count): mixture targets "
        "then hold by tokens instead of document counts",
    )
    p.add_argument("--sample-rate", type=float, default=1.0)
    p.add_argument(
        "--importance-col",
        default=None,
        help="per-row keep-probability column (DSIR-style importance "
        "resample; values clamp into [0,1])",
    )
    p.add_argument(
        "--importance-null-weight",
        type=float,
        default=0.0,
        help="keep probability for rows whose importance score is NULL "
        "(default 0 = drop unscored rows)",
    )
    p.add_argument(
        "--gopher-rules",
        action="store_true",
        help="apply the full remaining Gopher quality battery "
        "(word-count/word-length bounds, symbol ratio, bullet/ellipsis "
        "line fractions, alpha-word fraction, stop-word presence) at "
        "the paper's default thresholds",
    )
    p.add_argument(
        "--dataset-card",
        action="store_true",
        help="write <out-dir>/dataset_card.json — the machine-readable "
        "datasheet: content totals, per-source/lang mixes, column "
        "profile, removal-ledger drop report (when "
        "--removal-ledger-out is set), shard checksum verdict",
    )
    p.add_argument(
        "--dsir-target-input",
        default=None,
        help="parquet dir of a TARGET corpus: self-contained DSIR "
        "selection — hashed n-gram NB log-ratio weights of every "
        "survivor vs this corpus, water-filled to --dsir-rate expected "
        "keep fraction (operators/dsir.py)",
    )
    p.add_argument(
        "--dsir-rate",
        type=float,
        default=0.5,
        help="expected keep fraction for --dsir-target-input selection",
    )
    p.add_argument(
        "--dsir-n-buckets",
        type=int,
        default=8192,
        help="hashed-feature bucket count for the DSIR model",
    )
    p.add_argument(
        "--token-budget",
        type=int,
        default=None,
        help="final compute-bound cut: keep the highest-quality docs "
        "whose running token total stays within this budget",
    )
    p.add_argument("--salt", default="", help="decorrelates this sample from other splits")
    p.add_argument("--pack-groups", type=int, default=64)
    p.add_argument(
        "--shard-order-salt",
        default=None,
        help="export in seeded training order as FIXED-size shards "
        "instead of hash-mod shards (requires --shard-size; a new salt "
        "draws a fresh epoch shuffle)",
    )
    p.add_argument("--shard-size", type=int, default=None, help="rows per ordered shard")
    p.add_argument(
        "--cluster-balance-k",
        type=int,
        default=None,
        help="embedding-space mixture control: assign each doc's "
        "embedding to one of K centroids and resample clusters toward "
        "c^alpha shares (requires --embeddings-input)",
    )
    p.add_argument("--cluster-balance-alpha", type=float, default=0.5)
    p.add_argument(
        "--embeddings-input",
        default=None,
        help="embeddings parquet (vec_id, embedding) keyed by the doc id; "
        "enables the semantic near-dup stage",
    )
    p.add_argument(
        "--embedding-index",
        default=None,
        help="persisted IVF index directory (built on first run, probed "
        "and appended on later batches); required with --embeddings-input",
    )
    p.add_argument("--embedding-threshold", type=float, default=0.95)
    p.add_argument("--embedding-n-probe", type=int, default=2)
    p.add_argument(
        "--lm-min-avg-logp",
        type=float,
        default=None,
        help="mean bigram ln-probability floor (CCNet-style perplexity "
        "gate); enables the LM quality stage",
    )
    p.add_argument(
        "--lm-ref-input",
        default=None,
        help="reference corpus parquet to train the bigram LM on "
        "(default: self-train on the pipeline survivors)",
    )


def _add_diff(sub: argparse._SubParsersAction) -> None:
    p = sub.add_parser(
        "diff",
        help="corpus snapshot audit: per-id added/removed/changed/"
        "unchanged between two parquet snapshots (operators/corpusdiff.py)",
    )
    p.add_argument("--old", required=True, help="old snapshot parquet path")
    p.add_argument("--new", required=True, help="new snapshot parquet path")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument(
        "--content-cols",
        default="text",
        help="comma-separated content columns hashed for change detection",
    )
    p.add_argument(
        "--out",
        default=None,
        help="optional parquet path for the full per-id diff (default: "
        "print the 4-row summary only)",
    )


def _add_why(sub: argparse._SubParsersAction) -> None:
    p = sub.add_parser(
        "why",
        help="why did doc X disappear: its removal records plus the "
        "transitive fate of every referenced keeper "
        "(operators/provenance.drop_chain)",
    )
    p.add_argument(
        "--ledger",
        required=True,
        help="ledger path: the parquet dir from `prepare "
        "--removal-ledger-out` or the batch-<epoch> layout from "
        "`corpus-ingest --removal-ledger-out`",
    )
    p.add_argument(
        "--doc-id",
        type=int,
        default=None,
        help="the document to explain (omit with --summary)",
    )
    p.add_argument("--max-hops", type=int, default=10)
    p.add_argument(
        "--summary",
        action="store_true",
        help="print the whole-ledger drop report instead: one line per "
        "(stage, reason) with its document count",
    )


def _add_pqindex(sub: argparse._SubParsersAction) -> None:
    p = sub.add_parser(
        "pqindex",
        help="persisted product-quantization index: build / add / topk "
        "(operators/pquant.PQIndex — codes-only at rest)",
    )
    p.add_argument("--index", required=True, help="index directory")
    p.add_argument(
        "--action",
        choices=("build", "add", "topk", "probe", "rebuild"),
        required=True,
    )
    p.add_argument("--input", default=None, help="embeddings parquet dir")
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--m", type=int, default=8, help="subspaces")
    p.add_argument("--k-codes", type=int, default=16, help="codes/subspace")
    p.add_argument("--dims", type=int, default=64)
    p.add_argument(
        "--train", action="store_true",
        help="train codebooks (per-subspace k-means) instead of the "
        "deterministic grid",
    )
    p.add_argument(
        "--opq", action="store_true",
        help="learn an OPQ rotation alongside the codebooks",
    )
    p.add_argument("--train-iters", type=int, default=4)
    p.add_argument("--scale", type=float, default=1.0,
                   help="grid codebook scale (match the data range)")
    p.add_argument("--batch-id", default=None,
                   help="explicit write-once batch id for add")
    p.add_argument("--query-ids", default=None,
                   help="comma-separated ids for topk (rows of --input)")
    p.add_argument("--k-neighbors", type=int, default=5)


def _add_bench(sub: argparse._SubParsersAction) -> None:
    p = sub.add_parser("bench", help="run the bench-tagged registry queries")
    p.add_argument("--sf-dir", default=None, help="parquet dir (default $SPARK_GRAFT_SF_DIR)")


def _add_classifier_train(sub: argparse._SubParsersAction) -> None:
    p = sub.add_parser(
        "classifier-train",
        help="train the hashed-text quality classifier (NB log-odds over "
        "a positive/negative corpus pair; operators/qualityclf.py) and "
        "write the (bucket, w_int) table as parquet for "
        "`prepare --text-classifier-weights`",
    )
    p.add_argument("--pos-input", required=True, help="high-quality exemplar corpus (parquet)")
    p.add_argument("--neg-input", required=True, help="rejection-class corpus (parquet)")
    p.add_argument("--out", required=True, help="output weights table path (parquet)")
    p.add_argument("--n-buckets", type=int, default=2048)
    p.add_argument("--scale", type=int, default=1000)
    p.add_argument(
        "--log-cap", type=float, default=8.0,
        help="log-odds magnitude that saturates the integer weight range",
    )
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(prog="hedera-etl-spark")
    sub = parser.add_subparsers(dest="command", required=True)
    _add_ingest(sub)
    _add_dedupe(sub)
    _add_corpus_ingest(sub)
    _add_prepare(sub)
    _add_diff(sub)
    _add_why(sub)
    _add_pqindex(sub)
    _add_bench(sub)
    _add_classifier_train(sub)
    return parser


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.command == "bench":
        import os

        if args.sf_dir:
            os.environ["SPARK_GRAFT_SF_DIR"] = args.sf_dir
        # bench.py is a repo-root script, not a package module — anchor
        # its import off this file so the subcommand works from any cwd
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        import bench

        return bench.main()

    from hedera_etl_spark.session import get_spark

    spark = get_spark(f"hedera-etl-{args.command}")

    if args.command == "classifier-train":
        import json

        from pyspark.sql import functions as F

        from hedera_etl_spark.operators.qualityclf import train_nb_weights

        weights = train_nb_weights(
            spark.read.parquet(args.pos_input),
            spark.read.parquet(args.neg_input),
            n_buckets=args.n_buckets,
            scale=args.scale,
            log_cap=args.log_cap,
            text_col=args.text_col,
            id_col=args.id_col,
        )
        weights.write.mode("overwrite").parquet(args.out)
        stats = (
            spark.read.parquet(args.out)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("w_int") != 0).cast("long")).alias("nz"),
            )
            .collect()[0]
        )
        print(
            json.dumps(
                {
                    "weights": args.out,
                    "n_buckets": int(stats["n"]),
                    "nonzero": int(stats["nz"]),
                    "scale": args.scale,
                }
            )
        )
        return 0

    if args.command == "pqindex":
        from hedera_etl_spark.operators.pquant import PQIndex

        if args.action == "build":
            emb = spark.read.parquet(args.input) if args.input else None
            PQIndex.build(
                spark, args.index, emb,
                m=args.m, k=args.k_codes, dims=args.dims,
                train=args.train, opq=args.opq,
                train_iters=args.train_iters,
                id_col=args.id_col, vec_col=args.vec_col,
                scale=args.scale,
            )
            print(f"built index at {args.index}")
            return 0
        idx = PQIndex(spark, args.index)
        if args.action == "add":
            if not args.input:
                print("--input is required for add", file=sys.stderr)
                return 2
            landed = idx.add_vectors(
                spark.read.parquet(args.input),
                batch_id=args.batch_id,
                id_col=args.id_col, vec_col=args.vec_col,
            )
            print("landed" if landed else "skipped (already committed)")
            return 0
        if args.action == "rebuild":
            if not args.input:
                print("--input is required for rebuild", file=sys.stderr)
                return 2
            idx.rebuild_codebooks(
                spark.read.parquet(args.input),
                train_iters=args.train_iters, opq=args.opq,
                id_col=args.id_col, vec_col=args.vec_col,
            )
            print(f"rebuilt codebooks + re-encoded at {args.index}")
            return 0
        def _parse_query_ids(raw: str) -> list:
            # parse according to the index's RECORDED key type (r13
            # advice): an unconditional int() cast breaks string-keyed
            # indexes (ValueError on non-numeric ids) or silently
            # type-mismatches the isin filter.
            integral = {"tinyint", "smallint", "int", "bigint"}
            # strip whitespace so `--query-ids "a, b"` probes "b", not " b"
            # (the int path raised on " 2"; the string path silently
            # returned empty isin matches — r14 advice)
            vals = [x.strip() for x in raw.split(",")]
            if idx.id_type is None:
                # empty index (no batch recorded a key type yet): best
                # effort — numeric if every id parses, else strings
                try:
                    return [int(x) for x in vals]
                except ValueError:
                    return vals
            if idx.id_type in integral:
                return [int(x) for x in vals]
            if idx.id_type == "binary":
                # CLI strings can't spell arbitrary bytes faithfully —
                # refuse loudly rather than guess an encoding.  Usage
                # errors exit 2 via the caller, same contract as the
                # --input/--query-ids validation paths (r14 advice).
                raise _QueryIdUsageError(
                    "this index is binary-keyed; drive probes from the "
                    "Python API where ids can be passed as bytes"
                )
            return vals

        if args.action == "probe":
            if not args.input or not args.query_ids:
                print("--input and --query-ids are required for probe",
                      file=sys.stderr)
                return 2
            try:
                ids = _parse_query_ids(args.query_ids)
            except _QueryIdUsageError as e:
                print(e, file=sys.stderr)
                return 2
            for r in idx.recall_probe(
                spark.read.parquet(args.input), ids,
                k_neighbors=args.k_neighbors,
                id_col=args.id_col, vec_col=args.vec_col,
            ).collect():
                print(f"{r['batch_id']}\t{r['query_id']}\t{r['overlap']}")
            return 0
        if not args.input or not args.query_ids:
            print("--input and --query-ids are required for topk",
                  file=sys.stderr)
            return 2
        try:
            ids = _parse_query_ids(args.query_ids)
        except _QueryIdUsageError as e:
            print(e, file=sys.stderr)
            return 2
        rows = idx.topk(
            spark.read.parquet(args.input), ids,
            k_neighbors=args.k_neighbors,
            id_col=args.id_col, vec_col=args.vec_col,
        ).collect()
        for r in rows:
            print(f"{r['query_id']}\t{r['rank']}\t{r['neighbor_id']}\t{r['adc_dist']}")
        return 0

    if args.command == "ingest":
        from hedera_etl_spark.streaming.ingest import IngestPipeline

        source_fn = None
        if args.kafka_bootstrap_servers:
            if not args.kafka_topic:
                print("--kafka-topic is required with --kafka-bootstrap-servers",
                      file=sys.stderr)
                return 2
            from hedera_etl_spark.streaming.sources import kafka_source

            source_fn = kafka_source(
                args.kafka_bootstrap_servers,
                args.kafka_topic.split(","),
                starting_offsets=args.kafka_starting_offsets,
                max_offsets_per_trigger=args.kafka_max_offsets_per_trigger,
            )
        pipe = IngestPipeline(
            spark,
            args.input_dir or "",
            args.transactions_table,
            args.errors_table,
            args.checkpoint,
            watermark=args.watermark,
            dedupe_in_stream=not args.no_dedupe,
            archive_path=args.archive_path,
            source_fn=source_fn,
        )
        if args.continuous:
            pipe.start(available_now=False).awaitTermination()
        else:
            m = pipe.run_to_completion()
            print(
                f"batches={m.batches} valid_rows={m.valid_rows} error_rows={m.error_rows}"
            )
        return 0

    if args.command == "corpus-ingest":
        from hedera_etl_spark.streaming.corpus import CorpusIngestPipeline

        pipeline = CorpusIngestPipeline(
            spark,
            input_dir=args.input_dir,
            corpus_table=args.corpus_table,
            store_path=args.store,
            checkpoint=args.checkpoint,
            min_tokens=args.min_tokens,
            gopher_rules={} if args.gopher_rules else None,
            near_threshold=args.near_threshold,
            max_files_per_trigger=args.max_files_per_trigger,
            paragraph_dedup_sep=args.paragraph_dedup_sep,
            paragraph_min_chars=args.paragraph_min_chars,
            exact_substr_min_len=args.exact_substr_min_len,
            eval_docs=spark.read.parquet(args.eval_input)
            if args.eval_input
            else None,
            decontam_n=args.decontam_n,
            eval_version=args.eval_version,
            ledger_dir=args.removal_ledger_out,
            url_field=args.url_field,
            url_commit_policy=args.url_commit_policy,
        )
        if args.continuous:
            if args.compact_after:
                raise SystemExit(
                    "--compact-after requires a drained run (the compaction "
                    "caveat: past the replay horizon) — drop --continuous"
                )
            pipeline.start(available_now=False).awaitTermination()
            return 0
        m = pipeline.run_until_drained()
        print(
            f"batches={m.batches} rows_in={m.rows_in} accepted={m.accepted} "
            f"dropped_quality={m.dropped_quality} "
            f"dropped_exact={m.dropped_exact} dropped_near={m.dropped_near}"
        )
        if args.compact_after:
            folded = pipeline.compact_corpus()
            print(f"compacted={folded} batch dirs")
            folded = pipeline.store.compact()
            print(f"compacted={folded} signature-store batch dirs")
            if pipeline.paragraph_store is not None:
                folded = pipeline.paragraph_store.compact()
                print(f"compacted={folded} paragraph-store batch dirs")
            if pipeline.url_store is not None:
                folded = pipeline.url_store.compact()
                print(f"compacted={folded} url-store batch dirs")
            if pipeline.ledger_dir is not None:
                folded = pipeline.compact_ledger()
                print(f"compacted={folded} ledger batch dirs")
        return 0

    if args.command == "prepare":
        from pyspark.sql import functions as F

        from hedera_etl_spark.operators.llm_pipeline import prepare_training_shards
        from hedera_etl_spark.operators.lmscore import bigram_lm

        docs = spark.read.parquet(args.input)
        quality_weights = None
        if args.quality_weights:
            from hedera_etl_spark.operators.qualityfilter import load_weights

            quality_weights = load_weights(args.quality_weights)
        mixture = None
        if args.mixture:
            mixture = {
                part.split("=")[0]: float(part.split("=")[1])
                for part in args.mixture.split(",")
            }
        removal_ledger = None
        if args.removal_ledger_out:
            from hedera_etl_spark.operators.provenance import RemovalLedger

            removal_ledger = RemovalLedger()
        manifest = prepare_training_shards(
            docs,
            args.out_dir,
            max_tokens=args.max_tokens,
            n_shards=args.n_shards,
            pack_groups=args.pack_groups,
            shard_order_salt=args.shard_order_salt,
            shard_size=args.shard_size,
            id_col=args.id_col,
            text_col=args.text_col,
            normalize_form=args.normalize_form,
            normalize_lowercase=args.normalize_lowercase,
            paragraph_dedup_sep=args.paragraph_dedup_sep,
            paragraph_min_chars=args.paragraph_min_chars,
            near_threshold=None if args.exact_only else args.near_threshold,
            near_dup_method=args.near_dup_method,
            minhash_hash_fn=args.minhash_hash_fn,
            winnow_min_shared=args.winnow_min_shared,
            span_dedup_n=args.span_dedup_n,
            exact_substr_min_len=args.exact_substr_min_len,
            keeper_score_col=args.keeper_score_col,
            eval_docs=spark.read.parquet(args.eval_input) if args.eval_input else None,
            decontam_n=args.decontam_n,
            decontam_mode=args.decontam_mode,
            bloom_decontam_fp=args.bloom_decontam_fp,
            bloom_auto_threshold=args.bloom_auto_threshold,
            fuzzy_decontam_threshold=args.fuzzy_decontam_threshold,
            fuzzy_decontam_n=args.fuzzy_decontam_n,
            min_tokens=args.min_tokens,
            max_dup_line_frac=args.max_dup_line_frac,
            max_top_bigram_frac=args.max_top_bigram_frac,
            gopher_rules={} if args.gopher_rules else None,
            quality_weights=quality_weights,
            min_quality_prob=args.min_quality_prob,
            text_classifier_weights=(
                True
                if args.text_classifier_weights == "standin"
                else spark.read.parquet(args.text_classifier_weights)
                if args.text_classifier_weights
                else None
            ),
            text_classifier_min_score=args.text_classifier_min_score,
            text_classifier_buckets=args.text_classifier_buckets,
            mixture=mixture,
            mixture_temperature=args.mixture_temperature,
            mixture_weight_col=args.mixture_weight_col,
            domain_col=args.domain_col,
            sample_rate=args.sample_rate,
            importance_col=args.importance_col,
            importance_null_weight=args.importance_null_weight,
            dsir_target=(
                spark.read.parquet(args.dsir_target_input)
                if args.dsir_target_input
                else None
            ),
            dsir_rate=args.dsir_rate,
            dsir_n_buckets=args.dsir_n_buckets,
            token_budget=args.token_budget,
            salt=args.salt,
            cluster_balance_k=args.cluster_balance_k,
            cluster_balance_alpha=args.cluster_balance_alpha,
            embeddings=(
                spark.read.parquet(args.embeddings_input)
                if args.embeddings_input
                else None
            ),
            embedding_index_path=args.embedding_index,
            embedding_threshold=args.embedding_threshold,
            embedding_n_probe=args.embedding_n_probe,
            lm_min_avg_logp=args.lm_min_avg_logp,
            lm_model=(
                bigram_lm(
                    spark.read.parquet(args.lm_ref_input),
                    text_col=args.text_col,
                    id_col=args.id_col,
                )
                if args.lm_ref_input
                else None
            ),
            removal_ledger=removal_ledger,
        )
        if removal_ledger is not None:
            ledger_df = removal_ledger.df()
            ledger_df.write.mode("overwrite").parquet(args.removal_ledger_out)
            n_removed = (
                spark.read.parquet(args.removal_ledger_out).count()
            )
            print(f"removal_ledger: {n_removed} rows -> {args.removal_ledger_out}")
        totals = manifest.agg(
            F.sum("n_rows").alias("rows"),
            F.sum("n_tokens").alias("tokens"),
            F.count("*").alias("shards"),
        ).collect()[0]
        print(
            f"shards={totals['shards']} rows={totals['rows']} tokens={totals['tokens']} "
            f"out={args.out_dir}"
        )
        if args.dataset_card:
            import os

            from hedera_etl_spark.operators.datasetcard import (
                dataset_card,
                write_dataset_card,
            )

            shipped = spark.read.parquet(os.path.join(args.out_dir, "shards"))
            group_cols = tuple(
                c for c in (args.domain_col,) if c in shipped.columns
            )
            card = dataset_card(
                spark,
                shipped,
                id_col=args.id_col,
                text_col=args.text_col,
                group_cols=group_cols,
                ledger_dir=args.removal_ledger_out
                if args.removal_ledger_out
                else None,
                shards_dir=args.out_dir,
                name=os.path.basename(os.path.normpath(args.out_dir)),
                # r13 report surfaces: residual near-dup mass on the
                # SHIPPED corpus, contamination verification against the
                # eval set prepare decontaminated with, and (via the
                # ledger) the dup-cluster histogram
                similarity_report=True,
                eval_docs=spark.read.parquet(args.eval_input)
                if args.eval_input
                else None,
                decontam_n=args.decontam_n,
            )
            card_path = os.path.join(args.out_dir, "dataset_card.json")
            write_dataset_card(card, card_path)
            print(f"dataset_card -> {card_path}")
        return 0

    if args.command == "diff":
        from hedera_etl_spark.operators.corpusdiff import corpus_diff, diff_summary

        content_cols = tuple(
            c.strip() for c in args.content_cols.split(",") if c.strip()
        )
        if not content_cols:
            print("--content-cols must name at least one column", file=sys.stderr)
            return 2
        diff = corpus_diff(
            spark.read.parquet(args.old),
            spark.read.parquet(args.new),
            id_col=args.id_col,
            content_cols=content_cols,
        )
        if args.out:
            diff.write.mode("error").parquet(args.out)
            diff = spark.read.parquet(args.out)  # summary reads it back
        counts = {r["status"]: r["n"] for r in diff_summary(diff).collect()}
        print(
            " ".join(
                f"{k}={counts.get(k, 0)}"
                for k in ("added", "removed", "changed", "unchanged")
            )
            + (f" out={args.out}" if args.out else "")
        )
        return 0

    if args.command == "why":
        from hedera_etl_spark.operators.provenance import (
            drop_chain,
            read_ledger_path,
        )

        from pyspark.sql import functions as F

        ledger = read_ledger_path(spark, args.ledger)
        if args.summary:
            rows = (
                ledger.groupBy("stage", "reason")
                .agg(F.count(F.lit(1)).alias("n_docs"))
                .orderBy(F.col("n_docs").desc(), "stage", "reason")
                .collect()
            )
            for r in rows:
                print(f"{r['stage']}/{r['reason']}: {r['n_docs']}")
            print(f"total_removed={sum(r['n_docs'] for r in rows)}")
            return 0
        if args.doc_id is None:
            print("--doc-id is required (or pass --summary)", file=sys.stderr)
            return 2
        chain = drop_chain(ledger, args.doc_id, max_hops=args.max_hops)
        rows = chain.collect()
        if not rows:
            print(
                f"doc {args.doc_id}: no removal records — survived the "
                "pipeline (or was never ingested)"
            )
            return 0
        # rows this hop referenced but that have no records of their own:
        # those keepers SURVIVED — say so instead of ending silently
        recorded = {r["doc_id"] for r in rows}
        for r in rows:
            epoch = f" epoch={r['epoch']}" if "epoch" in chain.columns else ""
            ref = f" ref={r['ref_id']}" if r["ref_id"] is not None else ""
            print(
                f"{'  ' * r['hop']}doc {r['doc_id']}: stage={r['stage']} "
                f"reason={r['reason']}{ref}{epoch}"
            )
            try:
                ref_doc = int(r["ref_id"])
            except (TypeError, ValueError):
                continue
            if ref_doc not in recorded:
                print(
                    f"{'  ' * (r['hop'] + 1)}doc {ref_doc}: kept "
                    "(no removal records)"
                )
        return 0

    if args.command == "dedupe":
        from hedera_etl_spark.operators.dedupe import DedupeJob, StateStore

        job = DedupeJob(
            spark,
            args.table,
            StateStore(spark, args.state),
            key=args.key,
            tiebreak=[args.tiebreak] if args.tiebreak else [],
            lateness_slack_sec=args.lateness_slack_sec,
        )
        run = job.run_full if args.mode == "full" else job.run_incremental
        if args.loop_every_sec:
            import time

            from hedera_etl_spark.operators.scheduler import FixedRateScheduler

            sched = FixedRateScheduler()
            scheduled = sched.every(args.loop_every_sec, run, name=f"dedupe-{args.mode}")
            while args.loop_count is None or scheduled.runs < args.loop_count:
                sched.run_pending()
                time.sleep(min(args.loop_every_sec / 10, 1.0))
        else:
            result = run()
            print(
                f"window=[{result.start},{result.end}] "
                f"duplicates_removed={result.duplicates_removed} "
                f"rows_in_window={result.rows_in_window}"
            )
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
