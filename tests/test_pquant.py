"""Product quantization (operators/pquant.py): encode determinism and
shape, ADC == exact distance-to-reconstruction, training reduces
quantization error, trained-codebook recall on clustered data, the
persisted-codes reuse path, and the broadcast-scan plan pin."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from hedera_etl_spark.operators.pquant import (
    pq_adc_topk,
    pq_codebooks,
    pq_encode,
    pq_reconstruct,
    pq_train_codebooks,
)
from tests.planutil import plan_of

DIMS = 16
M = 4
K = 8


def _u(tag: str) -> float:
    """Deterministic uniform in [-1, 1) from md5 (no random in tests)."""
    return int(hashlib.md5(tag.encode()).hexdigest()[:8], 16) / 0xFFFFFFFF * 2 - 1


def _clustered(n_clusters: int, per: int, spread: float = 0.02):
    """Tightly clustered vectors: cluster centers in [-0.4, 0.4]^DIMS,
    members jittered by ``spread`` — the regime PQ is built for."""
    rows = []
    for c in range(n_clusters):
        center = [0.4 * _u(f"c:{c}:{d}") for d in range(DIMS)]
        for i in range(per):
            vid = c * per + i
            vec = [
                center[d] + spread * _u(f"n:{vid}:{d}") for d in range(DIMS)
            ]
            rows.append((vid, vec))
    return rows


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _sq(a, b):
    return sum((x - y) ** 2 for x, y in zip(a, b))


def test_encode_shape_and_determinism(spark):
    emb = _emb(spark, _clustered(5, 10))
    books = pq_codebooks(M, K, DIMS, scale=0.4)
    a = {r["vec_id"]: r["codes"] for r in pq_encode(emb, books).collect()}
    b = {
        r["vec_id"]: r["codes"]
        for r in pq_encode(emb.repartition(7), books).collect()
    }
    assert a == b
    for codes in a.values():
        assert len(codes) == M
        assert all(1 <= c <= K for c in codes)


def test_encode_matches_python_argmin(spark):
    rows = _clustered(3, 4)
    books = pq_codebooks(M, K, DIMS, scale=0.4)
    got = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(_emb(spark, rows), books).collect()
    }
    sub = DIMS // M
    for vid, vec in rows:
        want = []
        for s in range(M):
            dists = [
                _sq(vec[s * sub : (s + 1) * sub], code) for code in books[s]
            ]
            want.append(dists.index(min(dists)) + 1)
        assert got[vid] == want, vid


def test_adc_equals_distance_to_reconstruction(spark):
    rows = _clustered(4, 8)
    emb = _emb(spark, rows)
    books = pq_codebooks(M, K, DIMS, scale=0.4)
    codes = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(emb, books).collect()
    }
    vecs = dict(rows)
    top = pq_adc_topk(
        emb, [0, 9], k_neighbors=5, m=M, n_codes=K, dims=DIMS, codebooks=books
    ).collect()
    assert len(top) == 10
    for r in top:
        recon = pq_reconstruct(codes[r["neighbor_id"]], books)
        want = round(_sq(vecs[r["query_id"]], recon), 6)
        assert r["adc_dist"] == pytest.approx(want, abs=2e-6)


def test_training_reduces_quantization_error(spark):
    rows = _clustered(K, 12)  # K clusters: a trained book can nail them
    emb = _emb(spark, rows)
    grid = pq_codebooks(M, K, DIMS, scale=0.4)
    trained = pq_train_codebooks(emb, m=M, k=K, dims=DIMS, iters=4)
    vecs = dict(rows)

    def mean_err(books):
        codes = pq_encode(emb, books).collect()
        return sum(
            _sq(vecs[r["vec_id"]], pq_reconstruct(list(r["codes"]), books))
            for r in codes
        ) / len(codes)

    assert mean_err(trained) < 0.5 * mean_err(grid)


def test_trained_recall_vs_bruteforce(spark):
    """PQ resolves neighbors at quantization-cell granularity: within a
    cell all members tie (tie-broken by id), so the meaningful
    guarantees are (a) every ADC top-5 neighbor is from the query's
    true cluster, and (b) the exact top-5 all appear in an ADC
    shortlist the size of the cluster — the standard
    shortlist-then-rerank contract."""
    per = 12
    rows = _clustered(6, per, spread=0.01)
    emb = _emb(spark, rows)
    trained = pq_train_codebooks(emb, m=M, k=K, dims=DIMS, iters=4)
    vecs = dict(rows)
    queries = [0, 12, 24]
    short = {}
    for r in pq_adc_topk(
        emb, queries, k_neighbors=per, m=M, n_codes=K, dims=DIMS,
        codebooks=trained,
    ).collect():
        short.setdefault(r["query_id"], []).append(r["neighbor_id"])
    for q in queries:
        cluster = set(range(q, q + per))
        # (a) precision: the top-5 shortlist entries are all in-cluster
        assert set(short[q][:5]) <= cluster - {q}
        # (b) shortlist recall: exact top-5 inside the size-12 shortlist
        exact = sorted(
            (vid for vid in vecs if vid != q),
            key=lambda v: (_sq(vecs[q], vecs[v]), v),
        )[:5]
        assert set(exact) <= set(short[q])


def test_precomputed_codes_path_matches_inline(spark):
    emb = _emb(spark, _clustered(4, 8))
    books = pq_codebooks(M, K, DIMS, scale=0.4)
    inline = pq_adc_topk(
        emb, [0, 5], 5, M, K, DIMS, codebooks=books
    ).collect()
    reuse = pq_adc_topk(
        emb, [0, 5], 5, M, K, DIMS, codebooks=books,
        codes_df=pq_encode(emb, books),
    ).collect()
    assert inline == reuse


def test_adc_plan_broadcasts_queries_and_scans_codes(spark):
    """The compressed-scan property: the query side (with its lookup
    tables) broadcasts; the code table is scanned, not shuffled, before
    scoring — the only exchange below the ranking window is none."""
    emb = _emb(spark, _clustered(4, 8))
    books = pq_codebooks(M, K, DIMS, scale=0.4)
    plan = plan_of(pq_adc_topk(emb, [0, 5], 5, M, K, DIMS, codebooks=books))
    assert "BroadcastNestedLoopJoin" in plan
    below_join = plan.split("BroadcastNestedLoopJoin", 1)[1]
    assert "Exchange hashpartitioning" not in below_join


def test_codebook_geometry_overrides_args(spark):
    """Review pin (r12): an explicit codebook's own geometry governs the
    lookup offsets — mismatched m/dims args must not silently shift
    them, and an inconsistent dims raises loudly."""
    emb = _emb(spark, _clustered(3, 4))
    books = pq_codebooks(M, K, DIMS, scale=0.4)
    # wrong m arg, right codebooks: identical result
    a = pq_adc_topk(emb, [0], 3, m=1, n_codes=2, dims=DIMS, codebooks=books).collect()
    b = pq_adc_topk(emb, [0], 3, m=M, n_codes=K, dims=DIMS, codebooks=books).collect()
    assert a == b
    with pytest.raises(ValueError, match="cover"):
        pq_adc_topk(emb, [0], 3, dims=DIMS + 4, codebooks=books)
    with pytest.raises(ValueError, match="k_neighbors"):
        pq_adc_topk(emb, [0], 0, codebooks=books, dims=DIMS)


def test_ivfpq_full_probe_equals_full_adc_scan(spark):
    """Probing every inverted list removes the coarse filter entirely:
    IVF-PQ must then reproduce the full-scan ADC ranking bit-for-bit —
    the composition adds pruning, never different arithmetic."""
    from hedera_etl_spark.operators.pquant import ivfpq_topk

    emb = _emb(spark, _clustered(5, 10))
    books = pq_codebooks(M, K, DIMS, scale=0.4)
    n_cent = 4
    full = pq_adc_topk(
        emb, [0, 7], 5, dims=DIMS, codebooks=books
    ).collect()
    probed_all = ivfpq_topk(
        emb, [0, 7], 5, n_centroids=n_cent, n_probe=n_cent, dims=DIMS,
        codebooks=books,
    ).collect()
    assert probed_all == full


def test_ivfpq_probe_subset_and_determinism(spark):
    from hedera_etl_spark.operators.pquant import ivfpq_topk

    emb = _emb(spark, _clustered(5, 10))
    books = pq_codebooks(M, K, DIMS, scale=0.4)
    a = ivfpq_topk(emb, [0, 7], 5, n_centroids=8, n_probe=2, dims=DIMS,
                   codebooks=books).collect()
    b = ivfpq_topk(emb.repartition(7), [0, 7], 5, n_centroids=8, n_probe=2,
                   dims=DIMS, codebooks=books).collect()
    assert a == b
    # probed candidates are a subset of the full scan's candidate pool:
    # every reported distance also appears in the unprobed ranking at
    # an equal-or-better rank
    full = pq_adc_topk(emb, [0, 7], 60, dims=DIMS, codebooks=books).collect()
    full_ranks = {(r["query_id"], r["neighbor_id"]): r["rank"] for r in full}
    for r in a:
        assert full_ranks[(r["query_id"], r["neighbor_id"])] <= 60
        assert r["rank"] <= full_ranks[(r["query_id"], r["neighbor_id"])]


def _orthogonal(dims: int):
    """Deterministic orthogonal matrix from a QR of md5-derived entries."""
    import numpy as np

    a = np.array(
        [[_u(f"q:{i}:{j}") for j in range(dims)] for i in range(dims)]
    )
    q, _ = np.linalg.qr(a)
    return q


def _subspace_clustered(n: int, m: int, k: int, dims: int, spread=0.02):
    """Data PQ is PERFECT for: each subspace independently picks one of
    k sub-centers.  Rotating it by an arbitrary orthogonal Q smears
    every cluster across subspace boundaries — the regime OPQ exists
    to undo."""
    sub = dims // m
    centers = [
        [[0.5 * _u(f"sc:{s}:{c}:{d}") for d in range(sub)] for c in range(k)]
        for s in range(m)
    ]
    rows = []
    for i in range(n):
        vec = []
        for s in range(m):
            c = int(hashlib.md5(f"pick:{i}:{s}".encode()).hexdigest()[:4], 16) % k
            vec.extend(
                centers[s][c][d] + spread * _u(f"j:{i}:{s}:{d}")
                for d in range(sub)
            )
        rows.append(vec)
    return rows


@pytest.mark.slow
def test_opq_beats_plain_pq_on_rotated_data(spark):
    """The OPQ claim: on data whose cluster structure was smeared
    across subspace boundaries by an orthogonal rotation, the learned
    rotation cuts a solid fraction of the quantization error plain PQ
    pays (full oracle recovery is NOT expected — the NP alternation is
    a hard non-convex problem, per the operator docstring), R stays
    orthogonal, and on ALREADY-ALIGNED data OPQ keeps the near-perfect
    plain-PQ solution instead of rotating away from it."""
    import numpy as np

    from hedera_etl_spark.operators.pquant import (
        opq_adc_topk,
        opq_encode,
        opq_train,
    )

    z = np.array(_subspace_clustered(240, M, K, DIMS))
    q = _orthogonal(DIMS)
    x = z @ q
    emb = _emb(spark, [(i, [float(v) for v in x[i]]) for i in range(len(x))])

    plain = pq_train_codebooks(emb, m=M, k=K, dims=DIMS, iters=4)
    rot, books = opq_train(emb, m=M, k=K, dims=DIMS, iters=12,
                           init="identity")
    r = np.array(rot)
    assert np.allclose(r @ r.T, np.eye(DIMS), atol=1e-8)

    def recon_err(codes_rows, books_, r_=None):
        tot = 0.0
        for c in codes_rows:
            y = np.array(pq_reconstruct(list(c["codes"]), books_))
            if r_ is not None:
                y = y @ r_.T  # back to the original space (R orthogonal)
            tot += float(((x[c["vec_id"]] - y) ** 2).sum())
        return tot / len(codes_rows)

    e1 = recon_err(pq_encode(emb, plain).collect(), plain)
    e2 = recon_err(opq_encode(emb, rot, books).collect(), books, r)
    assert e2 < 0.75 * e1, (e1, e2)

    # aligned data: plain PQ is already near-perfect (farthest-first
    # seeding finds the true sub-centers) and OPQ must not regress it
    zemb = _emb(spark, [(i, [float(v) for v in z[i]]) for i in range(len(z))])
    rot_z, books_z = opq_train(zemb, m=M, k=K, dims=DIMS, iters=3,
                               init="identity")
    errs_z = 0.0
    for c in opq_encode(zemb, rot_z, books_z).collect():
        y = np.array(pq_reconstruct(list(c["codes"]), books_z)) @ np.array(rot_z).T
        errs_z += float(((z[c["vec_id"]] - y) ** 2).sum())
    assert errs_z / len(z) < 0.01

    # ADC ranking sanity in the learned space
    top = opq_adc_topk(emb, [0], rot, books, k_neighbors=3).collect()
    assert len(top) == 3 and all(r2["neighbor_id"] != 0 for r2 in top)
    assert top[0]["adc_dist"] <= top[-1]["adc_dist"]


class TestPQIndex:
    """Persisted PQ code table: build/append/query round trip,
    write-once retries, reopen, and the OPQ-rotation variant."""

    def test_roundtrip_and_query_matches_direct(self, spark, tmp_path):
        from hedera_etl_spark.operators.pquant import PQIndex

        emb = _emb(spark, _clustered(4, 10))
        books = pq_codebooks(M, K, DIMS, scale=0.4)
        idx = PQIndex.build(
            spark, str(tmp_path / "pq"), emb, m=M, k=K, dims=DIMS,
            codebooks=books,
        )
        got = idx.topk(emb, [0, 11], k_neighbors=4).collect()
        want = pq_adc_topk(
            emb, [0, 11], 4, dims=DIMS, codebooks=books
        ).collect()
        assert got == want
        # reopen from disk: same codes, same answers
        again = PQIndex(spark, str(tmp_path / "pq"))
        assert again.topk(emb, [0, 11], k_neighbors=4).collect() == want
        assert again.codes().count() == 40
        # codes only at rest — no vector column anywhere
        assert set(again.codes().columns) == {"vec_id", "codes"}

    def test_append_is_write_once(self, spark, tmp_path):
        from hedera_etl_spark.operators.pquant import PQIndex

        rows = _clustered(4, 10)
        emb = _emb(spark, rows[:20])
        more = _emb(spark, [(i + 1000, v) for i, v in
                            ((r[0], r[1]) for r in rows[20:])])
        idx = PQIndex.build(
            spark, str(tmp_path / "pq2"), emb, m=M, k=K, dims=DIMS,
            codebooks=pq_codebooks(M, K, DIMS, scale=0.4),
        )
        assert idx.codes().count() == 20
        # replaying the SAME batch is skipped (content-derived id)
        assert idx.add_vectors(emb) is False
        assert idx.codes().count() == 20
        # a new batch lands
        assert idx.add_vectors(more) is True
        assert idx.codes().count() == 40
        assert idx.add_vectors(more) is False

    def test_opq_variant_persists_rotation(self, spark, tmp_path):
        import numpy as np

        from hedera_etl_spark.operators.pquant import PQIndex, opq_adc_topk

        z = np.array(_subspace_clustered(80, M, K, DIMS))
        q = _orthogonal(DIMS)
        x = z @ q
        emb = _emb(spark, [(i, [float(v) for v in x[i]]) for i in range(len(x))])
        idx = PQIndex.build(
            spark, str(tmp_path / "opq"), emb, m=M, k=K, dims=DIMS,
            opq=True, train_iters=3,
        )
        reopened = PQIndex(spark, str(tmp_path / "opq"))
        assert reopened.rotation is not None
        got = reopened.topk(emb, [0], k_neighbors=3).collect()
        want = opq_adc_topk(
            emb, [0], reopened.rotation, reopened.codebooks, k_neighbors=3
        ).collect()
        assert got == want

    def test_string_keyed_index_empty_schema_agrees_with_batches(
        self, spark, tmp_path
    ):
        """A non-long id column: the empty codes() schema must match
        later-appended batches (the id type is recorded in _meta.json
        at build / first-append time)."""
        from hedera_etl_spark.operators.pquant import PQIndex

        books = pq_codebooks(M, K, DIMS, scale=0.4)
        # empty build: no vectors yet, so no id type — defaults to long
        idx = PQIndex.build(
            spark, str(tmp_path / "pqs"), None, m=M, k=K, dims=DIMS,
            codebooks=books,
        )
        assert idx.codes().schema["vec_id"].dataType.simpleString() == "bigint"
        rows = [(f"doc-{i}", v) for i, v in _clustered(3, 5)]
        emb = spark.createDataFrame(
            rows, "doc_id string, embedding array<double>"
        )
        assert idx.add_vectors(emb, id_col="doc_id") is True
        # first append pinned the type; empty-path schema now agrees
        reopened = PQIndex(spark, str(tmp_path / "pqs"))
        assert reopened.id_type == "string"
        assert (
            reopened.codes().schema["vec_id"].dataType.simpleString()
            == "string"
        )
        # a conflicting id type is a loud error, not a silent union
        bad = _emb(spark, _clustered(2, 3))
        with pytest.raises(ValueError, match="stores vec_id as string"):
            reopened.add_vectors(bad)

    def test_build_with_vectors_records_id_type(self, spark, tmp_path):
        import json

        from hedera_etl_spark.operators.pquant import PQIndex

        emb = _emb(spark, _clustered(3, 5))
        PQIndex.build(
            spark, str(tmp_path / "pql"), emb, m=M, k=K, dims=DIMS,
            codebooks=pq_codebooks(M, K, DIMS, scale=0.4),
        )
        with open(tmp_path / "pql" / "_meta.json") as fh:
            assert json.load(fh)["id_type"] == "bigint"


def test_train_rejects_null_and_short_vectors(spark):
    """pq_train_codebooks fails loudly (naming the count) on null/short
    sampled vectors instead of an opaque TypeError — the covariance_matrix
    n_valid guard applied to the PQ trainer."""
    rows = _clustered(3, 8)
    bad = rows + [(900, None), (901, [0.0] * (DIMS - 2))]
    emb = spark.createDataFrame(
        bad, "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="2 of .* null or shorter"):
        pq_train_codebooks(emb, m=M, k=K, dims=DIMS, iters=1, sample_n=64)


def test_cli_pqindex_roundtrip(spark, tmp_path, capsys):
    """pqindex build/add/topk through the CLI: write-once retries and
    the served ranking matching the direct operator."""
    from hedera_etl_spark import cli

    rows = _clustered(4, 10)
    emb = _emb(spark, rows[:20])
    more = _emb(spark, [(1000 + r[0], r[1]) for r in rows[20:]])
    src1, src2, idx = (str(tmp_path / p) for p in ("e1", "e2", "idx"))
    emb.write.parquet(src1)
    more.write.parquet(src2)
    common = ["--index", idx, "--dims", str(DIMS), "--m", str(M),
              "--k-codes", str(K), "--scale", "0.4"]
    assert cli.main(["pqindex", "--action", "build", "--input", src1] + common) == 0
    assert cli.main(["pqindex", "--action", "add", "--input", src2] + common) == 0
    capsys.readouterr()
    # write-once: the same batch again is skipped
    assert cli.main(["pqindex", "--action", "add", "--input", src2] + common) == 0
    assert "skipped" in capsys.readouterr().out
    assert cli.main(
        ["pqindex", "--action", "topk", "--input", src1,
         "--query-ids", "0,5", "--k-neighbors", "3"] + common
    ) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 6
    from hedera_etl_spark.operators.pquant import PQIndex

    direct = PQIndex(spark, idx).topk(
        spark.read.parquet(src1), [0, 5], k_neighbors=3
    ).collect()
    got = [tuple(line.split("\t")) for line in out]
    want = [
        (str(r["query_id"]), str(r["rank"]), str(r["neighbor_id"]),
         str(r["adc_dist"]))
        for r in direct
    ]
    assert got == want


class TestPQIndexMaintenance:
    """recall_probe drift detection + rebuild_codebooks crash-safe swap
    (VERDICT r12 #6): frozen codebooks degrade silently as the corpus
    drifts; the probe measures it per batch, the rebuild repairs it
    through the shared move-aside protocol."""

    @pytest.mark.slow
    def test_probe_catches_degraded_recall_and_rebuild_repairs(
        self, spark, tmp_path
    ):
        """Fixture shaped so exact top-4 == a query's 4 cluster mates
        (8 clusters x 5 members, k=16 codes -> one cell per cluster
        once trained ON that region): home queries probe ~1.0 on the
        home batch; drifted vectors all quantize to ONE degenerate
        far-off cell under the frozen codebooks, so drift-region
        queries (chosen outside the lowest-id cluster the tie-break
        favors) probe ~0 on the drifted batch — until rebuild retrains
        on the current corpus and the cell structure covers both."""
        from hedera_etl_spark.operators.pquant import PQIndex

        home = _clustered(8, 5)                        # trained region
        drift = [(1000 + i, [v + 10.0 for v in vec])   # far-off region
                 for i, vec in _clustered(8, 5)]
        idx = PQIndex.build(
            spark, str(tmp_path / "pqm"), _emb(spark, home),
            m=M, k=16, dims=DIMS, train=True, train_iters=3,
        )
        assert idx.add_vectors(_emb(spark, drift)) is True
        both = _emb(spark, home + drift)
        home_q, drift_q = [0, 5, 10], [1010, 1015, 1020]
        probe = idx.recall_probe(both, home_q + drift_q, k_neighbors=4)
        rows = probe.collect()
        batches = sorted({r["batch_id"] for r in rows})
        assert len(batches) == 2

        def mean_overlap(rws, batch, qids):
            v = [r["overlap"] for r in rws
                 if r["batch_id"] == batch and int(r["query_id"]) in qids]
            return sum(v) / len(v)

        # which batch is which: home ids are the smaller batch count tie
        # — identify by probing membership via overlap pattern instead:
        # the batch where home queries rank well is the home batch
        means = {
            b: mean_overlap(rows, b, home_q) for b in batches
        }
        home_b = max(means, key=means.get)
        drift_b = min(means, key=means.get)
        assert mean_overlap(rows, home_b, home_q) >= 0.7
        drift_before = mean_overlap(rows, drift_b, drift_q)
        assert drift_before <= 0.3
        # rebuild on the CURRENT corpus: the drifted region recovers
        rebuilt = idx.rebuild_codebooks(both, train_iters=3)
        rows2 = rebuilt.recall_probe(
            both, home_q + drift_q, k_neighbors=4
        ).collect()
        b2 = sorted({r["batch_id"] for r in rows2})
        assert all(mean_overlap(rows2, b, drift_q) >= 0.7 for b in b2)
        assert all(mean_overlap(rows2, b, home_q) >= 0.7 for b in b2)
        # the rebuilt index serves and holds the full consolidated corpus
        assert rebuilt.codes().count() == len(home) + len(drift)

    def test_rebuild_survives_crash_between_renames(self, spark, tmp_path):
        import os
        import shutil

        from hedera_etl_spark.fsutil import new_sibling, old_sibling
        from hedera_etl_spark.operators.pquant import PQIndex

        emb = _emb(spark, _clustered(3, 8))
        path = str(tmp_path / "pqc")
        idx = PQIndex.build(
            spark, path, emb, m=M, k=K, dims=DIMS,
            codebooks=pq_codebooks(M, K, DIMS, scale=0.4),
        )
        want = idx.topk(emb, [0], k_neighbors=3).collect()
        # simulate the crash window: live dir moved aside, new one not
        # yet renamed in (a torn atomic_replace)
        os.rename(path, old_sibling(path))
        shutil.copytree(old_sibling(path), new_sibling(path))
        # open heals: the old index is restored, answers unchanged
        healed = PQIndex(spark, path)
        assert healed.topk(emb, [0], k_neighbors=3).collect() == want
        # debris new-sibling does not block a later real rebuild
        rebuilt = healed.rebuild_codebooks(emb, train_iters=2)
        assert rebuilt.codes().count() == 24
        top = rebuilt.topk(emb, [0], k_neighbors=3).collect()
        assert len(top) == 3


def test_cli_pqindex_probe_and_rebuild(spark, tmp_path, capsys):
    from hedera_etl_spark import cli

    emb = _emb(spark, _clustered(4, 10))
    src, idx = str(tmp_path / "pe"), str(tmp_path / "pidx")
    emb.write.parquet(src)
    common = ["--index", idx, "--dims", str(DIMS), "--m", str(M),
              "--k-codes", str(K), "--id-col", "vec_id"]
    assert cli.main(["pqindex", "--action", "build", "--input", src,
                     "--train", "--train-iters", "2"] + common) == 0
    capsys.readouterr()
    assert cli.main(["pqindex", "--action", "probe", "--input", src,
                     "--query-ids", "0,11", "--k-neighbors", "3"] + common) == 0
    out = [ln for ln in capsys.readouterr().out.strip().splitlines() if ln]
    assert len(out) == 2  # one batch x two queries
    assert all(0.0 <= float(ln.split("\t")[2]) <= 1.0 for ln in out)
    assert cli.main(["pqindex", "--action", "rebuild", "--input", src,
                     "--train-iters", "2"] + common) == 0
    assert "rebuilt" in capsys.readouterr().out
    from hedera_etl_spark.operators.pquant import PQIndex

    assert PQIndex(spark, idx).codes().count() == 40


def test_cli_query_ids_whitespace_and_binary_refusal(spark, tmp_path, capsys):
    """--query-ids parsing contract (r14 advice): whitespace around the
    commas must be stripped for every key type (an int-keyed " 5" used to
    raise; a string-keyed " b" silently probed nothing), and a
    binary-keyed index refuses with the usage exit code 2 + a stderr
    message, same contract as the sibling --input validation paths."""
    from pyspark.sql import functions as F

    from hedera_etl_spark import cli

    rows = _clustered(4, 10)
    # int-keyed index: " 0, 11" must parse as [0, 11]
    emb = _emb(spark, rows)
    src, idx = str(tmp_path / "pe"), str(tmp_path / "pidx")
    emb.write.parquet(src)
    common = ["--index", idx, "--dims", str(DIMS), "--m", str(M),
              "--k-codes", str(K), "--id-col", "vec_id"]
    assert cli.main(["pqindex", "--action", "build", "--input", src,
                     "--train", "--train-iters", "2"] + common) == 0
    capsys.readouterr()
    assert cli.main(["pqindex", "--action", "probe", "--input", src,
                     "--query-ids", " 0, 11", "--k-neighbors", "3"] + common) == 0
    out = [ln for ln in capsys.readouterr().out.strip().splitlines() if ln]
    assert len(out) == 2

    # string-keyed index: "a, b"-style ids must strip to real matches
    emb_s = _emb(spark, rows).withColumn(
        "vec_id", F.concat(F.lit("id-"), F.col("vec_id").cast("string"))
    )
    src_s, idx_s = str(tmp_path / "pes"), str(tmp_path / "pidxs")
    emb_s.write.parquet(src_s)
    common_s = ["--index", idx_s, "--dims", str(DIMS), "--m", str(M),
                "--k-codes", str(K), "--id-col", "vec_id"]
    assert cli.main(["pqindex", "--action", "build", "--input", src_s,
                     "--train", "--train-iters", "2"] + common_s) == 0
    capsys.readouterr()
    assert cli.main(["pqindex", "--action", "probe", "--input", src_s,
                     "--query-ids", "id-0, id-11", "--k-neighbors", "3"] + common_s) == 0
    out = [ln for ln in capsys.readouterr().out.strip().splitlines() if ln]
    assert len(out) == 2, "stripped string ids must both match"

    # binary-keyed index: usage refusal = exit 2 + stderr, not exit 1
    emb_b = _emb(spark, rows).withColumn(
        "vec_id", F.encode(F.col("vec_id").cast("string"), "utf-8")
    )
    src_b, idx_b = str(tmp_path / "peb"), str(tmp_path / "pidxb")
    emb_b.write.parquet(src_b)
    common_b = ["--index", idx_b, "--dims", str(DIMS), "--m", str(M),
                "--k-codes", str(K), "--id-col", "vec_id"]
    assert cli.main(["pqindex", "--action", "build", "--input", src_b,
                     "--train", "--train-iters", "2"] + common_b) == 0
    capsys.readouterr()
    rc = cli.main(["pqindex", "--action", "probe", "--input", src_b,
                   "--query-ids", "0", "--k-neighbors", "3"] + common_b)
    captured = capsys.readouterr()
    assert rc == 2
    assert "binary-keyed" in captured.err
