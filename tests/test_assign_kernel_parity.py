"""Kernel parity: each similarity operator against its expression plan.

The fixed-point argmin assignment, the Lloyd loop, the in-cell cosine
pair sweeps and the MinHash signature/verify stages run as Arrow-batched
NumPy kernels (functions/argmin_kernel.py, operators/similarity.py). A
kernel is admissible only because it reproduces the Catalyst expression
plan the SQL oracles unroll BIT-FOR-BIT. These tests pin that equality:
each runs a package operator as shipped and again with its kernels
swapped for the expression-plan references in ``tests/reference_ops.py``,
over data engineered to hit the edge semantics: exact cosine ties,
lowest-id tie-breaks, empty clusters, multi-group (PQ) training, and
the two-level (hier) router."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import etl_pipeline_challenge_aladia_spark.operators.similarity as sim
from etl_pipeline_challenge_aladia_spark.functions import argmin_kernel as K

import reference_ops as ref


@pytest.fixture()
def planted(spark):
    """400-ish vectors with near-twins and EXACT twins (cosine == 1.0,
    exercising every tie-break) spread over a few k-means cells."""
    random.seed(7)
    rows = []
    for i in range(220):
        base = [random.uniform(-1, 1) for _ in range(16)]
        rows.append((i, base))
        if i % 3 == 0:
            # +1 flips parity so the even/odd split used by the screen
            # tests puts the twin on the OTHER side of its base
            rows.append((10_001 + i, [x * 1.0000001 for x in base]))
        if i % 17 == 0:
            rows.append((20_000 + i, list(base)))
            rows.append((30_001 + i, list(base)))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _with_reference(monkeypatch, fn):
    """(rows of ``fn()`` with the package kernels, rows of ``fn()`` with
    every kernel seam swapped for its ``reference_ops`` expression plan)."""
    got = _rows(fn())
    with monkeypatch.context() as m:
        ref.use_references(m)
        want = _rows(fn())
    return got, want


def test_kmeans_flat_and_hier_parity(monkeypatch, planted):
    for route in ("flat", "hier"):
        a, b = _with_reference(
            monkeypatch,
            lambda: sim.kmeans_lite(planted, k=9, iters=3, route=route),
        )
        assert a == b and len(a) > 0


def test_grouped_pq_parity(monkeypatch, planted):
    a, b = _with_reference(
        monkeypatch, lambda: sim.pq_model(planted, blocks=4, k=3, iters=2)[0]
    )
    assert a == b and len(a) > 0
    a, b = _with_reference(
        monkeypatch, lambda: sim.pq_model(planted, blocks=4, k=3, iters=2)[1]
    )
    assert a == b


def test_assign_to_centroids_parity(monkeypatch, spark, planted):
    def run():
        _, cents = sim.kmeans_with_centroids(planted, k=5, iters=2)
        delta = planted.filter(F.col("vec_id") % 2 == 0)
        return sim.assign_to_centroids(delta, cents)

    a, b = _with_reference(monkeypatch, run)
    assert a == b and len(a) > 0
    # an exact distance tie goes to the lower cluster id, whatever the
    # centroid table's row order
    tie_cents = spark.createDataFrame(
        [(2, [2.0, 0.0]), (1, [0.0, 0.0])], "cluster int, c array<double>"
    )
    tie_vecs = spark.createDataFrame(
        [(7, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    a, b = _with_reference(
        monkeypatch, lambda: sim.assign_to_centroids(tie_vecs, tie_cents)
    )
    assert a == b == [(7, 1, 100_000_000, 1.0)]
    # an empty centroid table routes nothing, with the normal columns
    _, cents = sim.kmeans_with_centroids(planted, k=5, iters=2)
    empty = sim.assign_to_centroids(planted, cents.limit(0))
    assert empty.collect() == []
    assert [(f.name, f.dataType) for f in empty.schema] == [
        ("id", T.LongType()),
        ("cluster", T.IntegerType()),
        ("dist_fx", T.LongType()),
        ("dist", T.DoubleType()),
    ]


def test_semantic_dedup_pair_sweep_parity(monkeypatch, planted):
    """The grouped pair kernel emits exactly the expression plan's rows —
    including duplicates found via EXACT ties (cosine 1.0), where the
    min-id canonical and max-cos rollups must break ties identically."""
    for route in ("flat", "hier"):
        a, b = _with_reference(
            monkeypatch, lambda: sim.semantic_dedup(planted, route=route)
        )
        assert a == b and len(a) > 0


def test_screen_and_decontaminate_parity(monkeypatch, planted):
    tr = planted.filter(F.col("vec_id") % 2 == 0)
    ev = planted.filter(F.col("vec_id") % 2 == 1)
    a, b = _with_reference(
        monkeypatch,
        lambda: sim.semantic_decontaminate(tr, ev, threshold=0.8),
    )
    assert a == b and len(a) > 0
    a, b = _with_reference(
        monkeypatch,
        lambda: sim.semantic_dedup_incremental(tr, ev, threshold=0.8),
    )
    assert a == b


def test_pair_sweeps_tile_invariant(monkeypatch):
    """Forcing tiny tiles (both axes) must not change a single output —
    the giant-cell memory guard is pure blocking, no semantics."""
    rng = np.random.default_rng(11)
    V = rng.uniform(-1, 1, (23, 8))
    V[7] = V[2]  # exact twin
    V[19] = V[2] * 1.0000001
    ids = np.arange(100, 123, dtype=np.int64)
    want = K.cell_dup_sweep(ids, V, 0.9)
    monkeypatch.setattr(K, "PAIR_TILE_ROWS", 3)
    got = K.cell_dup_sweep(ids, V, 0.9)
    assert [x.tolist() for x in got] == [x.tolist() for x in want]
    assert len(want[0]) > 0

    monkeypatch.setattr(K, "PAIR_TILE_ROWS", 4096)
    dw = K.cell_screen_sweep(ids[:11], V[:11], ids[11:], V[11:], 0.5)
    monkeypatch.setattr(K, "PAIR_TILE_ROWS", 3)
    dg = K.cell_screen_sweep(ids[:11], V[:11], ids[11:], V[11:], 0.5)
    assert [x.tolist() for x in dg] == [x.tolist() for x in dw]
    assert len(dw[0]) > 0


def test_java_long_narrowing_semantics():
    """double -> long follows JLS 5.1.3 exactly (NaN -> 0, saturation) —
    NumPy's bare astype would wrap instead."""
    x = np.array([np.nan, np.inf, -np.inf, 9.3e18, -9.3e18, 2.0, -2.0, 0.0])
    out = K.java_long(x)
    lmax, lmin = np.iinfo(np.int64).max, np.iinfo(np.int64).min
    assert out.tolist() == [0, lmax, lmin, lmax, lmin, 2, -2, 0]


def test_kernel_cosine_matches_fold_order():
    """The kernel's cosine accumulates per-dimension in the engine's
    left-fold order — spot-check against an explicit sequential fold."""
    rng = np.random.default_rng(3)
    A = rng.uniform(-1, 1, (5, 7))
    B = rng.uniform(-1, 1, (4, 7))
    got = K.cosine_matrix(A, B)
    for i in range(5):
        for j in range(4):
            dot = 0.0
            na = 0.0
            nb = 0.0
            for d in range(7):
                dot = dot + A[i, d] * B[j, d]
                na = na + A[i, d] * A[i, d]
                nb = nb + B[j, d] * B[j, d]
            denom = np.sqrt(na) * np.sqrt(nb)
            want = dot / denom if denom > 0 else 0.0
            assert got[i, j] == want


@pytest.fixture()
def edge_docs(spark):
    """Documents hitting every tokenization edge the minhash kernel must
    reproduce: None text, empty string, multi-space (EMPTY tokens kept by
    split(" ")), fewer than n tokens (NO signature row), exact duplicate
    texts, and a hub doc near-duplicated by several others."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),  # exact twin
        (3, base + " extra tail words here"),
        (4, None),  # None text -> no signature row
        (5, ""),  # one empty token -> < n tokens -> no row
        (6, "a  b   c d e f g"),  # runs of spaces -> empty tokens KEPT
        (7, "two words"),  # < n tokens -> no row
        (8, "x y z"),  # exactly n tokens -> one shingle
        (9, base.replace("dog", "cat")),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_signature_and_verify_parity(monkeypatch, edge_docs):
    """Kernel-vs-reference equality for minhash_signatures AND the
    pair-verify kernel behind minhash_near_dup_pairs, over the edge
    fixture (None text, empty-token runs, sub-n docs, exact twins)."""
    a, b = _with_reference(
        monkeypatch,
        lambda: sim.minhash_signatures(edge_docs, n=3, num_perm=16),
    )
    assert a == b and len(a) > 0
    # docs 4, 5, 7 must emit NO signature row
    ids = {r[0] for r in a}
    assert ids.isdisjoint({4, 5, 7}) and {1, 2, 6, 8} <= ids
    for bands in (4, 16):
        a, b = _with_reference(
            monkeypatch,
            lambda: sim.minhash_near_dup_pairs(
                edge_docs, n=3, num_perm=16, bands=bands, threshold=0.5
            ),
        )
        assert a == b and len(a) > 0
    # one-row bands make the partial overlaps candidates too, so the
    # verify's division and rounding are pinned off 1.0
    assert any(r[2] < 1.0 for r in a)


def test_store_verify_parity(monkeypatch, edge_docs):
    """Mixed text-vs-stored-shingle-array verify (minhash_pairs_from_store)
    matches the reference, including the sub-n/None-text delta rows."""
    def run(bands):
        bands_df, sh = sim.doc_signature_store(
            edge_docs, n=3, num_perm=16, bands=bands
        )
        return sim.minhash_pairs_from_store(
            bands_df, sh, edge_docs, n=3, num_perm=16, bands=bands,
            threshold=0.5,
        )

    for bands in (4, 16):
        a, b = _with_reference(monkeypatch, lambda: run(bands))
        assert a == b and len(a) > 0
    assert any(r[2] < 1.0 for r in a)


def test_mutual_knn_probe_kernel_parity(planted):
    """The fused probe+assign kernel emits the same reciprocal pairs as
    the crossJoin + rank-window plan, on both routes (the hier route's
    member cell comes from the two-level argmin while probes rank flat —
    the kernel must reproduce that asymmetry)."""
    for route in ("flat", "hier"):
        a = _rows(
            sim.mutual_knn_ivf(
                planted, k=4, nprobe=2, threshold=0.3, cell_col=None,
                route=route,
            )
        )
        b = _rows(
            ref.mutual_knn_ivf(planted, k=4, nprobe=2, threshold=0.3, route=route)
        )
        assert a == b and len(a) > 0


def test_giant_cell_tiled_route_parity(monkeypatch, planted):
    """Forcing a tiny group cap routes every cell through the tiled
    (canon-block, dup-block) sweep + dup-grain rollup — output must be
    bit-identical to the single-group kernel, which the pair-sweep parity
    test pins to the expression plan (exact twins included, so
    min-canon/max-cos tie composition is exercised)."""
    want = _rows(sim.semantic_dedup(planted, route="flat"))
    monkeypatch.setattr(K, "PAIR_GROUP_ROWS", 7)
    got = _rows(sim.semantic_dedup(planted, route="flat"))
    assert got == want and len(got) > 0
    # n_hint=None (explicit k, no corpus count) must also take the
    # counts-gated path and still match
    got2 = _rows(
        sim._cell_pair_dedup(
            planted.selectExpr(
                "vec_id as id", "cast(1 as int) as cluster", "embedding as v"
            ),
            0.95,
        ).withColumnRenamed("vec_id", "id")
    )
    monkeypatch.setattr(K, "PAIR_GROUP_ROWS", 1 << 16)
    want2 = _rows(
        sim._cell_pair_dedup(
            planted.selectExpr(
                "vec_id as id", "cast(1 as int) as cluster", "embedding as v"
            ),
            0.95,
            n_hint=planted.count(),
        ).withColumnRenamed("vec_id", "id")
    )
    assert got2 == want2 and len(got2) > 0


def test_eval_index_persisted_layout_parity(planted, tmp_path):
    """A persisted eval index has ONE layout: from single-precision
    source vectors it reads back as (vec_id, embedding array<double>,
    cell int), with the built cells' rows."""
    from etl_pipeline_challenge_aladia_spark.streaming.embeddings import (
        build_eval_index,
        load_eval_index,
        save_eval_index,
    )

    src = planted.select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    cells, cents = build_eval_index(src, k=4, route="flat")
    save_eval_index(cells, cents, str(tmp_path))
    back = load_eval_index(planted.sparkSession, str(tmp_path))[0]
    assert [(f.name, f.dataType) for f in back.schema] == [
        ("vec_id", T.LongType()),
        ("embedding", T.ArrayType(T.DoubleType())),
        ("cell", T.IntegerType()),
    ]
    assert _rows(back) == _rows(cells) and len(_rows(back)) == planted.count()
