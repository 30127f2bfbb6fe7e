"""Arrow/NumPy assignment-kernel parity: the optimization contract.

Round 13 swapped the fixed-point argmin assignment (and the in-cell
cosine pair sweeps) from Catalyst expression plans to Arrow-batched
NumPy kernels (functions/argmin_kernel.py). The optimization is only
admissible because the kernels reproduce the JVM expressions
BIT-FOR-BIT — these tests pin that equality by running both physical
implementations (``SEMANTIC_ASSIGN_IMPL=sql`` vs the default ``arrow``)
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


def _both(monkeypatch, fn):
    monkeypatch.setenv(sim.ASSIGN_IMPL_ENV, "sql")
    a = _rows(fn())
    monkeypatch.setenv(sim.ASSIGN_IMPL_ENV, "arrow")
    b = _rows(fn())
    return a, b


def test_kmeans_flat_and_hier_parity(monkeypatch, planted):
    for route in ("flat", "hier"):
        a, b = _both(
            monkeypatch,
            lambda: sim.kmeans_lite(planted, k=9, iters=3, route=route),
        )
        assert a == b and len(a) > 0


def test_grouped_pq_parity(monkeypatch, planted):
    a, b = _both(
        monkeypatch, lambda: sim.pq_model(planted, blocks=4, k=3, iters=2)[0]
    )
    assert a == b and len(a) > 0
    a, b = _both(
        monkeypatch, lambda: sim.pq_model(planted, blocks=4, k=3, iters=2)[1]
    )
    assert a == b


def test_assign_to_centroids_parity(monkeypatch, planted):
    empty_schemas = []

    def run():
        _, cents = sim.kmeans_with_centroids(planted, k=5, iters=2)
        delta = planted.filter(F.col("vec_id") % 2 == 0)
        # an empty centroid table routes nothing, on either path
        empty = sim.assign_to_centroids(delta, cents.limit(0))
        assert empty.collect() == []
        empty_schemas.append([(f.name, f.dataType) for f in empty.schema])
        return sim.assign_to_centroids(delta, cents)

    a, b = _both(monkeypatch, run)
    assert a == b and len(a) > 0
    assert empty_schemas[0] == empty_schemas[1]


def test_semantic_dedup_pair_sweep_parity(monkeypatch, planted):
    """The grouped pair kernel emits exactly the SQL plan's rows —
    including duplicates found via EXACT ties (cosine 1.0), where the
    min-id canonical and max-cos rollups must break ties identically."""
    for route in ("flat", "hier"):
        a, b = _both(
            monkeypatch, lambda: sim.semantic_dedup(planted, route=route)
        )
        assert a == b and len(a) > 0


def test_screen_and_decontaminate_parity(monkeypatch, planted):
    tr = planted.filter(F.col("vec_id") % 2 == 0)
    ev = planted.filter(F.col("vec_id") % 2 == 1)
    a, b = _both(
        monkeypatch,
        lambda: sim.semantic_decontaminate(tr, ev, threshold=0.8),
    )
    assert a == b and len(a) > 0
    a, b = _both(
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
    """sql-vs-arrow equality for minhash_signatures (the r13 kernel: the
    docstring's pinned contract, previously only hand-verified) AND the
    r14 pair-verify kernel behind minhash_near_dup_pairs, over the edge
    fixture (None text, empty-token runs, sub-n docs, exact twins)."""
    a, b = _both(
        monkeypatch,
        lambda: sim.minhash_signatures(edge_docs, n=3, num_perm=16),
    )
    assert a == b and len(a) > 0
    # docs 4, 5, 7 must emit NO signature row on either side
    ids = {r[0] for r in a}
    assert ids.isdisjoint({4, 5, 7}) and {1, 2, 6, 8} <= ids
    a, b = _both(
        monkeypatch,
        lambda: sim.minhash_near_dup_pairs(
            edge_docs, n=3, num_perm=16, bands=4, threshold=0.5
        ),
    )
    assert a == b and len(a) > 0


def test_store_verify_parity(monkeypatch, edge_docs):
    """Mixed text-vs-stored-shingle-array verify (minhash_pairs_from_store)
    is sql-vs-arrow identical, including the sub-n/None-text delta rows."""
    def run():
        bands_df, sh = sim.doc_signature_store(
            edge_docs, n=3, num_perm=16, bands=4
        )
        return sim.minhash_pairs_from_store(
            bands_df, sh, edge_docs, n=3, num_perm=16, bands=4, threshold=0.5
        )

    a, b = _both(monkeypatch, run)
    assert a == b and len(a) > 0


def test_mutual_knn_probe_kernel_parity(monkeypatch, planted):
    """The fused probe+assign kernel (r14) emits the same reciprocal
    pairs as the crossJoin + rank-window plan, on both routes (the hier
    route's member cell comes from the two-level argmin while probes
    rank flat — the kernel must reproduce that asymmetry)."""
    for route in ("flat", "hier"):
        a, b = _both(
            monkeypatch,
            lambda: sim.mutual_knn_ivf(
                planted, k=4, nprobe=2, threshold=0.3, cell_col=None,
                route=route,
            ),
        )
        assert a == b and len(a) > 0


def test_giant_cell_tiled_route_parity(monkeypatch, planted):
    """Forcing a tiny group cap routes every cell through the tiled
    (canon-block, dup-block) sweep + dup-grain rollup — output must be
    bit-identical to the single-group kernel AND the SQL plan (exact
    twins included, so min-canon/max-cos tie composition is exercised)."""
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


def test_eval_index_persisted_layout_parity(monkeypatch, planted, tmp_path):
    """A persisted eval index has ONE layout whichever implementation
    built it: from single-precision source vectors, both builds read
    back the same cells schema and rows."""
    from etl_pipeline_challenge_aladia_spark.streaming.embeddings import (
        build_eval_index,
        load_eval_index,
        save_eval_index,
    )

    src = planted.select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    cells = {}
    for impl in ("sql", "arrow"):
        monkeypatch.setenv(sim.ASSIGN_IMPL_ENV, impl)
        save_eval_index(
            *build_eval_index(src, k=4, route="flat"), str(tmp_path / impl)
        )
        cells[impl] = load_eval_index(
            planted.sparkSession, str(tmp_path / impl)
        )[0]
    assert cells["sql"].schema == cells["arrow"].schema
    assert _rows(cells["sql"]) == _rows(cells["arrow"])
