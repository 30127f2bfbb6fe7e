"""Round-9 additions: skew-bounded IVF GEMM tiling, sf-parameterized
media fixture, BPE apply, banding auto-tune, cross-modal contamination,
and the shared streaming-store contract."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.plans.queries import CATALOG


def _skewed_embeddings(spark, n_hot=32, n_cold=4, dim=12, seed=11):
    """One mega-cell holding ~80% of vectors plus two small cells —
    the skewed-corpus shape the GEMM tiler exists for."""
    rng = np.random.default_rng(seed)
    rows = []
    vid = 0
    for cell, count, axis in ((0, n_hot, 0), (1, n_cold, 1), (2, n_cold, 2)):
        base = np.zeros(dim)
        base[axis] = 10.0
        for _ in range(count):
            v = base + rng.normal(0, 0.25, dim)
            rows.append((vid, [float(x) for x in v], cell))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_mutual_knn_ivf_tiling_caps_per_task_work(spark):
    """The skew bound, pinned: with a planted mega-cell (80% of vectors
    on one label) and a tiny block_cap, every (cell, pblock, mblock)
    tile carries at most block_cap probers and block_cap members, the
    hot cell splits into a >1x1 grid, and every (prober, member) pair
    of a cell appears in EXACTLY one tile — so per-task work is capped
    while results cannot depend on the cap."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        _tile_cell_blocks,
    )

    emb = _skewed_embeddings(spark)
    cap = 8
    tagged = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
        F.col("label").alias("cell"),
        F.lit(0).alias("role"),
    ).unionByName(
        emb.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("v"),
            F.col("label").alias("cell"),
            F.lit(1).alias("role"),
        )
    )
    tiles = _tile_cell_blocks(tagged, cap)
    per_tile = (
        tiles.groupBy("cell", "pblock", "mblock")
        .agg(
            F.sum(F.when(F.col("role") == 0, 1).otherwise(0)).alias("n_p"),
            F.sum(F.when(F.col("role") == 1, 1).otherwise(0)).alias("n_m"),
        )
        .collect()
    )
    assert all(r["n_p"] <= cap and r["n_m"] <= cap for r in per_tile)
    hot_tiles = [r for r in per_tile if r["cell"] == 0]
    assert len(hot_tiles) > 1  # the mega-cell actually split
    # exactly-once per (prober, member) pair: each prober appears once
    # per mblock of its cell (one pblock), members mirror => any pair
    # shares exactly one (pblock, mblock) coordinate
    pair_tiles = (
        tiles.filter(F.col("role") == 0)
        .select("cell", F.col("id").alias("p"), "pblock", "mblock")
        .join(
            tiles.filter(F.col("role") == 1).select(
                "cell", F.col("id").alias("m"), "pblock", "mblock"
            ),
            ["cell", "pblock", "mblock"],
        )
        .groupBy("cell", "p", "m")
        .count()
        .collect()
    )
    n_per_cell = {0: 32, 1: 4, 2: 4}
    assert len(pair_tiles) == sum(c * c for c in n_per_cell.values())
    assert all(r["count"] == 1 for r in pair_tiles)


def test_mutual_knn_ivf_results_invariant_under_block_cap(spark):
    """mutual_knn_ivf with a cap that forces the mega-cell into many
    tiles returns bit-identical pairs to the effectively-untiled run."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        mutual_knn_ivf,
    )

    emb = _skewed_embeddings(spark)

    def run(cap):
        return {
            (r["vec_id_a"], r["vec_id_b"]): (
                r["cos_sim"], r["rank_ab"], r["rank_ba"]
            )
            for r in mutual_knn_ivf(
                emb, k=3, nprobe=1, threshold=0.30, block_cap=cap
            ).collect()
        }

    tiled, untiled = run(5), run(1_000_000)
    assert tiled == untiled and len(tiled) > 0


def test_media_n_for_sf_parses_scale_dirs():
    """The media fixture scales with the sf directory: base count at
    sf0.01 (the oracle's golden-row count), linear with sf, floored at
    the oracle base, base on unparseable paths."""
    from etl_pipeline_challenge_aladia_spark.operators.multimodal import (
        media_n_for_sf,
    )

    assert media_n_for_sf("/root/testdata/sf0.01") == 48
    assert media_n_for_sf("/root/testdata/sf0.1") == 480
    assert media_n_for_sf(".scaledata/sf1.0") == 4800
    # never BELOW the oracle base: parity gates also run at sf0.001,
    # where a sub-oracle fixture would diverge from the golden rows
    assert media_n_for_sf("/root/testdata/sf0.001") == 48
    assert media_n_for_sf("/tmp/nodirhint") == 48


def test_media_fixture_dup_clusters_stay_constant_size(spark):
    """The scale-honesty property behind the fixture's gradient blocks:
    10x more media rows must NOT grow dup clusters — image near-dup
    pair output stays roughly linear in n (cross-block fingerprints
    never collide systematically), the make_scale_data.py replication
    discipline applied to media payloads. A shift-only fixture fails
    this badly (91 pairs at n=48 -> 1957 at n=480, 21x for 10x rows)."""
    from etl_pipeline_challenge_aladia_spark.operators.multimodal import (
        ahash_near_dup_pairs,
        synthetic_media_real,
    )

    n48 = ahash_near_dup_pairs(synthetic_media_real(spark, n=48)).count()
    n480 = ahash_near_dup_pairs(synthetic_media_real(spark, n=480)).count()
    assert n48 == 91  # the oracle's golden pair count (block 0 unchanged)
    assert n480 <= 3 * n48  # linear-ish, never the quadratic blowup


def test_tune_bands_picks_cheapest_sufficient_banding(spark):
    """The banding auto-tune switches on measured recall (the
    auto_salted_join proof pattern): a corpus of planted ~0.65-Jaccard
    near-dup pairs sits on the S-curve where coarse bandings miss pairs
    and fine ones recover them — a trivial recall target selects the
    cheapest banding outright, a strict target forces a finer banding
    whose achieved recall actually meets it."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        tune_bands,
    )

    rows = []
    did = 0
    for g in range(8):
        toks = [f"g{g}tok{j}" for j in range(30)]
        rows.append((did, " ".join(toks)))
        did += 1
        # near-dup partner: last 4 tokens replaced -> J ~ 22/34 ~ 0.647
        rows.append((did, " ".join(toks[:-4] + [f"g{g}alt{j}" for j in range(4)])))
        did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    lax_bands, lax_rec = tune_bands(
        docs, threshold=0.6, target_recall_permille=0
    )
    strict_bands, strict_rec = tune_bands(
        docs, threshold=0.6, target_recall_permille=900
    )
    assert lax_bands == 4  # any recall meets target 0 -> cheapest wins
    assert strict_bands > lax_bands  # the selection actually switched
    assert strict_rec >= 900  # and the pick meets the target it was given


def test_store_contract_prunes_strictly_earlier(spark, tmp_path):
    """streaming/store.py unit semantics: batch-dir listing honors
    strictly_before at LISTING time, and compacted/ is read
    unconditionally."""
    import os

    from etl_pipeline_challenge_aladia_spark.streaming.store import (
        StoreSpec,
        append_batch,
        batch_dirs,
        compact_store,
        read_store,
    )

    kv = StoreSpec("k long, v long")

    p = str(tmp_path / "store")
    for b in range(4):
        append_batch(
            spark.createDataFrame([(b, b * 10)], "k long, v long"), p, b
        )
    assert len(batch_dirs(p)) == 4
    assert [os.path.basename(d) for d in batch_dirs(p, before=2)] == [
        "batch=0", "batch=1"
    ]
    got = read_store(spark, kv, p, strictly_before=2)
    assert sorted(r["k"] for r in got.collect()) == [0, 1]
    # compact, then point a fresh store at it: batch 0 of a fresh
    # checkpoint (strictly_before=0) still sees the whole history
    out = str(tmp_path / "store2")
    n = compact_store(spark, kv, p, out)
    assert n == 4
    fresh = read_store(spark, kv, out, strictly_before=0)
    assert sorted(r["k"] for r in fresh.collect()) == [0, 1, 2, 3]


@pytest.mark.slow  # measured heavy in the full --durations run (see pytest.ini)
def test_media_ingest_midstream_replay_is_idempotent(spark, tmp_path):
    """The ADVICE r8 fix, pinned end-to-end: a MID-STREAM checkpoint
    replay (batch 1 re-runs after batch 2 already wrote its
    fingerprints) must reproduce batch 1's original report — the
    strictly-earlier store read means later batches' fingerprints are
    invisible to the replay. Within-batch twins also pair immediately
    (the delta self-screen leg)."""
    import base64

    from etl_pipeline_challenge_aladia_spark.operators.codecs import (
        encode_ppm,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.media import (
        MEDIA_NEAR_DUP_REPORT,
        make_media_fingerprint_ingest_processor,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.store import read_store

    def img_row(mid, shade):
        img = np.full((8, 8, 3), shade, dtype=np.uint8)
        img[0, 0, 0] = 255  # one hot pixel so the hash is non-trivial
        b64 = base64.b64encode(encode_ppm(img)).decode()
        return (mid, "image", b64)

    schema = "media_id long, modality string, content_b64 string"
    proc = make_media_fingerprint_ingest_processor(
        str(tmp_path / "store"), str(tmp_path / "report")
    )
    # batch 0: two identical images IN THE SAME BATCH (within-batch twin)
    proc(spark.createDataFrame([img_row(1, 10), img_row(2, 10)], schema), 0)
    # batch 1: a dup of batch 0's content
    proc(spark.createDataFrame([img_row(3, 10)], schema), 1)
    # batch 2: another dup — its store dir now exists
    proc(spark.createDataFrame([img_row(4, 10)], schema), 2)

    def report_rows(batch):
        return sorted(
            (r["delta_id"], r["corpus_id"], r["hamming"])
            for r in read_store(
                spark, MEDIA_NEAR_DUP_REPORT, str(tmp_path / "report")
            )
            .filter(F.col("batch_id") == batch)
            .collect()
        )

    # within-batch twin paired immediately in batch 0
    assert report_rows(0) == [(2, 1, 0)]
    original_b1 = report_rows(1)
    assert original_b1 == [(3, 1, 0), (3, 2, 0)]  # never media 4
    # MID-STREAM REPLAY of batch 1, with batch 2's fingerprints on disk
    proc(spark.createDataFrame([img_row(3, 10)], schema), 1)
    assert report_rows(1) == original_b1


def test_band_autotune_reconciles_with_tradeoff_curve(spark, sf_dir):
    """The decision query and the curve query must agree (the
    nprobe-reconciliation pattern): when doc_lsh_band_autotune picks a
    banding the tradeoff curve also measures (8/16/32), its reported
    recall equals that curve row's recall_permille, every coarser
    measured banding must MISS the 900 target (else the pick wasn't
    minimal), and the pick itself meets the target unless it's the
    exhaustion fallback (32 bands)."""
    pick = CATALOG["doc_lsh_band_autotune"].spark(spark, sf_dir).collect()[0]
    curve = {
        r["n_bands"]: r["recall_permille"]
        for r in CATALOG["doc_lsh_band_tradeoff"].spark(spark, sf_dir).collect()
    }
    chosen, recall = pick["chosen_bands"], pick["recall_permille"]
    if chosen in curve:
        assert curve[chosen] == recall
    for b, r in curve.items():
        if b < chosen:
            assert r < 900  # minimality: every cheaper measured banding misses
    assert recall >= 900 or chosen == 32


def test_bpe_apply_compresses_and_matches_training(spark, sf_dir):
    """doc_bpe_apply emits one row per document, never grows a
    document, strictly compresses the corpus, and its total token
    reduction equals what replaying the trained merge table's rewrites
    implies (the merges it derives ARE bpe_merge_rounds' — same
    decisions, pinned indirectly via the corpus-total delta)."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.plans.queries import bpe_apply
    from etl_pipeline_challenge_aladia_spark.sources.files import load_table

    out = bpe_apply(spark, sf_dir, rounds=3)
    docs_n = load_table(spark, sf_dir, "documents").count()
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("tokens_before").alias("tb"),
        F.sum("tokens_after").alias("ta"),
        F.sum(
            F.when(F.col("tokens_after") > F.col("tokens_before"), 1).otherwise(0)
        ).alias("grew"),
    ).collect()[0]
    assert agg["n"] == docs_n
    assert agg["grew"] == 0
    assert agg["ta"] < agg["tb"]


def test_mutual_knn_ivf_scaled_quantizer_path(spark):
    """cell_col=None (the r13 scale path: auto-k k-means cells instead
    of the fixed label vocabulary): deterministic across runs, tile-cap
    invariant, and every emitted pair honors the mutual-top-k contract
    (ordered ids, threshold, symmetric ranks within k)."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        mutual_knn_ivf,
    )

    emb = _skewed_embeddings(spark)

    def run(cap):
        return {
            (r["vec_id_a"], r["vec_id_b"]): (
                r["cos_sim"], r["rank_ab"], r["rank_ba"]
            )
            for r in mutual_knn_ivf(
                emb, k=3, nprobe=2, threshold=0.30, cell_col=None,
                block_cap=cap,
            ).collect()
        }

    tiled, untiled = run(5), run(1_000_000)
    assert tiled == untiled and len(tiled) > 0
    assert run(1_000_000) == untiled  # deterministic re-run
    for (a, b), (cos, rab, rba) in untiled.items():
        assert a < b and cos >= 0.30 and 1 <= rab <= 3 and 1 <= rba <= 3
