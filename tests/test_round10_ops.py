"""Round-10 additions: hub-frame-capped video near-dup, sequence-aware
video dedup, store-level key erasure, sample-disciplined band autotune,
stored-merge BPE apply, and persisted tuning decisions."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.streaming.store import read_store


def _frame(fn):
    """16x16 uint8 luma frame from a (y, x) -> int formula."""
    y, x = np.meshgrid(np.arange(16), np.arange(16), indexing="ij")
    return (fn(y, x) % 256).astype(np.uint8)


def _hub_video_media(spark, n_videos=20):
    """n_videos Y4M clips that ALL contain one identical black frame
    (the hub: title cards / black frames are shared corpus-wide in real
    video data) plus one distinctive frame each; videos 0 and 1
    additionally share two genuine distinctive frames — the only true
    near-dup pair."""
    from etl_pipeline_challenge_aladia_spark.operators.codecs import (
        encode_y4m,
    )
    from etl_pipeline_challenge_aladia_spark.operators.multimodal import (
        _ahash64_gray,
    )

    hub = _frame(lambda y, x: 0 * y)
    shared = [
        _frame(lambda y, x: 7 * (x + 16 * y)),
        _frame(lambda y, x: 11 * (x + 16 * y)),
    ]
    rows, hashes = [], set()
    for v in range(n_videos):
        # one-hot frame: a single bright 2x2 block covering exactly one
        # pixel-center sample -> ahash is 1 << v, unique by construction
        uniq = np.full((16, 16), 1, np.uint8)
        r, c = divmod(v, 8)
        uniq[2 * r : 2 * r + 2, 2 * c : 2 * c + 2] = 255
        hashes.add(_ahash64_gray(uniq))
        frames = [hub, uniq] + (shared if v < 2 else [])
        rows.append(
            (v, "video", bytearray(encode_y4m(np.stack(frames), 25)))
        )
    # fixture premise: every distinctive frame hashes uniquely, and the
    # hub/shared hashes don't collide with them
    assert len(hashes) == n_videos
    assert _ahash64_gray(hub) not in hashes
    assert not {_ahash64_gray(f) for f in shared} & hashes
    return spark.createDataFrame(
        rows, "media_id long, modality string, content binary"
    )


def test_video_near_dup_hub_frame_cap(spark):
    """One hub frame across 20 videos: uncapped, the hash bucket emits
    all C(20,2)=190 pairs; with the default cap (16 < 20) only the
    genuinely-shared pair survives, and its shared-frame count excludes
    the hub."""
    from etl_pipeline_challenge_aladia_spark.operators.multimodal import (
        video_frame_near_dup_pairs,
    )

    media = _hub_video_media(spark, n_videos=20)

    uncapped = video_frame_near_dup_pairs(media, frame_df_cap=None)
    assert uncapped.count() == 190  # every pair rides the hub hash

    capped = video_frame_near_dup_pairs(media).collect()
    assert {(r.media_id_a, r.media_id_b): r.n_shared_frames
            for r in capped} == {(0, 1): 2}


def test_video_near_dup_min_shared_frames(spark):
    """The >= m shared-frames predicate: at m=2 the planted pair (2
    genuine shared frames) survives; at m=3 nothing does."""
    from etl_pipeline_challenge_aladia_spark.operators.multimodal import (
        video_frame_near_dup_pairs,
    )

    media = _hub_video_media(spark, n_videos=20)  # hub capped away
    at2 = video_frame_near_dup_pairs(media, min_shared_frames=2).collect()
    assert [(r.media_id_a, r.media_id_b) for r in at2] == [(0, 1)]
    assert (
        video_frame_near_dup_pairs(media, min_shared_frames=3).count() == 0
    )


def _onehot(v):
    """16x16 frame whose ahash is exactly 1 << v (one bright 2x2 block
    on one pixel-center sample)."""
    f = np.full((16, 16), 1, np.uint8)
    r, c = divmod(v, 8)
    f[2 * r : 2 * r + 2, 2 * c : 2 * c + 2] = 255
    return f


def test_video_sequence_runs_are_order_aware(spark):
    """Run semantics pinned on hand-built clips: a contiguous trim
    pairs at its overlap length; a splice breaks the run at the edit
    point (two runs, neither bridging); scrambled frame ORDER kills the
    pair entirely even though the frame SET is identical."""
    from etl_pipeline_challenge_aladia_spark.operators.codecs import (
        encode_y4m,
    )
    from etl_pipeline_challenge_aladia_spark.operators.multimodal import (
        video_sequence_near_dup_pairs,
    )

    A, B, C, D, E, Q = (_onehot(v) for v in range(6))
    clips = {
        0: [A, B, C, D, E],        # the original
        1: [B, C, D],              # trim -> run 3 with clip 0
        2: [A, B, Q, D, E],        # splice -> runs 2 and 2 with clip 0
        3: [E, C, A, D, B],        # same frame SET, scrambled order
    }
    media = spark.createDataFrame(
        [
            (k, "video", bytearray(encode_y4m(np.stack(fs), 25)))
            for k, fs in clips.items()
        ],
        "media_id long, modality string, content binary",
    )

    at3 = {
        (r.media_id_a, r.media_id_b): (r.longest_run, r.n_runs)
        for r in video_sequence_near_dup_pairs(media, min_run=3).collect()
    }
    assert at3[(0, 1)] == (3, 1)
    assert (0, 2) not in at3  # the splice broke the 5-run
    assert (0, 3) not in at3  # identical set, wrong order -> no run

    at2 = {
        (r.media_id_a, r.media_id_b): (r.longest_run, r.n_runs)
        for r in video_sequence_near_dup_pairs(media, min_run=2).collect()
    }
    assert at2[(0, 2)] == (2, 2)  # both splice segments, not bridged
    assert (0, 3) not in at2


def _tune_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest before sunset tonight"
    )
    alt = (
        "completely different content about spark engines and analytics "
        "pipelines running at very large scale with many executors"
    )
    rows = [
        (0, base),
        (1, base + " extra"),            # near-dup of 0
        (2, alt),
        (3, alt + " indeed"),            # near-dup of 2
        (4, "short unrelated text one"),
        (5, "another unrelated text two"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tuning_report_replay_is_idempotent_and_tracks_drift(
    spark, tmp_path
):
    """The decision-provenance loop: a replayed tune (same batch id,
    same corpus) overwrites its own report — one row, same decision;
    a drifted corpus at the next batch appends a second report with a
    DIFFERENT fingerprint; the stored curve snapshot contains the
    chosen point."""
    import json

    from etl_pipeline_challenge_aladia_spark.streaming.tuning import (
        TUNING_REPORTS,
        tune_bands_and_report,
    )

    docs = _tune_docs(spark)
    path = str(tmp_path / "tuning")
    b1, r1 = tune_bands_and_report(spark, docs, path, batch_id=0)
    b2, r2 = tune_bands_and_report(spark, docs, path, batch_id=0)  # replay
    assert (b1, r1) == (b2, r2)
    reps = read_store(spark, TUNING_REPORTS, path).collect()
    assert len(reps) == 1  # overwrite, not duplicate
    rep = reps[0]
    assert (rep.knob, rep.chosen, rep.achieved_recall_permille) == (
        "lsh_bands", b1, r1,
    )
    curve = json.loads(rep.curve)
    assert [b1, r1] in curve  # the decision is on its own curve

    drifted = docs.filter("doc_id != 5")
    tune_bands_and_report(spark, drifted, path, batch_id=1)
    reps = {r.batch_id: r for r in read_store(spark, TUNING_REPORTS, path).collect()}
    assert len(reps) == 2
    assert reps[0].corpus_fingerprint != reps[1].corpus_fingerprint
    assert reps[0].n_inputs == 6 and reps[1].n_inputs == 5


def test_tune_nprobe_report_records_bisection_trace(spark, tmp_path):
    """The ANN twin: the report lands under the store contract and the
    trace records the bisection's evaluated (nprobe, recall) points,
    ending at a recall meeting the target."""
    import json

    from etl_pipeline_challenge_aladia_spark.streaming.tuning import (
        TUNING_REPORTS,
        tune_nprobe_and_report,
    )

    from tests.test_round9_ops import _skewed_embeddings

    emb = _skewed_embeddings(spark)
    queries = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cands = emb.filter("vec_id >= 3")
    path = str(tmp_path / "tuning")
    nprobe, recall = tune_nprobe_and_report(
        spark, cands, queries, path, batch_id=0, dim=12, k=3,
    )
    rep = read_store(spark, TUNING_REPORTS, path).collect()[0]
    assert rep.knob == "ivf_nprobe" and rep.chosen == nprobe
    trace = json.loads(rep.curve)
    assert trace and any(p == nprobe and r == recall for p, r in trace)
    assert recall >= 900 or nprobe == rep.chosen  # exhaustion keeps contract


def test_bpe_apply_stored_is_decision_identical(spark):
    """The stored-merge apply path (train once, collect the k-row merge
    table, ONE composed replace projection) produces byte-identical
    output to the retrain-inline path — the decision-identity the split
    must preserve."""
    from etl_pipeline_challenge_aladia_spark.plans.queries import (
        bpe_apply,
        bpe_apply_stored,
    )

    sf = "/root/testdata/sf0.001"
    a = bpe_apply(spark, sf).orderBy("doc_id").collect()
    b = bpe_apply_stored(spark, sf).orderBy("doc_id").collect()
    assert a == b
