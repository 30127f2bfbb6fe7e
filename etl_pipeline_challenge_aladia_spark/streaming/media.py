"""Streaming media-fingerprint store ingest — dedup-at-ingest for the
multimodal column family, completing the store trio (text signatures:
streaming/docs.py sigstore; embeddings: streaming/embeddings.py index;
media: this module).

Shape: per-modality batch-keyed stores accumulate each micro-batch's
fingerprints — image aHashes (image_ahash: REAL NetPBM decode) and
audio loudness-profile hashes (audio_ahash64: REAL PCM WAV decode),
both inside Arrow-batched mapInPandas — and every arriving batch is
screened against its own modality's STORED fingerprints with the
banded-Hamming cross-frame join (``hamming_band_pairs_across``,
pigeonhole-exact recall: 4x16-bit bands <= 3 for images, 8x8-bit
bands <= 6 for audio, matching the batch operators) PLUS the
within-batch self-screen (``_hamming_band_pairs`` on the delta alone
— two duplicates arriving in the SAME batch would otherwise never
pair: both are stored, and the cross screen only looks backward).
Per-batch cost is the delta's own decode plus one band-keyed
equi-join per modality per leg; stored payload bytes are never
re-read — only their 64-bit hashes.

Replay-idempotent by the shared store contract (streaming/store.py):
report and store append are ``batch=<id>`` overwrite directories, the
screen reads STRICTLY-EARLIER batches only (enforced on directory ids
— a mid-stream checkpoint replay reproduces its original report even
though later batches' fingerprints are already on disk), and a
compacted history under the reserved ``compacted/`` directory is read
unconditionally (the fresh-checkpoint batch-0 collision safety).

The file-stream harness carries payloads base64-encoded (JSON has no
binary type); the processor decodes with ``unbase64`` before hashing.

Reference analog: none (the reference pipeline has no media columns);
north-star multimodal scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.streaming.store import (
    FileIngest,
    StoreSpec,
    append_batch,
    read_store,
)

#: per-batch fingerprints of ONE modality (the ``<store>/<modality>``
#: sub-directory); compaction keeps one row per distinct fingerprint
MEDIA_SIG_STORE = StoreSpec(
    "media_id long, ahash long", key="media_id", compact=DataFrame.distinct
)

#: per-batch near-dup report. ``corpus_id`` is the already-stored side
#: for cross-batch hits; for within-batch twins it is the batch-mate
#: with the smaller media_id (stored by the same append).
MEDIA_NEAR_DUP_REPORT = StoreSpec(
    "delta_id long, corpus_id long, hamming long, modality string,"
    " batch_id long"
)

#: modalities the ingest fingerprints (one store directory each)
FINGERPRINT_MODALITIES = ("image", "audio")

#: minimal media-stream schema for the file-source harness
MEDIA_STREAM_SCHEMA = "media_id long, modality string, content_b64 string"


def _delta_media_frame(delta: DataFrame) -> DataFrame:
    """File-harness rows -> the (media_id, modality, content) shape the
    fingerprint kernel consumes (base64 -> binary)."""
    return delta.select(
        "media_id",
        "modality",
        F.unbase64(F.col("content_b64")).alias("content"),
    )


def make_media_fingerprint_ingest_processor(
    store_path: str,
    report_path: str,
    max_hamming: int = 3,
    blocks: int = 6,
    key_blocks: int = 3,
    audio_max_hamming: int = 6,
    audio_blocks: int = 8,
    audio_key_blocks: int = 2,
):
    """foreachBatch processor: fingerprint this batch's images AND audio
    (image aHash / audio loudness-profile hash — each modality screens
    only against its own stored family, with its own Hamming ball and
    block-combination table layout: C(6,3) tables <= 3 for images,
    C(8,2) tables <= 6 for audio, matching the batch operators;
    operators/hamming.py), screen them against the accumulated store
    (strictly-earlier batches) AND against the batch itself (within-
    batch twins pair immediately; the larger media_id reports as
    delta_id, its batch-mate as corpus_id — without this leg a
    same-batch duplicate pair would be stored unpaired forever unless
    equivalent content happened to be re-ingested), then append this
    batch's fingerprints. The store carries one directory per modality
    so cross-modality hash collisions can never pair a song with a
    picture."""

    def process_batch(delta: DataFrame, batch_id: int) -> None:
        from etl_pipeline_challenge_aladia_spark.operators.multimodal import (
            _audio_ahash_frame,
            _hamming_band_pairs,
            hamming_band_pairs_across,
            image_ahash,
        )

        spark = delta.sparkSession
        delta = delta.localCheckpoint(eager=True)
        frame = _delta_media_frame(delta)
        report = None
        for modality, hasher, mh, nb, kb in (
            ("image", image_ahash, max_hamming, blocks, key_blocks),
            (
                "audio",
                _audio_ahash_frame,
                audio_max_hamming,
                audio_blocks,
                audio_key_blocks,
            ),
        ):
            sub = os.path.join(store_path, modality)
            sigs = hasher(frame).localCheckpoint(eager=True)
            store = read_store(
                spark, MEDIA_SIG_STORE, sub, strictly_before=batch_id
            )
            cross = hamming_band_pairs_across(
                sigs, store, max_hamming=mh, blocks=nb, key_blocks=kb
            )
            within = _hamming_band_pairs(
                sigs, max_hamming=mh, blocks=nb, key_blocks=kb
            ).select(
                F.col("media_id_b").alias("delta_id"),
                F.col("media_id_a").alias("corpus_id"),
                "hamming",
            )
            part = cross.unionByName(within).withColumn(
                "modality", F.lit(modality)
            )
            report = part if report is None else report.unionByName(part)
            append_batch(sigs, sub, batch_id)
        report = report.withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        ).select("delta_id", "corpus_id", "hamming", "modality", "batch_id")
        append_batch(report, report_path, batch_id)

    return process_batch


MEDIA_FINGERPRINT_INGEST = FileIngest(
    MEDIA_STREAM_SCHEMA, make_media_fingerprint_ingest_processor,
    one_file_per_batch=True,
)


#: per-batch video frame-hash SEQUENCES (frame_no kept — the whole
#: point: runs need order, not just membership)
VIDEO_SEQ_STORE = StoreSpec(
    "media_id long, frame_no long, ahash long", key="media_id"
)

#: per-batch sequence near-dup report (run-based criterion)
VIDEO_SEQ_REPORT = StoreSpec(
    "delta_id long, corpus_id long, longest_run long, n_runs long,"
    " batch_id long"
)


def make_video_sequence_ingest_processor(
    store_path: str,
    report_path: str,
    min_run: int = 3,
    frame_df_cap: int | None = 16,
):
    """foreachBatch processor for SEQUENCE-AWARE video dedup at ingest
    (VERDICT r10 missing #2): the fingerprint ingest screens per-frame
    hashes, which admits a trimmed copy of an already-stored clip — one
    shared frame is not a duplicated clip; a preserved RUN is. This
    processor stores each clip's full (frame_no, ahash) SEQUENCE and
    screens every arriving clip for aligned runs of >= ``min_run``
    consecutive shared frames against the stored sequences
    (``video_sequence_pairs_across`` — islands per (delta, corpus,
    alignment diff), the exact batch-operator logic over the stored
    frame table, no payload re-decode) PLUS the within-batch self
    screen (two trims arriving together pair immediately; larger
    media_id reports as delta_id, like the fingerprint ingest).
    Replay-idempotent under the shared store contract: strictly-earlier
    reads, batch=<id> overwrite appends."""

    def process_batch(delta: DataFrame, batch_id: int) -> None:
        from etl_pipeline_challenge_aladia_spark.operators.multimodal import (
            video_frame_hashes,
            video_sequence_pairs_across,
            video_sequence_pairs_from_frames,
        )

        spark = delta.sparkSession
        delta = delta.localCheckpoint(eager=True)
        frames = video_frame_hashes(
            _delta_media_frame(delta)
        ).localCheckpoint(eager=True)  # one decode pass per batch
        store = read_store(
            spark, VIDEO_SEQ_STORE, store_path, strictly_before=batch_id
        )
        across = video_sequence_pairs_across(
            frames, store, min_run=min_run, frame_df_cap=frame_df_cap
        )
        within = video_sequence_pairs_from_frames(
            frames, min_run=min_run, frame_df_cap=frame_df_cap
        ).select(
            F.col("media_id_b").alias("delta_id"),
            F.col("media_id_a").alias("corpus_id"),
            "longest_run",
            "n_runs",
        )
        report = (
            across.unionByName(within)
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .select(
                "delta_id", "corpus_id", "longest_run", "n_runs", "batch_id"
            )
        )
        append_batch(report, report_path, batch_id)
        append_batch(frames, store_path, batch_id)

    return process_batch


VIDEO_SEQUENCE_INGEST = FileIngest(
    MEDIA_STREAM_SCHEMA, make_video_sequence_ingest_processor,
    one_file_per_batch=True,
)
