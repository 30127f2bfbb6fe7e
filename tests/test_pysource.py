"""The cdcgen Python DataSource (Spark 4 DataSource API): batch exactness,
partition plan, and the streaming reader's offset contract."""

from __future__ import annotations

import time

import pytest


def test_cdcgen_batch_exact_and_partitioned(spark):
    """Batch read returns exactly messages [0, n) (content-identical to
    the pure-Python generator) spread over the requested partitions."""
    from etl_pipeline_challenge_aladia_spark.sources.pysource import (
        register_cdcgen,
        synth_envelope_json,
    )

    register_cdcgen(spark)
    df = (
        spark.read.format("cdcgen")
        .option("n", 300)
        .option("numPartitions", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    got = sorted(r["value"] for r in df.collect())
    assert got == sorted(synth_envelope_json(i) for i in range(300))


def test_cdcgen_stream_feeds_cdc_pipeline(spark, tmp_path):
    """The streaming twin: micro-batches advance by rowsPerBatch with the
    sequence number as the checkpointed offset; rows flow through the
    SAME decode -> idempotent merge chain as every other ingress, and the
    warehouse converges to last-write-wins per key."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.structure import (
        parse_envelope,
    )
    from etl_pipeline_challenge_aladia_spark.sinks import read_warehouse
    from etl_pipeline_challenge_aladia_spark.sources.pysource import (
        register_cdcgen,
        synth_envelope_json,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.pipeline import (
        make_cdc_batch_processor,
    )

    register_cdcgen(spark)
    wh = str(tmp_path / "wh")
    raw = (
        spark.readStream.format("cdcgen")
        .option("rowsPerBatch", 120)
        .option("numPartitions", 3)
        .load()
    )
    env = parse_envelope(raw)
    q = (
        env.writeStream.foreachBatch(make_cdc_batch_processor(wh, sink="merge"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                # >= 3 micro-batches consumed (120 rows each)
                if read_warehouse(spark, wh).agg(
                    F.max("version")
                ).first()[0] >= 300:
                    break
            except Exception:
                pass
            time.sleep(1)
    finally:
        q.stop()
        q.awaitTermination()

    rows = read_warehouse(spark, wh)
    consumed_max = rows.agg(F.max("version")).first()[0]
    assert consumed_max >= 300  # multiple micro-batches flowed
    # last-write-wins per dedup key against the generator's ground truth:
    # recompute expected state for the consumed prefix in plain Python
    import json as _json

    consumed = rows.agg(F.max("version")).first()[0]
    expect = {}
    for i in range(consumed + 1):
        m = _json.loads(synth_envelope_json(i))
        if m["operation"] == "delete":
            continue
        key = (m["document_id"], m["data"]["video_id"], m["data"]["session_id"])
        expect[key] = (m["version"], m["data"]["watched_seconds"])
    got = {
        (r["original_id"], r["video_id"], r["session_id"]): (
            r["version"], r["watched_seconds"]
        )
        for r in rows.collect()
    }
    assert got == expect


def test_cdcgen_stream_restart_resumes_past_checkpoint(spark, tmp_path):
    """Restart contract (simple-reader offsets): a fresh query over the
    same checkpoint resumes EXACTLY past the committed prefix — new
    sequence numbers only, and no micro-batch in either run overlaps any
    other (no re-emission, no offset regression)."""
    import json as _json

    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.structure import (
        parse_envelope,
    )
    from etl_pipeline_challenge_aladia_spark.sinks import read_warehouse
    from etl_pipeline_challenge_aladia_spark.sources.pysource import (
        register_cdcgen,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.pipeline import (
        make_cdc_batch_processor,
    )

    register_cdcgen(spark)
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    ranges_log = str(tmp_path / "ranges.jsonl")
    base_proc = make_cdc_batch_processor(wh, sink="merge")
    with pytest.raises(ValueError, match="only sink is 'merge'"):
        make_cdc_batch_processor(wh, sink="append")

    def proc(batch, bid):
        batch = batch.localCheckpoint(eager=True)
        rng = batch.agg(F.min("version"), F.max("version")).first()
        if rng[0] is not None:
            with open(ranges_log, "a") as fh:
                fh.write(_json.dumps([rng[0], rng[1]]) + "\n")
        base_proc(batch, bid)

    def run_for(min_version):
        raw = (
            spark.readStream.format("cdcgen")
            .option("rowsPerBatch", 80)
            .load()
        )
        q = (
            parse_envelope(raw)
            .writeStream.foreachBatch(proc)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 seconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                try:
                    if read_warehouse(spark, wh).agg(
                        F.max("version")
                    ).first()[0] >= min_version:
                        break
                except Exception:
                    pass
                time.sleep(1)
        finally:
            q.stop()
            q.awaitTermination()
        return read_warehouse(spark, wh).agg(F.max("version")).first()[0]

    first_max = run_for(150)
    assert first_max >= 150
    # fresh query + fresh reader, same checkpoint: must move PAST first_max
    second_max = run_for(first_max + 80)
    assert second_max > first_max

    # no silent re-emission: batch version ranges are pairwise disjoint,
    # EXCEPT an exact identical range — the legitimate at-least-once
    # replay of the last uncommitted batch after a stop (absorbed by the
    # idempotent merge). A PARTIAL overlap would mean offset regression.
    ranges = sorted(
        {tuple(_json.loads(line)) for line in open(ranges_log) if line.strip()}
    )
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo, f"overlapping batches {[a_lo, a_hi]} {[b_lo, b_hi]}"
