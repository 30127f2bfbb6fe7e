"""Streaming pipeline tests: the reference's delivery contract, expressed
as Structured Streaming invariants.

- at-least-once redelivery is idempotent (README:198-215 -> keyed upsert)
- out-of-order delivery converges to the same state (README:223)
- corrupt messages are quarantined, not crash/requeue-forever (X5)
- incremental files are picked up from the checkpoint, not reprocessed
"""

from __future__ import annotations

import json
import os

import pytest

from etl_pipeline_challenge_aladia_spark.sinks import read_warehouse
from etl_pipeline_challenge_aladia_spark.streaming.pipeline import run_cdc_file_stream
from etl_pipeline_challenge_aladia_spark.streaming.store import (
    compact_store,
    drain_files,
    read_store,
)


def envelope(op, doc, version, watched=30, duration=61, video="video_1", session="session_1"):
    data = None
    if op != "delete":
        data = {
            "video_id": video,
            "session_id": session,
            "watched_seconds": watched,
            "video_duration_seconds": duration,
            "timestamp": "2024-01-01T10:20:30Z",
            "device_type": "mobile",
            "quality": "720p",
        }
    return json.dumps(
        {"operation": op, "document_id": doc, "timestamp": "ct", "data": data, "version": version}
    )


def write_lines(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


@pytest.fixture()
def dirs(tmp_path):
    return {
        "in": str(tmp_path / "in"),
        "wh": str(tmp_path / "warehouse"),
        "ckpt": str(tmp_path / "ckpt"),
        "quar": str(tmp_path / "quarantine"),
    }


def state(spark, wh_path):
    rows = read_warehouse(spark, wh_path).collect()
    return {
        (r["original_id"], r["video_id"], r["session_id"]): (
            r["watched_seconds"],
            r["version"],
        )
        for r in rows
    }


def test_stream_end_to_end_with_redelivery_and_corrupt(spark, dirs):
    batch1 = [
        envelope("insert", "doc_1", 1, watched=10),
        envelope("update", "doc_1", 2, watched=20),
        envelope("insert", "doc_1", 1, watched=10),  # duplicate redelivery
        envelope("delete", "doc_1", 3),  # dropped by routing
        envelope("insert", "doc_2", 4, watched=40, video="video_2"),
        "this is not json {",  # corrupt -> quarantine
    ]
    write_lines(os.path.join(dirs["in"], "batch1.json"), batch1)
    run_cdc_file_stream(
        spark, dirs["in"], dirs["wh"], dirs["ckpt"], dirs["quar"]
    )

    s1 = state(spark, dirs["wh"])
    assert s1 == {
        ("doc_1", "video_1", "session_1"): (20, 2),
        ("doc_2", "video_2", "session_1"): (40, 4),
    }
    quarantined = spark.read.json(dirs["quar"]).count()
    assert quarantined == 1

    # second batch: redelivery of old versions + a genuinely new update,
    # arriving out of order relative to version
    batch2 = [
        envelope("update", "doc_1", 2, watched=20),  # redelivered
        envelope("update", "doc_2", 6, watched=60, video="video_2"),
        envelope("update", "doc_2", 5, watched=50, video="video_2"),  # stale, loses
    ]
    write_lines(os.path.join(dirs["in"], "batch2.json"), batch2)
    run_cdc_file_stream(
        spark, dirs["in"], dirs["wh"], dirs["ckpt"], dirs["quar"]
    )

    s2 = state(spark, dirs["wh"])
    assert s2 == {
        ("doc_1", "video_1", "session_1"): (20, 2),
        ("doc_2", "video_2", "session_1"): (60, 6),
    }


def test_stream_checkpoint_no_reprocess(spark, dirs):
    write_lines(
        os.path.join(dirs["in"], "b1.json"), [envelope("insert", "doc_9", 1, watched=15)]
    )
    run_cdc_file_stream(spark, dirs["in"], dirs["wh"], dirs["ckpt"])
    s1 = state(spark, dirs["wh"])
    # rerun with NO new input: checkpoint means nothing reprocesses and the
    # warehouse is untouched
    run_cdc_file_stream(spark, dirs["in"], dirs["wh"], dirs["ckpt"])
    assert state(spark, dirs["wh"]) == s1


def test_merge_sink_rewrites_only_touched_buckets(spark, tmp_path):
    """The MERGE sink's contract: a batch only rewrites the bucket
    partitions its keys hash into — I/O proportional to the batch."""
    import glob

    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.sinks import merge_warehouse_batch

    path = str(tmp_path / "wh")
    base = spark.range(200).select(
        F.concat(F.lit("doc_"), F.col("id")).alias("original_id"),
        F.concat(F.lit("video_"), (F.col("id") % 10)).alias("video_id"),
        F.lit("session_1").alias("session_id"),
        (F.col("id") * 10).cast("long").alias("watched_seconds"),
        F.lit(1).cast("long").alias("version"),
        F.lit("2024-01-01 10:00:00").cast("timestamp").alias("original_timestamp"),
    )
    from etl_pipeline_challenge_aladia_spark.sinks import _read_manifest

    merge_warehouse_batch(spark, base, path, num_buckets=16)
    buckets_before = dict(_read_manifest(path)["buckets"])
    assert len(buckets_before) > 4  # keys spread over many buckets

    one = base.filter(F.col("original_id") == "doc_7").withColumn(
        "version", F.lit(2).cast("long")
    ).withColumn("watched_seconds", F.lit(999).cast("long"))
    n = merge_warehouse_batch(spark, one, path, num_buckets=16)
    assert n == 1  # single-key batch -> exactly one bucket rewritten

    buckets_after = dict(_read_manifest(path)["buckets"])
    changed = [k for k in buckets_before if buckets_after[k] != buckets_before[k]]
    assert len(changed) == 1
    # unchanged buckets keep their exact directories — no data was rewritten
    untouched = [d for k, d in buckets_before.items() if k not in changed]
    assert all(os.path.isdir(os.path.join(path, d)) for d in untouched)

    from etl_pipeline_challenge_aladia_spark.sinks import read_warehouse

    rows = {r["original_id"]: r["watched_seconds"] for r in read_warehouse(spark, path).collect()}
    assert rows["doc_7"] == 999 and len(rows) == 200


def test_kafka_decode_parity_with_text_path(spark):
    """The Kafka ingress decode (decode_kafka_records) and the text-source
    parse produce identical envelope rows from the same message bytes —
    the broker-free contract test for the shared T1 path."""
    from etl_pipeline_challenge_aladia_spark.operators.structure import parse_envelope
    from etl_pipeline_challenge_aladia_spark.streaming.pipeline import (
        decode_kafka_records,
    )

    msgs = [
        envelope("insert", "doc_1", 1),
        envelope("update", "doc_1", 2, watched=25),
        envelope("delete", "doc_1", 3),
        "corrupt {not json",
    ]
    # kafka record shape: binary key/value + topic/partition/offset metadata
    kafka_like = spark.createDataFrame(
        [(None, m.encode("utf-8"), "video_log", 0, i, None) for i, m in enumerate(msgs)],
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp",
    )
    via_kafka = decode_kafka_records(kafka_like)
    via_text = parse_envelope(
        spark.createDataFrame([(m,) for m in msgs], "value string")
    )
    assert via_kafka.schema == via_text.schema
    assert sorted(map(str, via_kafka.collect())) == sorted(map(str, via_text.collect()))
    assert via_kafka.filter("_corrupt").count() == 1


def test_kafka_encode_decode_roundtrip(spark):
    """S2 publish contract: encode_kafka_records -> decode_kafka_records is
    the identity on envelope rows (keys carry the document id)."""
    from etl_pipeline_challenge_aladia_spark.operators.structure import parse_envelope
    from etl_pipeline_challenge_aladia_spark.streaming.pipeline import (
        decode_kafka_records,
        encode_kafka_records,
    )

    msgs = [
        envelope("insert", "doc_1", 1),
        envelope("update", "doc_2", 2, watched=25, video="video_9"),
        envelope("delete", "doc_3", 3),
    ]
    env = parse_envelope(spark.createDataFrame([(m,) for m in msgs], "value string"))
    records = encode_kafka_records(env)
    assert [f.name for f in records.schema.fields[:2]] == ["key", "value"]
    keys = sorted(bytes(r["key"]).decode() for r in records.collect())
    assert keys == ["doc_1", "doc_2", "doc_3"]
    back = decode_kafka_records(records)
    assert back.schema == env.schema
    assert sorted(map(str, back.collect())) == sorted(map(str, env.collect()))
    assert back.filter("_corrupt").count() == 0


def _merge_base_frame(spark, n=50, version=1, watched=None):
    from pyspark.sql import functions as F

    w = (F.col("id") * 10) if watched is None else F.lit(watched)
    return spark.range(n).select(
        F.concat(F.lit("doc_"), F.col("id")).alias("original_id"),
        F.lit("v").alias("video_id"),
        F.lit("s").alias("session_id"),
        w.cast("long").alias("watched_seconds"),
        F.lit(version).cast("long").alias("version"),
        F.lit("2024-01-01 10:00:00").cast("timestamp").alias("original_timestamp"),
    )


def test_merge_sink_recovers_crashed_precommit_attempt(spark, tmp_path):
    """A crash AFTER staging new bucket versions but BEFORE the manifest
    commit leaves only unreferenced directories: the table must still read
    as the old snapshot, and the next merge garbage-collects the strays."""
    import shutil

    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.sinks import (
        _read_manifest,
        merge_warehouse_batch,
        read_warehouse,
    )

    path = str(tmp_path / "wh")
    merge_warehouse_batch(spark, _merge_base_frame(spark), path, num_buckets=8)
    before = read_warehouse(spark, path).count()
    # simulate the crash window: a new-version bucket dir exists (with
    # DIFFERENT content) but the manifest was never switched
    manifest = _read_manifest(path)
    some_dir = sorted(manifest["buckets"].values())[0]
    stray = os.path.join(path, "b00000_v00000099")
    shutil.copytree(os.path.join(path, some_dir), stray)

    assert read_warehouse(spark, path).count() == before  # old snapshot intact

    empty = _merge_base_frame(spark).filter(F.lit(False))
    merge_warehouse_batch(spark, empty, path, num_buckets=8)
    assert not os.path.exists(stray)  # stray GC'd
    assert read_warehouse(spark, path).count() == before


def test_merge_snapshot_isolation_under_concurrent_reads(spark, tmp_path):
    """THE atomicity contract (VERDICT r02 #1): while a merge rewriting
    every bucket runs in another thread, every row-set a reader observes
    equals either the complete pre-merge or the complete post-merge
    snapshot — never a half-merged mix of old and new buckets."""
    import threading

    from etl_pipeline_challenge_aladia_spark.sinks import (
        merge_warehouse_batch,
        read_warehouse,
    )

    path = str(tmp_path / "wh")
    merge_warehouse_batch(spark, _merge_base_frame(spark, n=40), path, num_buckets=8)
    pre = frozenset(
        (r["original_id"], r["version"], r["watched_seconds"])
        for r in read_warehouse(spark, path).collect()
    )
    update = _merge_base_frame(spark, n=40, version=2, watched=777)
    post = frozenset((f"doc_{i}", 2, 777) for i in range(40))
    assert pre != post

    err: list = []

    def run_merge():
        try:
            merge_warehouse_batch(spark, update, path, num_buckets=8)
        except Exception as ex:  # noqa: BLE001
            err.append(ex)

    t = threading.Thread(target=run_merge)
    t.start()
    observed = []
    while t.is_alive():
        snap = frozenset(
            (r["original_id"], r["version"], r["watched_seconds"])
            for r in read_warehouse(spark, path).collect()
        )
        observed.append(snap)
    t.join()
    assert not err
    final = frozenset(
        (r["original_id"], r["version"], r["watched_seconds"])
        for r in read_warehouse(spark, path).collect()
    )
    assert final == post
    bad = [s for s in observed if s != pre and s != post]
    assert not bad, f"{len(bad)} torn snapshot(s) observed of {len(observed)}"
    assert observed, "reader never overlapped the merge"


def test_quarantine_retains_raw_payload(spark, dirs):
    corrupt = "definitely not json {{{"
    write_lines(
        os.path.join(dirs["in"], "b.json"),
        [envelope("insert", "doc_1", 1), corrupt],
    )
    run_cdc_file_stream(spark, dirs["in"], dirs["wh"], dirs["ckpt"], dirs["quar"])
    quarantined = spark.read.json(dirs["quar"]).collect()
    assert len(quarantined) == 1
    assert quarantined[0]["raw"] == corrupt


def test_decode_health_observed_metrics(spark, dirs):
    """Every micro-batch reports decode totals + corrupt counts through the
    named observe — the engine's replacement for the reference's uncounted
    nack/requeue loop."""
    from etl_pipeline_challenge_aladia_spark.streaming.pipeline import (
        streaming_envelopes_from_json,
    )

    write_lines(
        os.path.join(dirs["in"], "b0.jsonl"),
        [
            envelope("insert", "doc1", 1),
            envelope("insert", "doc2", 2),
            "{this is not json",
        ],
    )
    env = streaming_envelopes_from_json(spark, dirs["in"])
    q = (
        env.writeStream.format("noop")
        .option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    observed = [
        p["observedMetrics"]["decode_health"]
        for p in q.recentProgress
        if "decode_health" in p.get("observedMetrics", {})
    ]
    total = sum(m["n_messages"] for m in observed)
    corrupt = sum(m["n_corrupt"] for m in observed)
    assert total == 3 and corrupt == 1


def test_read_warehouse_key_scans_single_bucket(spark, tmp_path):
    """Point lookup reads exactly one bucket directory (manifest-routed) —
    1/num_buckets of the table's files — and returns the right row."""
    from etl_pipeline_challenge_aladia_spark.sinks import (
        merge_warehouse_batch,
        read_warehouse_key,
    )

    path = str(tmp_path / "wh")
    merge_warehouse_batch(spark, _merge_base_frame(spark, n=200), path, num_buckets=16)
    df = read_warehouse_key(spark, path, ["doc_42", "v", "s"])
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["watched_seconds"] == 420
    files = df.inputFiles()
    assert files
    dirs = {f.rsplit("/", 2)[-2] for f in files}
    assert len(dirs) == 1 and next(iter(dirs)).startswith("b")


def test_vacuum_and_num_buckets_pinning(spark, tmp_path):
    """vacuum_warehouse drops retained-garbage versions on demand and
    clears the manifest's garbage list; num_buckets is pinned at table
    creation, so a caller drifting the bucket count cannot split keys
    across buckets."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.sinks import (
        _read_manifest,
        merge_warehouse_batch,
        read_warehouse,
        vacuum_warehouse,
    )

    path = str(tmp_path / "wh")
    merge_warehouse_batch(spark, _merge_base_frame(spark, n=60), path, num_buckets=8)
    upd = _merge_base_frame(spark, n=60, version=2, watched=111).filter(
        F.col("original_id") == "doc_5"
    )
    # wrong num_buckets on a later call: pinned manifest value wins
    merge_warehouse_batch(spark, upd, path, num_buckets=64)
    m = _read_manifest(path)
    assert m["num_buckets"] == 8
    rows = {
        r["original_id"]: r["watched_seconds"]
        for r in read_warehouse(spark, path).collect()
    }
    assert len(rows) == 60 and rows["doc_5"] == 111

    assert m["garbage"], "second merge should retain a replaced version"
    removed = vacuum_warehouse(path)
    assert removed == len(m["garbage"])
    m2 = _read_manifest(path)
    assert m2["garbage"] == []
    assert read_warehouse(spark, path).count() == 60
    assert vacuum_warehouse(path) == 0  # idempotent


def test_merge_sink_sizes_buckets_to_the_data(spark, tmp_path):
    """A table created with the default count is one bucket. When its
    largest bucket outgrows one scan split (spark.sql.files.maxPartitionBytes,
    forced small here), the next merge re-buckets the whole table into a
    power-of-two multiple in one commit; every reader that routes by
    num_buckets, time travel to the pre-split snapshot, the change feed
    across the split, erasure and vacuum keep working, and a further small
    batch does not split again."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.sinks import (
        _read_manifest,
        erase_warehouse_keys,
        merge_warehouse_batch,
        read_warehouse,
        read_warehouse_key,
        table_changes,
        table_history,
        vacuum_warehouse,
    )

    def rows_of(frame):
        # a 1 KB hex payload per row: bucket bytes come from the data, not
        # from parquet's fixed per-file overhead
        payload = F.concat(*[
            F.sha2(F.concat("original_id", F.lit(str(i))), 512) for i in range(8)
        ])
        return frame.withColumn("payload", payload)

    def state_of(df):
        return {r["original_id"]: (r["version"], r["watched_seconds"])
                for r in df.collect()}

    path = str(tmp_path / "wh")
    merge_warehouse_batch(
        spark, rows_of(_merge_base_frame(spark, n=400)), path, retain_snapshots=3
    )
    m1 = _read_manifest(path)
    assert m1["num_buckets"] == 1 and set(m1["bucket_bytes"]) == {"0"}
    pre_split = m1["version"]
    want = {f"doc_{i}": (1, i * 10) for i in range(400)}
    assert state_of(read_warehouse(spark, path)) == want

    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    split = int(m1["bucket_bytes"]["0"] / 2.7)  # the bucket is ~2.7 splits
    spark.conf.set(key, str(split))
    try:
        # updates doc_0..doc_9, inserts doc_400..doc_409
        batch2 = rows_of(_merge_base_frame(spark, n=410, version=2, watched=7)).filter(
            "cast(substr(original_id, 5) as int) < 10 "
            "or cast(substr(original_id, 5) as int) >= 400"
        )
        written = merge_warehouse_batch(spark, batch2, path, retain_snapshots=3)
        m2 = _read_manifest(path)
        n = m2["num_buckets"]
        assert n == 4  # smallest power of two bringing ~2.7 splits under one
        assert written == len(m2["buckets"]) == len(m2["bucket_bytes"]) == n
        assert max(m2["bucket_bytes"].values()) <= split
        assert set(m2["garbage"]) == set(m1["buckets"].values())
        for i in [*range(10), *range(400, 410)]:
            want[f"doc_{i}"] = (2, 7)
        now = read_warehouse(spark, path)
        assert state_of(now) == want
        # every row sits in the bucket its key routes to under the new count
        routed = now.select(
            F.pmod(F.xxhash64("original_id", "video_id", "session_id"), F.lit(n))
            .alias("bk"),
            F.regexp_extract(F.input_file_name(), r"/b(\d{5})_v", 1).cast("int")
            .alias("dir_bk"),
        )
        assert routed.filter("bk != dir_bk").count() == 0
        for doc in ("doc_3", "doc_123", "doc_405"):
            got = state_of(read_warehouse_key(spark, path, [doc, "v", "s"]))
            assert got == {doc: want[doc]}

        old = {f"doc_{i}": (1, i * 10) for i in range(400)}
        assert state_of(read_warehouse(spark, path, version=pre_split)) == old
        stamp = {s["version"]: s["committed_at"] for s in table_history(path)}
        assert state_of(read_warehouse(spark, path, as_of=stamp[pre_split])) == old
        feed = {
            r["original_id"]: r["_change_type"]
            for r in table_changes(spark, path, from_version=pre_split).collect()
        }
        assert feed == {
            **{f"doc_{i}": "update" for i in range(10)},
            **{f"doc_{i}": "insert" for i in range(400, 410)},
        }

        doomed = spark.createDataFrame(
            [("doc_5", "v", "s"), ("doc_250", "v", "s")],
            ["original_id", "video_id", "session_id"],
        )
        assert 1 <= erase_warehouse_keys(spark, doomed, path, retain_snapshots=3) <= 2
        del want["doc_5"], want["doc_250"]
        assert state_of(read_warehouse(spark, path)) == want
        assert _read_manifest(path)["num_buckets"] == n

        small = rows_of(_merge_base_frame(spark, n=3, version=3, watched=9))
        assert merge_warehouse_batch(spark, small, path, retain_snapshots=3) <= 3
        assert _read_manifest(path)["num_buckets"] == n  # no second split
        for i in range(3):
            want[f"doc_{i}"] = (3, 9)
        assert state_of(read_warehouse(spark, path)) == want
    finally:
        spark.conf.set(key, prev)

    assert vacuum_warehouse(path) > 0
    assert state_of(read_warehouse(spark, path)) == want
    live = set(_read_manifest(path)["buckets"].values())
    assert {d for d in os.listdir(path) if d.startswith("b")} == live


def test_merge_sink_does_not_grow_buckets_it_cannot_split(spark, tmp_path):
    """A bucket whose only row is larger than one scan split cannot be
    brought under the split by any bucket count: repeated merges of that
    key keep the table at one bucket instead of multiplying the count on
    every merge."""
    import random

    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.sinks import (
        _read_manifest,
        merge_warehouse_batch,
        read_warehouse,
    )

    rng = random.Random(5)
    path = str(tmp_path / "wh")
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8192")
    try:
        for version in range(1, 6):
            # ~27 KB of incompressible hex: one row larger than the split
            payload = "%x" % rng.getrandbits(4 * 27_000)
            batch = _merge_base_frame(spark, n=1, version=version).withColumn(
                "payload", F.lit(payload)
            )
            merge_warehouse_batch(spark, batch, path)
            m = _read_manifest(path)
            assert m["num_buckets"] == 1, (version, m["num_buckets"])
            assert m["bucket_bytes"]["0"] > 8192
    finally:
        spark.conf.set(key, prev)
    rows = read_warehouse(spark, path).collect()
    assert [(r["original_id"], r["version"], r["payload"]) for r in rows] == [
        ("doc_0", 5, payload)
    ]


def test_cdc_batch_merge_and_refresh_job_counts(spark, tmp_path, monkeypatch):
    """The Spark jobs one CDC micro-batch's merge and view refresh start,
    pinned: a change that adds a per-bucket, listing or counting job fails
    here as a number, not as a slower benchmark. Two batch frames go
    through the processor, as the benchmark's warehouse build feeds it;
    the second (a refresh from the merged batch) is the one counted."""
    import uuid

    from etl_pipeline_challenge_aladia_spark import views
    from etl_pipeline_challenge_aladia_spark.operators.structure import parse_envelope
    from etl_pipeline_challenge_aladia_spark.streaming import pipeline

    sc = spark.sparkContext
    run = uuid.uuid4().hex
    groups: list[str] = []

    def in_group(name, fn):
        def grouped(*args, **kwargs):
            group = f"{name}-{run}-{len(groups)}"
            groups.append(group)
            sc.setJobGroup(group, group)
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

        return grouped

    # the processor looks both up by name at call time
    monkeypatch.setattr(
        pipeline, "merge_warehouse_batch", in_group("merge", pipeline.merge_warehouse_batch)
    )
    monkeypatch.setattr(
        views, "refresh_video_stats_view", in_group("refresh", views.refresh_video_stats_view)
    )
    process = pipeline.make_cdc_batch_processor(
        str(tmp_path / "wh"), quarantine_path=str(tmp_path / "quar"), sink="merge",
        view_path=str(tmp_path / "view"),
    )
    batches = [
        [envelope("insert", f"doc_{i}", 1, video=f"video_{i % 7}") for i in range(60)],
        [envelope("update", f"doc_{i}", 2, watched=5, video=f"video_{i % 7}")
         for i in range(0, 60, 6)]
        + [envelope("insert", "doc_60", 3, video="video_9"), "{not json"],
    ]
    for bid, lines in enumerate(batches):
        f = str(tmp_path / f"batch-{bid}.json")
        write_lines(f, lines)
        process(parse_envelope(spark.read.text(f), json_col="value"), bid)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    merge_jobs, refresh_jobs = (len(tracker.getJobIdsForGroup(g)) for g in groups[2:])
    assert (merge_jobs, refresh_jobs) == (4, 7)
    assert state(spark, str(tmp_path / "wh"))[("doc_6", "video_6", "session_1")] == (5, 2)


def test_incremental_dedup_stream_screens_against_growing_corpus(spark, tmp_path):
    """Streaming ingest dedup: batch 2's near-dup of a batch-1 doc is
    flagged because the corpus ACCUMULATES micro-batch by micro-batch;
    clean docs pass. Replays are idempotent (batch-keyed overwrite)."""
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        INCREMENTAL_DEDUP_INGEST,
    )

    in_dir = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    base_text = " ".join(f"tok{i}" for i in range(40))
    near_dup = base_text + " extra"  # high-Jaccard variant
    clean = " ".join(f"other{i}" for i in range(40))

    def write_batch(name, rows):
        with open(os.path.join(in_dir, name), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")

    write_batch("b1.jsonl", [{"doc_id": 1, "text": base_text},
                             {"doc_id": 2, "text": clean}])
    drain_files(spark, INCREMENTAL_DEDUP_INGEST, in_dir, ckpt, corpus, report)
    write_batch("b2.jsonl", [{"doc_id": 10, "text": near_dup},
                             {"doc_id": 11, "text": "completely unrelated words here"}])
    drain_files(spark, INCREMENTAL_DEDUP_INGEST, in_dir, ckpt, corpus, report)

    pairs = {
        (r["delta_id"], r["corpus_id"])
        for r in spark.read.parquet(report).collect()
    }
    assert pairs == {(10, 1)}
    assert spark.read.parquet(corpus).count() == 4
    # replay with no new input: nothing reprocesses, outputs unchanged
    drain_files(spark, INCREMENTAL_DEDUP_INGEST, in_dir, ckpt, corpus, report)
    assert spark.read.parquet(corpus).count() == 4


@pytest.mark.slow  # measured heavy in the full --durations run (see pytest.ini)
def test_sigstore_ingest_stream_matches_recompute_and_accumulates(spark, tmp_path):
    """The signature-STORE ingest (bands + shingle sets persisted per
    batch, corpus text never re-read): reports equal the raw-text
    recompute operator bit-for-bit per batch, batch 2 is screened
    against batch 1's STORED precomputation, and a drained rerun
    changes nothing."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        minhash_incremental_pairs,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        NEAR_DUP_REPORT,
        SIGSTORE_INGEST,
    )

    in_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    base_text = " ".join(f"tok{i}" for i in range(40))
    near_dup = base_text + " extra"
    clean = " ".join(f"other{i}" for i in range(40))
    b2_dup_of_b1 = near_dup + " more"  # near-dups base AND near_dup

    def write_batch(name, rows):
        with open(os.path.join(in_dir, name), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    b1 = [(1, base_text), (2, clean)]
    b2 = [(10, b2_dup_of_b1), (11, "completely unrelated words here")]

    write_batch("b1.jsonl", [{"doc_id": i, "text": t} for i, t in b1])
    drain_files(spark, SIGSTORE_INGEST, in_dir, ckpt, store, report)
    assert read_store(spark, NEAR_DUP_REPORT, report).count() == 0  # empty store

    write_batch("b2.jsonl", [{"doc_id": i, "text": t} for i, t in b2])
    drain_files(spark, SIGSTORE_INGEST, in_dir, ckpt, store, report)

    got = {
        tuple(r)
        for r in read_store(spark, NEAR_DUP_REPORT, report).collect()
    }
    # bit-for-bit the raw-text recompute operator screening b2 vs b1
    want = {
        tuple(r)
        for r in minhash_incremental_pairs(
            frame(b1), frame(b2), threshold=0.8
        ).collect()
    }
    assert got == want and len(got) >= 1
    assert all(d == 10 for d, _c, _j in got)  # only the planted dup

    # store accumulated both batches' precomputation
    assert spark.read.parquet(
        os.path.join(store, "shingles")
    ).count() == 4

    # drained rerun: nothing reprocesses
    drain_files(spark, SIGSTORE_INGEST, in_dir, ckpt, store, report)
    assert {
        tuple(r) for r in read_store(spark, NEAR_DUP_REPORT, report).collect()
    } == got


def test_time_travel_merge_table(spark, tmp_path):
    """read_warehouse(version=) returns the exact row-set each retained
    commit published; table_history lists readable snapshots oldest-first;
    rotation keeps only retain_snapshots past versions; vacuum expires
    history and makes expired versions raise with the readable list;
    non-manifest paths refuse version= with a clear error."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.sinks import (
        merge_warehouse_batch,
        read_warehouse,
        table_history,
        vacuum_warehouse,
    )

    path = str(tmp_path / "wh")
    merge_warehouse_batch(
        spark, _merge_base_frame(spark, n=40), path, num_buckets=8,
        retain_snapshots=2,
    )
    for v, w in ((2, 111), (3, 222)):
        upd = _merge_base_frame(spark, n=40, version=v, watched=w).filter(
            F.col("original_id") == "doc_7"
        )
        merge_warehouse_batch(spark, upd, path, retain_snapshots=2)

    hist = table_history(path)
    assert [h["version"] for h in hist] == [1, 2, 3]
    def doc7(version=None):
        return read_warehouse(spark, path, version=version).filter(
            F.col("original_id") == "doc_7"
        ).first()["watched_seconds"]
    assert doc7() == 222 and doc7(3) == 222
    assert doc7(2) == 111
    assert doc7(1) == 70
    # every snapshot is complete, not just the touched bucket
    assert read_warehouse(spark, path, version=1).count() == 40

    # a third update rotates version 1 out (retain_snapshots=2)
    merge_warehouse_batch(
        spark,
        _merge_base_frame(spark, n=40, version=4, watched=333).filter(
            F.col("original_id") == "doc_7"
        ),
        path,
        retain_snapshots=2,
    )
    assert [h["version"] for h in table_history(path)] == [2, 3, 4]
    with pytest.raises(KeyError, match=r"\[2, 3, 4\]"):
        read_warehouse(spark, path, version=1)
    assert doc7(2) == 111  # retained ones still resolve after rotation

    # vacuum with keep_snapshots=1 expires version 2 but keeps 3
    vacuum_warehouse(path, keep_snapshots=1)
    assert [h["version"] for h in table_history(path)] == [3, 4]
    assert doc7(3) == 222 and doc7() == 333
    with pytest.raises(KeyError):
        read_warehouse(spark, path, version=2)

    plain = str(tmp_path / "plain")
    _merge_base_frame(spark, n=5).write.parquet(plain)
    with pytest.raises(KeyError, match="no snapshot manifest"):
        read_warehouse(spark, plain, version=1)


def test_table_changes_between_snapshots(spark, tmp_path):
    """Change data feed over retained snapshots: updated keys surface as
    'update' with the NEW row, brand-new keys as 'insert', and keys absent
    from the target snapshot as 'delete' (exercised by diffing backwards);
    unchanged keys never appear."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.sinks import (
        merge_warehouse_batch,
        table_changes,
    )

    path = str(tmp_path / "wh")
    merge_warehouse_batch(
        spark, _merge_base_frame(spark, n=20), path, num_buckets=8,
        retain_snapshots=3,
    )
    batch2 = _merge_base_frame(spark, n=21, version=2, watched=77).filter(
        F.col("original_id").isin("doc_4", "doc_20")  # update + insert
    )
    merge_warehouse_batch(spark, batch2, path, retain_snapshots=3)

    fwd = {
        r["original_id"]: r
        for r in table_changes(spark, path, from_version=1, to_version=2).collect()
    }
    assert set(fwd) == {"doc_4", "doc_20"}
    assert fwd["doc_4"]["_change_type"] == "update"
    assert fwd["doc_4"]["watched_seconds"] == 77  # new side emitted
    assert fwd["doc_20"]["_change_type"] == "insert"

    # to_version=None means current snapshot
    cur = table_changes(spark, path, from_version=1)
    assert {r["original_id"] for r in cur.collect()} == {"doc_4", "doc_20"}

    back = {
        r["original_id"]: r
        for r in table_changes(spark, path, from_version=2, to_version=1).collect()
    }
    assert back["doc_20"]["_change_type"] == "delete"
    assert back["doc_20"]["watched_seconds"] == 77  # old (v2) side emitted
    assert back["doc_4"]["_change_type"] == "update"
    assert back["doc_4"]["watched_seconds"] == 40


def test_erase_warehouse_keys_gdpr(spark, tmp_path):
    """Hard erasure on a bucketed MERGE table: the erased keys vanish from
    the current snapshot but survive in the retained one (Delta's
    DELETE-then-VACUUM contract); vacuum purges them physically; the
    change feed across the erase commit reports them as deletes; only
    touched buckets get new version directories."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.sinks import (
        _read_manifest,
        erase_warehouse_keys,
        merge_warehouse_batch,
        read_warehouse,
        table_changes,
        vacuum_warehouse,
    )

    path = str(tmp_path / "wh")
    merge_warehouse_batch(
        spark, _merge_base_frame(spark, n=50), path, num_buckets=8,
        retain_snapshots=2,
    )
    m1 = _read_manifest(path)
    doomed = spark.createDataFrame(
        [("doc_3", "v", "s"), ("doc_17", "v", "s")],
        ["original_id", "video_id", "session_id"],
    )
    written = erase_warehouse_keys(spark, doomed, path, retain_snapshots=2)
    assert 1 <= written <= 2  # only the buckets those keys hash into

    now = {r["original_id"] for r in read_warehouse(spark, path).collect()}
    assert "doc_3" not in now and "doc_17" not in now and len(now) == 48
    past = {
        r["original_id"] for r in read_warehouse(spark, path, version=1).collect()
    }
    assert {"doc_3", "doc_17"} <= past  # still readable pre-vacuum

    feed = {
        r["original_id"]: r["_change_type"]
        for r in table_changes(spark, path, from_version=1).collect()
    }
    assert feed == {"doc_3": "delete", "doc_17": "delete"}

    # untouched buckets kept their directories (no full-table rewrite)
    m2 = _read_manifest(path)
    same = [
        b for b, d in m1["buckets"].items() if m2["buckets"].get(b) == d
    ]
    assert len(same) == len(m1["buckets"]) - written

    vacuum_warehouse(path)  # physical purge: history expired
    with pytest.raises(KeyError):
        read_warehouse(spark, path, version=1)
    assert {
        r["original_id"] for r in read_warehouse(spark, path).collect()
    } == now


def test_merge_sink_schema_evolution(spark, tmp_path):
    """A later batch adds a column: only its buckets are rewritten with the
    wider schema, yet readers see the union schema with NULL back-fill for
    untouched buckets (mergeSchema across the manifest's bucket dirs), and
    a further merge into an un-evolved bucket keeps working."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.sinks import (
        merge_warehouse_batch,
        read_warehouse,
    )

    path = str(tmp_path / "wh")
    merge_warehouse_batch(spark, _merge_base_frame(spark, n=40), path, num_buckets=8)

    evolved = _merge_base_frame(spark, n=40, version=2, watched=77).filter(
        F.col("original_id") == "doc_9"
    ).withColumn("region_code", F.lit("eu").cast("string"))
    merge_warehouse_batch(spark, evolved, path)

    out = read_warehouse(spark, path)
    assert "region_code" in out.columns
    rows = {r["original_id"]: r for r in out.collect()}
    assert len(rows) == 40
    assert rows["doc_9"]["region_code"] == "eu"
    assert rows["doc_9"]["watched_seconds"] == 77
    assert rows["doc_0"]["region_code"] is None  # NULL back-fill

    # merging into a NOT-yet-evolved bucket with the old schema still works
    plain = _merge_base_frame(spark, n=40, version=3, watched=55).filter(
        F.col("original_id") == "doc_2"
    )
    merge_warehouse_batch(spark, plain, path)
    rows = {
        r["original_id"]: r for r in read_warehouse(spark, path).collect()
    }
    assert rows["doc_2"]["watched_seconds"] == 55
    assert rows["doc_9"]["region_code"] == "eu"  # evolution preserved


def test_compact_warehouse_zorder_clusters_files(spark, tmp_path):
    """OPTIMIZE ZORDER: compacting with zorder_by range-partitions each day
    partition on the Morton key, so every output file covers a bounded
    rectangle of (a, b) space — per-file min/max spans shrink on BOTH
    columns vs the global span, which is what footer-stats pruning needs.
    Row content is unchanged."""
    import glob

    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.sinks import (
        append_warehouse,
        compact_warehouse,
    )

    # 32x32 grid of (watched, duration) shuffled into one day partition
    grid = spark.range(1024).select(
        F.concat(F.lit("doc_"), F.col("id")).alias("original_id"),
        F.lit("v").alias("video_id"),
        F.lit("s").alias("session_id"),
        (F.col("id") % 32).cast("long").alias("watched_seconds"),
        (F.col("id") / 32).cast("long").alias("video_duration_seconds"),
        F.lit(1).cast("long").alias("version"),
        F.lit("2024-01-01 10:00:00").cast("timestamp").alias("original_timestamp"),
    ).orderBy(F.xxhash64("original_id"))  # scatter the layout
    path = str(tmp_path / "wh")
    append_warehouse(grid, path)

    assert compact_warehouse(
        spark, path, target_rows_per_file=64,
        zorder_by=("watched_seconds", "video_duration_seconds"),
    ) == 1

    day_dir = glob.glob(os.path.join(path, "_day=*"))[0]
    files = glob.glob(os.path.join(day_dir, "*.parquet"))
    assert len(files) >= 8
    spans_a, spans_b, total = [], [], 0
    for f in files:
        stats = (
            spark.read.parquet(f)
            .agg(
                F.min("watched_seconds"), F.max("watched_seconds"),
                F.min("video_duration_seconds"), F.max("video_duration_seconds"),
                F.count(F.lit(1)),
            )
            .first()
        )
        spans_a.append(stats[1] - stats[0])
        spans_b.append(stats[3] - stats[2])
        total += stats[4]
    assert total == 1024  # content preserved
    # z-clustered files cover rectangles: mean span well under the global
    # span (31) on BOTH dimensions — an unclustered random split gives ~31
    assert sum(spans_a) / len(spans_a) < 16
    assert sum(spans_b) / len(spans_b) < 16


def test_replay_quarantine_recovers_fixed_messages(spark, tmp_path):
    """Dead-letter replay: after a parser/producer fix, valid raw messages
    in the quarantine flow through the SAME decode -> upsert path and
    land in the warehouse; the quarantine shrinks to the still-bad
    residue; a second replay is a no-op."""
    from etl_pipeline_challenge_aladia_spark.streaming.pipeline import (
        replay_quarantine,
    )

    wh = str(tmp_path / "wh")
    quar = str(tmp_path / "quar")
    os.makedirs(quar)
    good = envelope("insert", "doc_q", 1, watched=42)
    bad = "still {not json"
    with open(os.path.join(quar, "part-0.json"), "w") as f:
        f.write(json.dumps({"raw": good, "quarantined_at": "2024-01-01"}) + "\n")
        f.write(json.dumps({"raw": bad, "quarantined_at": "2024-01-01"}) + "\n")

    n_rec, n_bad = replay_quarantine(spark, quar, wh)
    assert (n_rec, n_bad) == (1, 1)
    rows = {r["original_id"]: r for r in read_warehouse(spark, wh).collect()}
    assert rows["doc_q"]["watched_seconds"] == 42
    residue = spark.read.json(quar)
    assert residue.count() == 1 and residue.first()["raw"] == bad

    # replaying the residue again recovers nothing and leaves it intact
    assert replay_quarantine(spark, quar, wh) == (0, 1)
    assert spark.read.json(quar).count() == 1


def test_table_changes_null_update_emits_new_null(spark, tmp_path):
    """An update that legitimately sets a column to NULL (the soft-delete
    tombstone shape: NULL original_timestamp / watched fields) must emit
    the NEW NULL in the change feed, not the stale old value — whole-side
    row selection, never per-column coalesce."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.sinks import (
        merge_warehouse_batch,
        table_changes,
    )

    path = str(tmp_path / "wh")
    merge_warehouse_batch(
        spark, _merge_base_frame(spark, n=10), path, num_buckets=4,
        retain_snapshots=3,
    )
    tomb = (
        _merge_base_frame(spark, n=10, version=2)
        .filter(F.col("original_id") == "doc_4")
        .withColumn("watched_seconds", F.lit(None).cast("long"))
        .withColumn("original_timestamp", F.lit(None).cast("timestamp"))
    )
    merge_warehouse_batch(spark, tomb, path, retain_snapshots=3)

    changes = {
        r["original_id"]: r
        for r in table_changes(spark, path, from_version=1, to_version=2).collect()
    }
    assert set(changes) == {"doc_4"}
    r = changes["doc_4"]
    assert r["_change_type"] == "update"
    assert r["watched_seconds"] is None  # NEW side, not coalesced old 40
    assert r["original_timestamp"] is None


def test_table_changes_survives_schema_evolution(spark, tmp_path):
    """mergeSchema writes can add columns between snapshots; the change
    feed must diff anyway — the old snapshot's missing columns read as
    typed NULLs, and the incremental view refresh must not crash on the
    evolving batch (full-rebuild fallback at worst)."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.sinks import (
        merge_warehouse_batch,
        table_changes,
    )

    path = str(tmp_path / "wh")
    merge_warehouse_batch(
        spark, _merge_base_frame(spark, n=10), path, num_buckets=4,
        retain_snapshots=3,
    )
    evolved = (
        _merge_base_frame(spark, n=11, version=2, watched=77)
        .filter(F.col("original_id").isin("doc_4", "doc_10"))
        .withColumn("device", F.lit("tv"))
    )
    merge_warehouse_batch(spark, evolved, path, retain_snapshots=3)

    fwd = {
        r["original_id"]: r
        for r in table_changes(spark, path, from_version=1, to_version=2).collect()
    }
    assert set(fwd) == {"doc_4", "doc_10"}
    assert fwd["doc_4"]["_change_type"] == "update"
    assert fwd["doc_4"]["device"] == "tv"  # new column, new side
    assert fwd["doc_10"]["_change_type"] == "insert"
    # backward diff: the NEW (=v1) side lacks 'device'; old extra columns
    # simply don't project — no AnalysisException
    back = {
        r["original_id"]: r["_change_type"]
        for r in table_changes(spark, path, from_version=2, to_version=1).collect()
    }
    assert back == {"doc_4": "update", "doc_10": "delete"}
    assert "device" not in set(
        table_changes(spark, path, from_version=2, to_version=1).columns
    )


def test_view_refresh_survives_schema_evolution(spark, tmp_path):
    """The streaming view-maintenance loop must keep running across a
    schema-evolving commit: refresh either diffs incrementally or falls
    back to a full rebuild, but never raises."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.sinks import merge_warehouse_batch
    from etl_pipeline_challenge_aladia_spark.views import (
        build_video_stats_view,
        read_view,
        refresh_video_stats_view,
    )

    table = str(tmp_path / "wh")
    view = str(tmp_path / "view")
    merge_warehouse_batch(
        spark,
        _merge_base_frame(spark, n=10).withColumn("watched_ratio", F.lit(0.5)),
        table, num_buckets=4, retain_snapshots=3,
    )
    build_video_stats_view(spark, table, view)
    evolved = (
        _merge_base_frame(spark, n=10, version=2, watched=500)
        .filter(F.col("original_id") == "doc_1")
        .withColumn("watched_ratio", F.lit(0.5))
        .withColumn("device", F.lit("tv"))
    )
    merge_warehouse_batch(spark, evolved, table, retain_snapshots=3)
    refresh_video_stats_view(spark, table, view)  # must not raise
    got = read_view(spark, view).first()
    assert got["max_watched_seconds"] == 500


def test_vacuum_commits_manifest_before_gc(spark, tmp_path):
    """Crash-ordering contract: vacuum publishes the trimmed manifest
    BEFORE deleting version directories. A crash mid-GC must leave a
    manifest that never references deleted snapshots — expired versions
    raise the documented KeyError, current reads stay whole, and the
    next vacuum collects the strays."""
    import etl_pipeline_challenge_aladia_spark.sinks as sinks
    from pyspark.sql import functions as F

    path = str(tmp_path / "wh")
    sinks.merge_warehouse_batch(
        spark, _merge_base_frame(spark, n=20), path, num_buckets=4,
        retain_snapshots=2,
    )
    upd = _merge_base_frame(spark, n=20, version=2, watched=9).filter(
        F.col("original_id") == "doc_3"
    )
    sinks.merge_warehouse_batch(spark, upd, path, retain_snapshots=2)

    real_gc = sinks._gc_unreferenced
    try:
        def crash(*a, **k):
            raise RuntimeError("simulated crash during GC")
        sinks._gc_unreferenced = crash
        with pytest.raises(RuntimeError, match="simulated crash"):
            sinks.vacuum_warehouse(path)
    finally:
        sinks._gc_unreferenced = real_gc

    # manifest already trimmed: expired history is a KeyError, not a
    # mid-scan path-not-found; current snapshot reads whole
    m = sinks._read_manifest(path)
    assert m["history"] == [] and m["garbage"] == []
    with pytest.raises(KeyError):
        sinks.read_warehouse(spark, path, version=1)
    assert sinks.read_warehouse(spark, path).count() == 20
    # the interrupted GC's strays are ordinary unreferenced dirs
    assert sinks.vacuum_warehouse(path) > 0
    assert sinks.read_warehouse(spark, path).count() == 20


def _kafka_rows(msgs, offset0=0):
    return [
        (None, m.encode("utf-8"), "video_log", 0, offset0 + i, None, 0)
        for i, m in enumerate(msgs)
    ]


def test_kafka_stream_contract_end_to_end(spark, tmp_path):
    """run_cdc_kafka_stream's FULL surface — binary decode, quarantine,
    checkpointed offsets, idempotent merge upsert — executed end-to-end
    through the kafka-shaped file source (identical schema to Spark's
    Kafka source; only format('kafka') itself needs a broker):
    - corrupt messages land in the quarantine, good ones in the warehouse;
    - a second run resumes from the checkpoint (old files not reprocessed)
      and a REDELIVERED duplicate upserts to the same state;
    - a drained run is a no-op."""
    from etl_pipeline_challenge_aladia_spark.streaming.pipeline import (
        KAFKA_RECORD_SCHEMA,
        kafka_shaped_file_stream,
        run_cdc_kafka_stream,
    )

    in_dir = str(tmp_path / "topic")
    wh = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")
    quar = str(tmp_path / "quar")

    def produce(name, msgs, offset0=0):
        spark.createDataFrame(
            _kafka_rows(msgs, offset0), KAFKA_RECORD_SCHEMA
        ).coalesce(1).write.mode("append").parquet(in_dir)

    def run():
        run_cdc_kafka_stream(
            spark, None, None, wh, ckpt,
            quarantine_path=quar,
            records=kafka_shaped_file_stream(spark, in_dir),
            available_now=True,
        )

    produce("b1", [
        envelope("insert", "doc_1", 1),
        envelope("insert", "doc_2", 1, watched=50),
        "corrupt {not json",
    ])
    run()
    rows = {r["original_id"]: r for r in read_warehouse(spark, wh).collect()}
    assert set(rows) == {"doc_1", "doc_2"}
    assert rows["doc_1"]["version"] == 1
    assert spark.read.json(quar).count() == 1

    # redelivery + progress: doc_2 v1 re-delivered verbatim, doc_1 updated
    produce("b2", [
        envelope("update", "doc_1", 2, watched=45),
        envelope("insert", "doc_2", 1, watched=50),
    ], offset0=10)
    run()
    rows2 = {r["original_id"]: r for r in read_warehouse(spark, wh).collect()}
    assert rows2["doc_1"]["version"] == 2
    assert rows2["doc_1"]["watched_seconds"] == 45
    assert rows2["doc_2"]["version"] == 1  # duplicate collapsed, state same
    assert spark.read.json(quar).count() == 1  # old files NOT reprocessed

    # drained: no new input, nothing changes
    run()
    rows3 = {r["original_id"]: (r["version"], r["watched_seconds"])
             for r in read_warehouse(spark, wh).collect()}
    assert rows3 == {k: (r["version"], r["watched_seconds"])
                     for k, r in rows2.items()}


@pytest.mark.skipif(
    not os.environ.get("KAFKA_BOOTSTRAP"),
    reason="opt-in: set KAFKA_BOOTSTRAP=host:port (and have the "
    "spark-sql-kafka connector on the classpath) to run against a real broker",
)
def test_kafka_stream_against_real_broker(spark, tmp_path):
    """Opt-in e2e against a LIVE broker: publish envelopes to a topic via
    the S2 publish sink, consume them back through run_cdc_kafka_stream,
    assert warehouse state. Skipped wherever no broker is reachable (the
    sandbox); the broker-free contract twin above runs everywhere."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.structure import (
        parse_envelope,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.pipeline import (
        encode_kafka_records,
        run_cdc_kafka_stream,
    )

    bootstrap = os.environ["KAFKA_BOOTSTRAP"]
    topic = f"cdc_e2e_{os.getpid()}"
    env = parse_envelope(
        spark.createDataFrame(
            [(envelope("insert", "doc_k", 1),)], "value string"
        )
    )
    (
        encode_kafka_records(env)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .save()
    )
    wh = str(tmp_path / "wh")
    run_cdc_kafka_stream(
        spark, bootstrap, topic, wh, str(tmp_path / "ckpt"),
        available_now=True,
    )
    got = {r["original_id"] for r in read_warehouse(spark, wh).collect()}
    assert got == {"doc_k"}


@pytest.mark.skipif(
    not os.environ.get("CDC_JDBC_URL"),
    reason="opt-in: set CDC_JDBC_URL (e.g. jdbc:clickhouse://host:8123/db, "
    "with the driver jar on the classpath) and CDC_JDBC_TABLE to run the "
    "S5 JDBC warehouse sink end-to-end",
)
def test_jdbc_sink_against_real_warehouse(spark):
    """Opt-in e2e for the S5 JDBC mapping (make_jdbc_batch_processor):
    one micro-batch of parsed envelopes INSERTed into a live warehouse
    table. Skipped without a database; construction and the quarantine/
    transform halves are covered broker-free elsewhere."""
    from etl_pipeline_challenge_aladia_spark.operators.structure import (
        parse_envelope,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.pipeline import (
        make_jdbc_batch_processor,
    )

    batch = parse_envelope(
        spark.createDataFrame(
            [(envelope("insert", "doc_j", 1),)], "value string"
        )
    )
    proc = make_jdbc_batch_processor(
        os.environ["CDC_JDBC_URL"], os.environ.get("CDC_JDBC_TABLE", "video_log")
    )
    proc(batch, 0)  # raises on connection/driver failure


def test_replay_full_loop_never_regresses_live_state(spark, dirs):
    """The complete dead-letter loop under a CONCURRENT live stream:
    corrupt batch -> quarantine -> live stream moves the same key forward
    -> the quarantined message is fixed and replayed -> the recovered row
    upserts through latest_per_key, so a STALE replay (lower version than
    live) never regresses the warehouse, while a replay for a key the
    live stream never delivered appears with its own version; subsequent
    live batches keep ordering intact."""
    import glob

    from etl_pipeline_challenge_aladia_spark.streaming.pipeline import (
        replay_quarantine,
    )

    # b1: doc_a v1 arrives CORRUPT (truncated json) + doc_b v1 good
    good_a_v1 = envelope("insert", "doc_a", 1, watched=10)
    write_lines(
        os.path.join(dirs["in"], "b1.json"),
        [good_a_v1[:-5], envelope("insert", "doc_b", 1, watched=11)],
    )
    run_cdc_file_stream(
        spark, dirs["in"], dirs["wh"], dirs["ckpt"], dirs["quar"]
    )
    assert spark.read.json(dirs["quar"]).count() == 1
    assert ("doc_a", "video_1", "session_1") not in state(spark, dirs["wh"])

    # live stream moves doc_a forward past the stuck message
    write_lines(
        os.path.join(dirs["in"], "b2.json"),
        [envelope("insert", "doc_a", 2, watched=22),
         envelope("insert", "doc_c", 1, watched=33)],  # corrupt twin below
    )
    run_cdc_file_stream(
        spark, dirs["in"], dirs["wh"], dirs["ckpt"], dirs["quar"]
    )
    s = state(spark, dirs["wh"])
    assert s[("doc_a", "video_1", "session_1")] == (22, 2)

    # "producer fix": rewrite the quarantine with the valid v1 message
    # plus one brand-new key (doc_d v1) that has no live competitor
    # (fresh dir: editing spark's own part file in place would trip its
    # .crc checksum sidecar)
    import shutil

    assert glob.glob(os.path.join(dirs["quar"], "*.json"))
    shutil.rmtree(dirs["quar"])
    write_lines(
        os.path.join(dirs["quar"], "fixed.json"),
        [json.dumps({"raw": good_a_v1, "quarantined_at": "t"}),
         json.dumps({"raw": envelope("insert", "doc_d", 1, watched=44),
                     "quarantined_at": "t"})],
    )
    n_rec, n_bad = replay_quarantine(spark, dirs["quar"], dirs["wh"])
    assert (n_rec, n_bad) == (2, 0)

    s2 = state(spark, dirs["wh"])
    # stale replay NEVER regresses: live v2 wins over replayed v1
    assert s2[("doc_a", "video_1", "session_1")] == (22, 2)
    # replay-only key appears
    assert s2[("doc_d", "video_1", "session_1")] == (44, 1)

    # live traffic after the replay: ordering still holds in both directions
    write_lines(
        os.path.join(dirs["in"], "b3.json"),
        [envelope("update", "doc_d", 3, watched=55),
         envelope("update", "doc_a", 1, watched=1)],  # stale live, loses too
    )
    run_cdc_file_stream(
        spark, dirs["in"], dirs["wh"], dirs["ckpt"], dirs["quar"]
    )
    s3 = state(spark, dirs["wh"])
    assert s3[("doc_a", "video_1", "session_1")] == (22, 2)
    assert s3[("doc_d", "video_1", "session_1")] == (55, 3)


def test_decode_health_listener_records_per_batch_metrics(spark, dirs, tmp_path):
    """The ops loop the reference lacked: observe_decode_health metrics
    reach a persisted per-batch log through DecodeHealthListener, and
    corrupt_ratio flags the bad batch."""
    from etl_pipeline_challenge_aladia_spark.streaming.metrics import (
        DecodeHealthListener,
        corrupt_ratio,
        read_health_log,
    )

    log = str(tmp_path / "health.jsonl")
    listener = DecodeHealthListener(log)
    spark.streams.addListener(listener)
    try:
        write_lines(
            os.path.join(dirs["in"], "b1.json"),
            [envelope("insert", "doc_1", 1),
             envelope("insert", "doc_2", 1),
             "corrupt {not json"],
        )
        run_cdc_file_stream(
            spark, dirs["in"], dirs["wh"], dirs["ckpt"], dirs["quar"]
        )
        # listener bus is async: wait for the progress event to land
        import time

        deadline = time.time() + 30
        recs = []
        while time.time() < deadline:
            recs = [r for r in read_health_log(log) if r.get("n_messages")]
            if recs:
                break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)

    assert recs, "no progress events captured"
    r = recs[0]
    # the processor materializes the decoded batch once before its
    # actions (quarantine write, merge), so each line is counted once
    assert r["n_messages"] == 3
    assert r["n_corrupt"] == 1
    assert abs(corrupt_ratio(r) - 1 / 3) < 1e-9
    assert corrupt_ratio({"n_messages": 0, "n_corrupt": 0}) == 0.0
    assert listener.dropped == 0


def test_embedding_ingest_stream_routes_onto_frozen_index(spark, tmp_path):
    """Streaming ANN ingest: vectors stream onto a FROZEN quantizer —
    per-batch routing equals the batch operator bit-for-bit, the index
    accumulates cell-partitioned (probes prune to cell directories),
    per-batch stats land for drift monitoring, and a checkpointed rerun
    ingests nothing twice."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        assign_to_centroids,
        kmeans_with_centroids,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.embeddings import (
        EMBEDDING_INDEX,
        EMBEDDING_INGEST,
        INGEST_STATS,
    )

    def vecs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 2) * 10 + F.sin(F.col("id")) * 0.1,
                (F.col("id") % 2) * 10 + F.cos(F.col("id")) * 0.1,
            ).alias("embedding"),
        )

    train = vecs(0, 200)
    _, cents = kmeans_with_centroids(train, k=2, vec_col="embedding")

    in_dir = str(tmp_path / "in")
    idx = str(tmp_path / "index")
    stats = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    vecs(1000, 1150).coalesce(1).write.mode("append").parquet(in_dir)
    drain_files(spark, EMBEDDING_INGEST, in_dir, ckpt, cents, idx, stats)
    vecs(1150, 1250).coalesce(1).write.mode("append").parquet(in_dir)
    drain_files(spark, EMBEDDING_INGEST, in_dir, ckpt, cents, idx, stats)

    index = read_store(spark, EMBEDDING_INDEX, idx)
    assert index.count() == 250
    # routing parity with the batch operator, for every streamed vector
    want = {
        (r["id"], r["cluster"])
        for r in assign_to_centroids(
            vecs(1000, 1250), cents, vec_col="embedding"
        ).collect()
    }
    got = {(r["vec_id"], r["cell"]) for r in index.collect()}
    assert got == want
    # stats: per-batch per-cell counts cover everything exactly once
    st = read_store(spark, INGEST_STATS, stats)
    assert st.agg(F.sum("n_vecs")).first()[0] == 250
    assert st.select("batch_id").distinct().count() == 2

    # a probe for one cell prunes the scan to that cell's directories
    one_cell = index.filter(F.col("cell") == 1)
    plan = one_cell._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cell" in plan

    # drained rerun: nothing reprocesses
    drain_files(spark, EMBEDDING_INGEST, in_dir, ckpt, cents, idx, stats)
    assert read_store(spark, EMBEDDING_INDEX, idx).count() == 250


def test_cell_partitioned_index_probe_scans_only_probed_cells(spark, tmp_path):
    """The point of the cell-partitioned layout, proven physically (the
    Z-order rectangle-proof pattern): a probe for cells {1} reads
    EXACTLY the parquet files under cell=1 directories — the scan's
    numFiles metric equals the on-disk count for the probed cell, not
    the whole index."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        kmeans_with_centroids,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.embeddings import (
        EMBEDDING_INDEX,
        EMBEDDING_INGEST,
    )

    def vecs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 2) * 10 + F.sin(F.col("id")) * 0.1,
                (F.col("id") % 2) * 10 + F.cos(F.col("id")) * 0.1,
            ).alias("embedding"),
        )

    _, cents = kmeans_with_centroids(vecs(0, 100), k=2)
    in_dir = str(tmp_path / "in")
    idx = str(tmp_path / "index")
    stats = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    # two ingest batches -> cell=<id> directories under two batch dirs
    vecs(1000, 1100).coalesce(1).write.mode("append").parquet(in_dir)
    drain_files(spark, EMBEDDING_INGEST, in_dir, ckpt, cents, idx, stats)
    vecs(1100, 1200).coalesce(1).write.mode("append").parquet(in_dir)
    drain_files(spark, EMBEDDING_INGEST, in_dir, ckpt, cents, idx, stats)

    def disk_files(cell=None):
        out = []
        for root, _dirs, files in os.walk(idx):
            if cell is not None and f"cell={cell}" not in root:
                continue
            out += [f for f in files if f.endswith(".parquet")]
        return len(out)

    assert disk_files() > disk_files(1) > 0

    def scanned_files(df):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan()
        leaves = plan.collectLeaves()
        for i in range(leaves.length()):
            node = leaves.apply(i)
            if "Scan" in node.nodeName():
                return int(node.metrics().apply("numFiles").value())
        raise AssertionError("no scan node found")

    probe = read_store(spark, EMBEDDING_INDEX, idx).filter(F.col("cell") == 1)
    full = read_store(spark, EMBEDDING_INDEX, idx)
    assert scanned_files(probe) == disk_files(1)
    assert scanned_files(full) == disk_files()


@pytest.mark.slow  # measured heavy in the full --durations run (see pytest.ini)
def test_semantic_dedup_ingest_stream_matches_batch_operator(spark, tmp_path):
    """Streaming incremental semantic dedup: each micro-batch is screened
    against the ACCUMULATED index, per-batch reports equal the batch
    operator bit-for-bit (including one-shot semantic_dedup_incremental
    when the quantizer matches), within-batch twins surface one batch
    later via accumulation, and a drained rerun changes nothing."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        kmeans_with_centroids,
        semantic_dedup_incremental,
        semantic_dedup_screen,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.embeddings import (
        DEDUP_REPORT,
        EMBEDDING_INDEX,
        SEMANTIC_DEDUP_INGEST,
    )

    def vecs(rows):
        return spark.createDataFrame(
            [(i, [float(x), float(y)]) for i, x, y in rows],
            "vec_id long, embedding array<double>",
        )

    import math

    def at(i, ang):
        return (i, math.cos(ang), math.sin(ang))

    # corpus: 10 directions spread over ~3 rad
    corpus_rows = [at(i, i * 0.3) for i in range(10)]
    # delta1: 5 near-copies of corpus 0..4 (+0.01 rad) and 5 NEW
    # directions (>=4.0 rad — far from every corpus vector)
    delta1_rows = [at(100 + i, i * 0.3 + 0.01) for i in range(5)] + [
        at(105 + i, 4.0 + i * 0.2) for i in range(5)
    ]
    # delta2: near-copies of delta1's NEW directions only — dups that
    # exist solely because the index accumulated delta1
    delta2_rows = [at(200 + i, 4.0 + i * 0.2 + 0.01) for i in range(5)]

    corpus, delta1, delta2 = vecs(corpus_rows), vecs(delta1_rows), vecs(delta2_rows)
    K = 3
    _, cents = kmeans_with_centroids(corpus, k=K)

    in_dir = str(tmp_path / "in")
    idx = str(tmp_path / "index")
    rep = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    def drain():
        drain_files(
            spark, SEMANTIC_DEDUP_INGEST, in_dir, ckpt, cents, idx, rep,
        )

    def rows(df):
        return {tuple(r) for r in df.collect()}

    # batch 0: the corpus itself seeds the index (empty report)
    corpus.coalesce(1).write.mode("append").parquet(in_dir)
    drain()
    assert read_store(spark, DEDUP_REPORT, rep).count() == 0
    idx0 = read_store(spark, EMBEDDING_INDEX, idx).select("vec_id", "embedding", "cell")
    idx0_rows = rows(idx0.select("vec_id", "cell"))

    # batch 1: delta1 — report equals the batch screen AND the one-shot
    # incremental operator trained on the same corpus with the same k
    delta1.coalesce(1).write.mode("append").parquet(in_dir)
    drain()
    got1 = rows(read_store(spark, DEDUP_REPORT, rep).filter(F.col("vec_id") < 200))
    want1 = rows(semantic_dedup_screen(idx0, delta1, cents))
    assert got1 == want1 and len(got1) == 5
    assert got1 == rows(semantic_dedup_incremental(corpus, delta1, k=K))
    # the 5 near-copies matched their corpus twins; the 5 new directions
    # did not
    assert {r[0] for r in got1} == {100 + i for i in range(5)}
    assert all(r[1] < 10 for r in got1)

    # batch 2: delta2 matches ONLY vectors delta1 added — the
    # accumulation contract
    delta2.coalesce(1).write.mode("append").parquet(in_dir)
    drain()
    got2 = rows(read_store(spark, DEDUP_REPORT, rep).filter(F.col("vec_id") >= 200))
    accumulated = read_store(spark, EMBEDDING_INDEX, idx).select(
        "vec_id", "embedding", "cell"
    )
    # the screen the stream ran saw corpus+delta1 (not delta2 itself)
    want2 = rows(
        semantic_dedup_screen(
            accumulated.filter(F.col("vec_id") < 200), delta2, cents
        )
    )
    assert got2 == want2 and len(got2) == 5
    assert all(105 <= r[1] <= 109 for r in got2)

    # drained rerun: reports and index unchanged
    before = rows(read_store(spark, DEDUP_REPORT, rep))
    drain()
    assert rows(read_store(spark, DEDUP_REPORT, rep)) == before
    assert (
        rows(read_store(spark, EMBEDDING_INDEX, idx).select("vec_id", "cell"))
        >= idx0_rows
    )
    assert read_store(spark, EMBEDDING_INDEX, idx).count() == 25

    # an EMPTY centroid table routes nothing: the screen is an empty
    # frame with the normal output columns and types
    empty = semantic_dedup_screen(idx0, delta1, cents.limit(0))
    assert empty.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema] == [
        ("vec_id", "bigint"),
        ("canonical_id", "bigint"),
        ("max_cos", "double"),
    ]


@pytest.mark.slow  # measured heavy in the full --durations run (see pytest.ini)
def test_drift_monitored_ingest_retrains_and_swaps_atomically(spark, tmp_path):
    """The closed drift→retrain loop: a synthetic drifting stream flips
    the cell_drift trigger, the processor retrains on the accumulated
    index and atomically publishes generation 2, post-retrain centroids
    match a from-scratch train on the same data bit-for-bit, and later
    batches route against the new generation."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        assign_to_centroids,
        kmeans_with_centroids,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.embeddings import (
        EMBEDDING_INDEX,
        MONITORED_INGEST,
        MONITOR_STATS,
        current_quantizer_version,
        load_quantizer,
        train_and_save_quantizer,
    )

    def vecs(lo, hi, cx, cy):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.array(
                F.lit(float(cx)) + F.sin(F.col("id")) * 0.1,
                F.lit(float(cy)) + F.cos(F.col("id")) * 0.1,
            ).alias("embedding"),
        )

    corpus = vecs(0, 100, 10, 0).unionByName(vecs(100, 200, 0, 10))
    store = str(tmp_path / "quantizer")
    idx = str(tmp_path / "index")
    stats = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)

    train_and_save_quantizer(corpus, k=2, store_path=store)
    assert current_quantizer_version(store) == 1

    def drain():
        drain_files(
            spark, MONITORED_INGEST, in_dir, ckpt, store, idx, stats,
            drift_threshold_permille=100,
        )

    # seed: the training corpus itself streams in — occupancy matches
    # the baseline, no spurious retrain
    corpus.coalesce(1).write.mode("append").parquet(in_dir)
    drain()
    assert current_quantizer_version(store) == 1

    # drift: a lopsided batch (all near cell A) pushes the accumulated
    # share to ~667/333 vs the 500/500 baseline → trigger fires
    vecs(1000, 1100, 10, 0).coalesce(1).write.mode("append").parquet(in_dir)
    drain()
    assert current_quantizer_version(store) == 2

    # the published generation 2 equals a from-scratch deterministic
    # train on exactly the accumulated index
    new_cents, new_baseline, ver = load_quantizer(spark, store)
    assert ver == 2
    data = read_store(spark, EMBEDDING_INDEX, idx).select("vec_id", "embedding")
    _, want_cents = kmeans_with_centroids(data, k=2)
    got = {(r["cluster"], tuple(r["c"])) for r in new_cents.collect()}
    want = {(r["cluster"], tuple(r["c"])) for r in want_cents.collect()}
    assert got == want

    # REPLAY of the retrain-triggering batch (the crash-after-publish
    # scenario, before any later batch arrives): the processor pins the
    # generation it originally routed with, rewrites byte-identical
    # index/stats, re-runs the retrain on the same index (idempotent
    # overwrite of generation 2), and never publishes a generation 3
    from etl_pipeline_challenge_aladia_spark.streaming.embeddings import (
        make_monitored_ingest_processor,
    )

    before_index = {
        tuple(r)
        for r in read_store(spark, EMBEDDING_INDEX, idx)
        .select("vec_id", "cell")
        .collect()
    }
    proc = make_monitored_ingest_processor(
        store, idx, stats, drift_threshold_permille=100
    )
    proc(vecs(1000, 1100, 10, 0), 1)  # batch_id 1 = the drift batch
    assert current_quantizer_version(store) == 2  # no spurious gen 3
    assert {
        tuple(r)
        for r in read_store(spark, EMBEDDING_INDEX, idx)
        .select("vec_id", "cell")
        .collect()
    } == before_index
    st2 = read_store(spark, MONITOR_STATS, stats)
    assert st2.filter(
        (F.col("batch_id") == 1) & (F.col("quantizer_version") != 1)
    ).count() == 0
    # the replayed retrain rewrote generation 2 identically (re-load:
    # the pre-replay frame's file listing is stale after the rewrite)
    re_cents, _, _ = load_quantizer(spark, store)
    assert {(r["cluster"], tuple(r["c"])) for r in re_cents.collect()} == got
    new_cents = re_cents

    # post-retrain batches route against generation 2; one small probe
    # batch is below the drift-evidence floor, so no churn to gen 3
    vecs(2000, 2020, 0, 10).coalesce(1).write.mode("append").parquet(in_dir)
    drain()
    assert current_quantizer_version(store) == 2
    st = read_store(spark, MONITOR_STATS, stats)
    assert st.filter(F.col("quantizer_version") == 2).count() > 0
    probe_index = read_store(spark, EMBEDDING_INDEX, idx).filter(F.col("vec_id") >= 2000)
    want_route = {
        (r["id"], r["cluster"])
        for r in assign_to_centroids(vecs(2000, 2020, 0, 10), new_cents).collect()
    }
    assert {(r["vec_id"], r["cell"]) for r in probe_index.collect()} == want_route


@pytest.mark.slow  # measured heavy in the full --durations run (see pytest.ini)
def test_rebuild_index_consolidates_onto_current_generation(spark, tmp_path):
    """The offline half of the drift loop: after a retrain, rebuild_index
    routes every stored vector onto the CURRENT generation into one
    consolidated batch, assignments equal the batch operator against the
    new centroids, and the layout is one directory per cell."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        assign_to_centroids,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.embeddings import (
        EMBEDDING_INDEX,
        MONITORED_INGEST,
        load_quantizer,
        rebuild_index,
        train_and_save_quantizer,
    )

    def vecs(lo, hi, cx, cy):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.array(
                F.lit(float(cx)) + F.sin(F.col("id")) * 0.1,
                F.lit(float(cy)) + F.cos(F.col("id")) * 0.1,
            ).alias("embedding"),
        )

    corpus = vecs(0, 100, 10, 0).unionByName(vecs(100, 200, 0, 10))
    store = str(tmp_path / "quantizer")
    idx = str(tmp_path / "index")
    stats = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    train_and_save_quantizer(corpus, k=2, store_path=store)

    corpus.coalesce(1).write.mode("append").parquet(in_dir)
    drain_files(
        spark, MONITORED_INGEST, in_dir, ckpt, store, idx, stats,
        drift_threshold_permille=100,
    )
    # lopsided drift batch -> retrain publishes generation 2
    vecs(1000, 1100, 10, 0).coalesce(1).write.mode("append").parquet(in_dir)
    drain_files(
        spark, MONITORED_INGEST, in_dir, ckpt, store, idx, stats,
        drift_threshold_permille=100,
    )
    new_cents, _, ver = load_quantizer(spark, store)
    assert ver == 2

    out = str(tmp_path / "index_v2")
    n = rebuild_index(spark, idx, store, out)
    assert n == 300
    rebuilt = read_store(spark, EMBEDDING_INDEX, out)
    assert rebuilt.count() == 300
    # the consolidated layout lives in the reserved compacted/ dir (one
    # subdirectory per cell), NEVER a batch=<id> one: a continuing
    # ingest repointed here restarts its fresh checkpoint at batch 0,
    # and a batch=0 layout would let that batch exclude the entire
    # history from its screen and overwrite it on append
    assert [e for e in os.listdir(out) if e.startswith("batch=")] == []
    assert os.path.isdir(os.path.join(out, "compacted"))
    # a fresh-checkpoint batch 0 (strictly_before=0) still sees all of it
    assert read_store(spark, EMBEDDING_INDEX, out, strictly_before=0).count() == 300
    # assignments equal the batch operator against generation 2
    all_vecs = read_store(spark, EMBEDDING_INDEX, idx).select("vec_id", "embedding")
    want = {
        (r["id"], r["cluster"])
        for r in assign_to_centroids(all_vecs, new_cents).collect()
    }
    assert {(r["vec_id"], r["cell"]) for r in rebuilt.collect()} == want


def test_timestamp_as_of_time_travel(spark, tmp_path, monkeypatch):
    """TIMESTAMP AS OF: read_warehouse(as_of=) resolves the newest
    retained snapshot committed at or before the asked time (epoch or
    ISO string); maintenance re-commits (vacuum) never move a snapshot
    in time; asking before the first commit raises with the readable
    list; version= and as_of= are mutually exclusive."""
    import etl_pipeline_challenge_aladia_spark.sinks as sinks
    from pyspark.sql import functions as F

    clock = iter([1000.0, 2000.0, 3000.0, 4000.0, 5000.0, 6000.0])
    monkeypatch.setattr(sinks, "_now", lambda: next(clock))

    path = str(tmp_path / "wh")
    sinks.merge_warehouse_batch(
        spark, _merge_base_frame(spark, n=10), path, num_buckets=4,
        retain_snapshots=3,
    )
    for v, w in ((2, 111), (3, 222)):
        upd = _merge_base_frame(spark, n=10, version=v, watched=w).filter(
            F.col("original_id") == "doc_3"
        )
        sinks.merge_warehouse_batch(spark, upd, path, retain_snapshots=3)

    def doc3(**kw):
        return sinks.read_warehouse(spark, path, **kw).filter(
            F.col("original_id") == "doc_3"
        ).first()["watched_seconds"]

    # creation commit consumed TWO stamps (fresh-table manifest at 1000,
    # merge commit at 2000); updates at 3000 and 4000
    assert doc3(as_of=2500.0) == 30        # v1 (committed 2000)
    assert doc3(as_of=3000.0) == 111       # v2, boundary inclusive
    assert doc3(as_of=9999.0) == 222       # newest
    assert doc3(as_of="1970-01-01T00:41:40Z") == 30   # 2500s epoch -> v1
    with pytest.raises(KeyError, match="at or before"):
        doc3(as_of=500.0)
    with pytest.raises(ValueError, match="not both"):
        sinks.read_warehouse(spark, path, version=1, as_of=1.0)

    # vacuum re-commits the same version: its commit time must not move
    before = sinks._read_manifest(path)["committed_at"]
    sinks.vacuum_warehouse(path, keep_snapshots=1)
    assert sinks._read_manifest(path)["committed_at"] == before
    assert doc3(as_of=9999.0) == 222


def test_required_field_envelopes_quarantine_not_ingest(spark, dirs):
    """Schema-valid-but-unusable messages (valid JSON missing
    document_id / version, or a version that fails type coercion) must
    QUARANTINE with the original text preserved — the reference crashes
    and requeues these forever; silently ingesting them would collapse
    all NULL-keyed rows onto one dedup group. After a producer fix the
    standard replay recovers them."""
    import glob as _glob

    from etl_pipeline_challenge_aladia_spark.streaming.pipeline import (
        replay_quarantine,
    )

    no_id = json.loads(envelope("insert", "doc_x", 1))
    del no_id["document_id"]
    bad_ver = json.loads(envelope("insert", "doc_y", 1))
    bad_ver["version"] = "not-a-number"
    write_lines(
        os.path.join(dirs["in"], "b1.json"),
        [json.dumps(no_id), json.dumps(bad_ver),
         envelope("insert", "doc_ok", 1, watched=5)],
    )
    run_cdc_file_stream(
        spark, dirs["in"], dirs["wh"], dirs["ckpt"], dirs["quar"]
    )
    assert set(state(spark, dirs["wh"])) == {("doc_ok", "video_1", "session_1")}
    quar = spark.read.json(dirs["quar"])
    assert quar.count() == 2
    raws = {r["raw"] for r in quar.collect()}
    assert json.dumps(no_id) in raws  # original text retained, replayable

    # producer fix: re-point the quarantine at corrected messages; the
    # standard replay path ingests them
    import shutil

    shutil.rmtree(dirs["quar"])
    write_lines(
        os.path.join(dirs["quar"], "fixed.json"),
        [json.dumps({"raw": envelope("insert", "doc_x", 1, watched=7),
                     "quarantined_at": "t"}),
         json.dumps({"raw": envelope("insert", "doc_y", 1, watched=8),
                     "quarantined_at": "t"})],
    )
    assert replay_quarantine(spark, dirs["quar"], dirs["wh"]) == (2, 0)
    s = state(spark, dirs["wh"])
    assert s[("doc_x", "video_1", "session_1")] == (7, 1)
    assert s[("doc_y", "video_1", "session_1")] == (8, 1)


def test_budget_admission_stream_single_batch_equals_batch_operator(spark, tmp_path):
    """A one-batch stream through the token-budget gate admits EXACTLY
    the rows the batch operator selects (same hash-priority order, same
    integer budget arithmetic)."""
    from etl_pipeline_challenge_aladia_spark.operators.sampling import (
        token_budget_sample,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        BUDGET_ADMISSION_INGEST,
    )

    rows = [
        {"doc_id": i, "source": f"s{i % 2}", "text": " ".join(["w"] * (5 + i % 4))}
        for i in range(30)
    ]
    in_dir = str(tmp_path / "in"); os.makedirs(in_dir)
    with open(os.path.join(in_dir, "b1.jsonl"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows) + "\n")
    admitted = str(tmp_path / "admitted")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    drain_files(
        spark, BUDGET_ADMISSION_INGEST, in_dir, ckpt, admitted, state,
        budget=40,
    )

    got = {r["doc_id"] for r in spark.read.parquet(admitted).collect()}
    docs = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["text"]) for r in rows],
        "doc_id long, source string, text string",
    )
    want = {
        r["doc_id"]
        for r in token_budget_sample(docs, "source", 40, "doc_id").collect()
    }
    assert got == want and got


def test_budget_admission_stream_budget_persists_across_batches(spark, tmp_path):
    """The budget is a PERSISTENT per-source state: tokens admitted in
    batch 1 reduce what batch 2 may admit, later arrivals past the limit
    are dropped, and per-source admitted totals never exceed the budget.
    A drained rerun (replay with no new input) changes nothing."""
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        BUDGET_ADMISSION_INGEST,
    )

    in_dir = str(tmp_path / "in"); os.makedirs(in_dir)
    admitted = str(tmp_path / "admitted")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, ids):
        rows = [
            {"doc_id": i, "source": "s", "text": " ".join(["w"] * 10)}
            for i in ids
        ]
        with open(os.path.join(in_dir, name), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")

    # budget 45 tokens; each doc is 10 -> 4 docs max, ever
    write_batch("b1.jsonl", range(3))       # admits all 3 (30 <= 45)
    drain_files(
        spark, BUDGET_ADMISSION_INGEST, in_dir, ckpt, admitted, state,
        budget=45,
    )
    assert spark.read.parquet(admitted).count() == 3

    write_batch("b2.jsonl", range(10, 16))  # only 1 more fits (40 <= 45)
    drain_files(
        spark, BUDGET_ADMISSION_INGEST, in_dir, ckpt, admitted, state,
        budget=45,
    )
    out = spark.read.parquet(admitted)
    assert out.count() == 4
    assert sum(r["n_tokens"] for r in out.collect()) == 40

    write_batch("b3.jsonl", range(20, 25))  # budget spent: nothing admitted
    drain_files(
        spark, BUDGET_ADMISSION_INGEST, in_dir, ckpt, admitted, state,
        budget=45,
    )
    assert spark.read.parquet(admitted).count() == 4
    # drained replay: no new input, outputs unchanged
    drain_files(
        spark, BUDGET_ADMISSION_INGEST, in_dir, ckpt, admitted, state,
        budget=45,
    )
    assert spark.read.parquet(admitted).count() == 4


def test_text_drift_loop_rebaselines_on_distribution_shift(spark, tmp_path):
    """The text drift->rebaseline loop: same-distribution batches leave
    the baseline generation alone; a shifted token distribution (past
    the evidence gate) flips the trigger and publishes generation 2,
    whose baseline equals a from-scratch derivation over the accumulated
    ingest. A drained replay changes nothing."""
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        TEXT_DRIFT_DOCS,
        TEXT_DRIFT_INGEST,
        _text_vocab_counts,
        load_text_baseline,
        train_and_save_text_baseline,
    )

    in_dir = str(tmp_path / "in"); os.makedirs(in_dir)
    store = str(tmp_path / "store")
    ingest = str(tmp_path / "ingest")
    stats = str(tmp_path / "stats")
    ckpt = str(tmp_path / "ckpt")

    base_text = "alpha beta gamma alpha beta alpha"       # alpha-heavy
    drift_text = "omega omega omega omega zeta zeta"      # disjoint vocab
    corpus = spark.createDataFrame(
        [(i, "s", base_text) for i in range(10)],
        "doc_id long, source string, text string",
    )
    train_and_save_text_baseline(corpus, store, vocab_size=5)
    assert load_text_baseline(spark, store)[1] == 1

    def write_batch(name, ids, text):
        rows = [{"doc_id": i, "source": "s", "text": text} for i in ids]
        with open(os.path.join(in_dir, name), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")

    def run():
        drain_files(
            spark, TEXT_DRIFT_INGEST, in_dir, ckpt, store, ingest, stats,
            drift_threshold_permille=100, min_evidence_permille=200,
            vocab_size=5,
        )

    # same distribution, well past the evidence gate: no rebaseline
    write_batch("b1.jsonl", range(100, 108), base_text)
    run()
    assert load_text_baseline(spark, store)[1] == 1

    # shifted distribution: alpha's share collapses -> generation 2
    write_batch("b2.jsonl", range(200, 216), drift_text)
    run()
    assert load_text_baseline(spark, store)[1] == 2

    # the published generation equals a from-scratch derivation over the
    # accumulated ingest store
    docs = read_store(spark, TEXT_DRIFT_DOCS, ingest)
    want = {
        (r["term"], r["n_occ"])
        for r in _text_vocab_counts(docs, 5).collect()
    }
    got = {
        (r["term"], r["n_occ"])
        for r in load_text_baseline(spark, store)[0].collect()
    }
    assert got == want

    # drained replay: no new input, generation unchanged
    run()
    assert load_text_baseline(spark, store)[1] == 2


@pytest.mark.slow  # measured heavy in the full --durations run (see pytest.ini)
def test_streaming_curation_composes_quality_budget_and_dedup(spark, tmp_path):
    """The composed streaming curation ingest, in the batch pipeline's
    gate order: low-quality docs never reach the screen, a near-dup of
    an earlier ADMITTED doc is both reported and dropped BEFORE budget
    accounting (duplicates never consume budget), the token budget
    persists across batches, and a drained replay changes nothing."""
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        CURATION_INGEST,
    )

    in_dir = str(tmp_path / "in"); os.makedirs(in_dir)
    admitted = str(tmp_path / "admitted")
    budget_state = str(tmp_path / "bstate")
    sig_store = str(tmp_path / "sigs")
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")

    # rich text passes the quality gate; "the the ..." fails it
    rich = " ".join(f"tok{i}" for i in range(40))          # quality 1.0
    junk = " ".join(["the"] * 40)                          # quality ~0
    near_dup = rich + " extra"

    def write_batch(name, rows):
        with open(os.path.join(in_dir, name), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")

    def run():
        drain_files(
            spark, CURATION_INGEST, in_dir, ckpt, admitted, budget_state,
            sig_store, report, budget=200, quality_min=0.5, threshold=0.8,
        )

    write_batch("b1.jsonl", [
        {"doc_id": 1, "source": "s", "text": rich},
        {"doc_id": 2, "source": "s", "text": junk},       # quality-rejected
    ])
    run()
    got1 = {r["doc_id"] for r in spark.read.parquet(admitted).collect()}
    assert got1 == {1}

    write_batch("b2.jsonl", [
        {"doc_id": 10, "source": "s", "text": near_dup},  # near-dup of doc 1
    ])
    run()
    # the near-dup is REPORTED and dropped before admission: it consumes
    # no budget and its signatures never enter the store (doc 1 stays
    # the representative)
    assert {r["doc_id"] for r in spark.read.parquet(admitted).collect()} == {1}
    pairs = {
        (r["delta_id"], r["corpus_id"])
        for r in spark.read.parquet(report).collect()
    }
    assert pairs == {(10, 1)}
    consumed = sum(
        r["tokens_admitted"] for r in spark.read.parquet(budget_state).collect()
    )
    assert consumed == 40  # doc 1 only — the dup never spent budget

    # batch 3: a doc bigger than the remaining budget is dropped (prefix
    # admission — the cum including it exceeds the budget)...
    write_batch("b3.jsonl", [
        {"doc_id": 20, "source": "s",
         "text": " ".join(f"other{i}" for i in range(200))},
    ])
    run()
    assert {r["doc_id"] for r in spark.read.parquet(admitted).collect()} == {1}

    # ...while a later doc that fits is still admitted
    write_batch("b4.jsonl", [
        {"doc_id": 30, "source": "s",
         "text": " ".join(f"fresh{i}" for i in range(100))},
    ])
    run()
    assert {r["doc_id"] for r in spark.read.parquet(admitted).collect()} == {1, 30}

    run()  # drained replay
    assert {r["doc_id"] for r in spark.read.parquet(admitted).collect()} == {1, 30}


def test_streaming_curation_one_shot_run_still_screens_across_files(spark, tmp_path):
    """A SINGLE drain over a directory that already holds several files
    must still catch cross-file near-dups: maxFilesPerTrigger=1 makes
    each file its own micro-batch, so later files screen against earlier
    files' signatures (an all-files mega-batch would screen against an
    empty store and report nothing)."""
    import time

    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        CURATION_INGEST,
    )

    in_dir = str(tmp_path / "in"); os.makedirs(in_dir)
    rich = " ".join(f"tok{i}" for i in range(40))
    for name, doc_id, text in [
        ("a1.jsonl", 1, rich),
        ("a2.jsonl", 10, rich + " extra"),
    ]:
        with open(os.path.join(in_dir, name), "w") as f:
            f.write(json.dumps({"doc_id": doc_id, "source": "s", "text": text}) + "\n")
        time.sleep(0.05)  # distinct mtimes -> deterministic file order

    drain_files(
        spark, CURATION_INGEST, in_dir, str(tmp_path / "ckpt"),
        str(tmp_path / "admitted"), str(tmp_path / "bstate"),
        str(tmp_path / "sigs"), str(tmp_path / "report"), budget=500,
        quality_min=0.5,
    )
    pairs = {
        (r["delta_id"], r["corpus_id"])
        for r in spark.read.parquet(str(tmp_path / "report")).collect()
    }
    assert pairs == {(10, 1)}
    got = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "admitted")).collect()}
    assert got == {1}


def test_streaming_curation_drops_same_batch_near_duplicates(spark, tmp_path):
    """Two identical documents in ONE micro-batch: the store screen
    cannot pair them (neither is stored yet), so the batch pipeline's
    own legs run over the batch — each near-dup component keeps its
    minimum doc_id, and the other document is reported against it and
    dropped before it spends budget or enters the signature store."""
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        BUDGET_DOC_STREAM_SCHEMA,
        NEAR_DUP_REPORT,
        SIGNATURE_SHINGLES,
        make_streaming_curation_processor,
    )

    rich = " ".join(f"tok{i}" for i in range(40))
    admitted, sigs, report = (
        str(tmp_path / d) for d in ("admitted", "sigs", "report")
    )
    proc = make_streaming_curation_processor(
        admitted, str(tmp_path / "bstate"), sigs, report, budget=1000,
        quality_min=0.5,
    )
    proc(
        spark.createDataFrame(
            [(2, "s", rich), (1, "s", rich)], BUDGET_DOC_STREAM_SCHEMA
        ),
        0,
    )
    assert [r["doc_id"] for r in spark.read.parquet(admitted).collect()] == [1]
    assert [
        tuple(r) for r in read_store(spark, NEAR_DUP_REPORT, report).collect()
    ] == [(2, 1, 1.0)]
    stored = read_store(
        spark, SIGNATURE_SHINGLES, os.path.join(sigs, "shingles")
    )
    assert [r["id"] for r in stored.collect()] == [1]


def test_text_drift_replay_pins_original_generation(spark, tmp_path):
    """A checkpoint-REPLAYED batch must re-count against the generation
    it originally used, even after a newer baseline was published —
    otherwise the replay rewrites its stats under the new generation and
    the drift evaluation diverges from the first run. Simulated by
    invoking the processor closure directly with the same batch_id after
    publishing generation 2."""
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        make_text_drift_ingest_processor,
        save_text_baseline,
        train_and_save_text_baseline,
    )

    store = str(tmp_path / "store")
    ingest = str(tmp_path / "ingest")
    stats = str(tmp_path / "stats")

    corpus = spark.createDataFrame(
        [(i, "s", "alpha beta alpha beta gamma") for i in range(5)],
        "doc_id long, source string, text string",
    )
    train_and_save_text_baseline(corpus, store, vocab_size=3)
    proc = make_text_drift_ingest_processor(
        store, ingest, stats, drift_threshold_permille=10_000, vocab_size=3
    )
    delta = spark.createDataFrame(
        [(100, "s", "alpha gamma gamma zeta")],
        "doc_id long, source string, text string",
    )
    proc(delta, 0)
    first = sorted(
        (r["term"], r["n_occ"], r["baseline_version"])
        for r in spark.read.parquet(os.path.join(stats, "batch=0")).collect()
    )
    assert all(v == 1 for _, _, v in first)

    # a newer generation with a DIFFERENT tracked vocabulary appears
    v2 = spark.createDataFrame(
        [("zeta", 10), ("omega", 5), ("<TOTAL>", 15)], "term string, n_occ long"
    )
    save_text_baseline(v2, store, version=2)

    proc(delta, 0)  # replay of batch 0
    replayed = sorted(
        (r["term"], r["n_occ"], r["baseline_version"])
        for r in spark.read.parquet(os.path.join(stats, "batch=0")).collect()
    )
    assert replayed == first  # pinned to generation 1, byte-identical


def test_embedding_monitored_ingest_replay_pins_original_generation(spark, tmp_path):
    """Same pinning contract as the text loop, for the embedding
    monitored ingest: replaying a batch after a newer quantizer
    generation was published must re-route with the ORIGINAL generation
    — stats and index rewrites byte-identical to the first run."""
    from etl_pipeline_challenge_aladia_spark.streaming.embeddings import (
        make_monitored_ingest_processor,
        save_quantizer,
        train_and_save_quantizer,
    )

    store = str(tmp_path / "store")
    index = str(tmp_path / "index")
    stats = str(tmp_path / "stats")

    base = spark.createDataFrame(
        [(i, [float(i % 2), 1.0 - (i % 2)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    train_and_save_quantizer(base, k=2, store_path=store)
    proc = make_monitored_ingest_processor(
        store, index, stats, drift_threshold_permille=10_000
    )
    delta = spark.createDataFrame(
        [(100, [0.9, 0.1]), (101, [0.1, 0.9])],
        "vec_id long, embedding array<double>",
    )
    proc(delta, 0)
    first = sorted(
        (r["cell"], r["n_vecs"], r["sum_dist_fx"], r["quantizer_version"])
        for r in spark.read.parquet(os.path.join(stats, "batch=0")).collect()
    )
    assert all(row[3] == 1 for row in first)

    # publish a DIFFERENT generation-2 quantizer (swapped centroids)
    cents2 = spark.createDataFrame(
        [(1, [0.5, 0.5]), (2, [0.0, 0.0])], "cluster int, c array<double>"
    )
    base2 = spark.createDataFrame([(1, 4), (2, 4)], "cell int, n_train long")
    save_quantizer(cents2, base2, store, version=2)

    proc(delta, 0)  # replay of batch 0
    replayed = sorted(
        (r["cell"], r["n_vecs"], r["sum_dist_fx"], r["quantizer_version"])
        for r in spark.read.parquet(os.path.join(stats, "batch=0")).collect()
    )
    assert replayed == first  # pinned to generation 1


def _compact_signature_store(spark, store, out):
    """Compact both halves of a signature store (band index, shingle
    sets) to ``out``; returns the stored document count."""
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        SIGNATURE_BANDS,
        SIGNATURE_SHINGLES,
    )

    compact_store(
        spark, SIGNATURE_BANDS, os.path.join(store, "bands"),
        os.path.join(out, "bands"),
    )
    return compact_store(
        spark, SIGNATURE_SHINGLES, os.path.join(store, "shingles"),
        os.path.join(out, "shingles"),
    )


@pytest.mark.slow  # measured heavy in the full --durations run (see pytest.ini)
def test_compact_signature_store_preserves_screening(spark, tmp_path):
    """Compacting a multi-batch signature store into one batch=0 layout
    preserves screening semantics exactly: the same delta screened
    against the compacted store yields the identical near-dup report,
    and the stored document count is unchanged."""
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        _screen_against_store,
        make_sigstore_ingest_processor,
    )

    store = str(tmp_path / "store")
    out = str(tmp_path / "compacted")
    report = str(tmp_path / "report")
    rich = " ".join(f"tok{i}" for i in range(40))
    proc = make_sigstore_ingest_processor(store, report)
    proc(
        spark.createDataFrame([(1, rich)], "doc_id long, text string"), 0
    )
    proc(
        spark.createDataFrame(
            [(2, " ".join(f"other{i}" for i in range(40)))],
            "doc_id long, text string",
        ),
        1,
    )
    n = _compact_signature_store(spark, store, out)
    assert n == 2
    delta = spark.createDataFrame(
        [(100, rich + " extra")], "doc_id long, text string"
    )
    # screen the same delta against original vs compacted store
    # (batch_id 99: excludes nothing that exists in either layout)
    orig = {
        (r["delta_id"], r["corpus_id"])
        for r in _screen_against_store(spark, store, delta, 99).collect()
    }
    compacted = {
        (r["delta_id"], r["corpus_id"])
        for r in _screen_against_store(spark, out, delta, 99).collect()
    }
    assert orig == compacted == {(100, 1)}


@pytest.mark.slow  # measured heavy in the full --durations run (see pytest.ini)
def test_compacted_store_survives_fresh_checkpoint_batch0(spark, tmp_path):
    """The collision class compaction must never reintroduce: a
    CONTINUING ingest pointed at a compacted store starts a fresh
    checkpoint whose first micro-batch id is 0. Because the
    consolidated history lives in the reserved ``compacted/`` directory
    (not ``batch=0``), that first batch still screens against the full
    history (strictly_before=0 prunes live batches only), its append cannot
    overwrite the history, and a replay of it self-excludes only its
    own directory (no self-match drop)."""
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        NEAR_DUP_REPORT,
        SIGNATURE_SHINGLES,
        make_sigstore_ingest_processor,
    )

    store = str(tmp_path / "store")
    out = str(tmp_path / "compacted")
    rich = " ".join(f"tok{i}" for i in range(40))
    proc = make_sigstore_ingest_processor(store, str(tmp_path / "report1"))
    proc(spark.createDataFrame([(1, rich)], "doc_id long, text string"), 0)
    proc(
        spark.createDataFrame(
            [(2, " ".join(f"other{i}" for i in range(40)))],
            "doc_id long, text string",
        ),
        1,
    )
    assert _compact_signature_store(spark, store, out) == 2

    report2 = str(tmp_path / "report2")
    delta = spark.createDataFrame(
        [(100, rich + " extra")], "doc_id long, text string"
    )
    proc2 = make_sigstore_ingest_processor(out, report2)
    proc2(delta, 0)  # fresh checkpoint: batch id restarts at 0
    hits = {
        (r["delta_id"], r["corpus_id"])
        for r in read_store(spark, NEAR_DUP_REPORT, report2).collect()
    }
    assert hits == {(100, 1)}  # compacted history screened, not excluded
    stored = read_store(
        spark, SIGNATURE_SHINGLES, os.path.join(out, "shingles")
    )
    assert {r["id"] for r in stored.collect()} == {1, 2, 100}  # nothing clobbered
    proc2(delta, 0)  # replay: own batch=0 excluded, compacted/ still read
    hits2 = {
        (r["delta_id"], r["corpus_id"])
        for r in read_store(spark, NEAR_DUP_REPORT, report2).collect()
    }
    assert hits2 == hits  # no (100, 100) self-match, history report intact
    # and re-compaction composes: compacted layer + new batch fold together
    out2 = str(tmp_path / "compacted2")
    assert _compact_signature_store(spark, out, out2) == 3


def test_text_drift_report_integer_exact_shares(spark):
    """Permille shares are integer `div`, not double-division floor —
    the exactness convention every drift trigger in the engine follows
    (double quotients can round just below an integer at exact-multiple
    boundaries and go inexact past 2^53)."""
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        TOTAL_SENTINEL,
        text_drift_report,
    )

    base = spark.createDataFrame(
        [(TOTAL_SENTINEL, 8), ("a", 2), ("b", 6)], "term string, n_occ long"
    )
    ing = spark.createDataFrame(
        [(TOTAL_SENTINEL, 3), ("a", 1)], "term string, n_occ long"
    )
    rep = text_drift_report(base, ing)
    vals = {r["term"]: r["drift_permille"] for r in rep.collect()}
    assert vals["a"] == 1000 // 3 - 250  # 333 - 250
    assert vals["b"] == -750  # never ingested: negative baseline share
    plan = rep._jdf.queryExecution().optimizedPlan().toString()
    assert "floor" not in plan.lower() and " div " in plan.lower()


def test_segment_store_ingest_matches_recompute_replay_and_compaction(
    spark, tmp_path
):
    """The segment-fingerprint store ingest (paragraph-level twin of the
    sigstore ingest): batch 2's report equals the batch recompute
    operator bit-for-bit, a drained rerun and a directly-replayed
    micro-batch change nothing, and a compacted store pointed at by a
    FRESH checkpoint still screens batch 0 against the full history."""
    from etl_pipeline_challenge_aladia_spark.operators.text import (
        segment_dedup_from_store,
        segment_fingerprint_store,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        SEGMENT_REPORT,
        SEGMENT_STORE,
        SEGMENT_STORE_INGEST,
        make_segment_store_ingest_processor,
    )

    in_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    seg_a = " ".join(f"a{i}" for i in range(8))
    seg_b = " ".join(f"b{i}" for i in range(8))
    seg_z = " ".join(f"z{i}" for i in range(8))

    def write_batch(name, rows):
        with open(os.path.join(in_dir, name), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")

    b1 = [
        {"doc_id": 1, "source": "s1", "text": seg_a + " " + seg_b},
        {"doc_id": 2, "source": "s2", "text": seg_z},
    ]
    b2 = [
        {"doc_id": 10, "source": "s1", "text": seg_a + " " + " ".join(
            f"n{i}" for i in range(8))},
        {"doc_id": 11, "source": "s2", "text": " ".join(
            f"m{i}" for i in range(8))},
    ]

    write_batch("b1.jsonl", b1)
    drain_files(spark, SEGMENT_STORE_INGEST, in_dir, ckpt, store, report)
    r0 = read_store(spark, SEGMENT_REPORT, report).collect()
    assert {r["source"]: r["n_removed_segments"] for r in r0} == {
        "s1": 0,
        "s2": 0,
    }  # empty store: nothing removed

    write_batch("b2.jsonl", b2)
    drain_files(spark, SEGMENT_STORE_INGEST, in_dir, ckpt, store, report)
    got = {
        tuple(r)
        for r in read_store(spark, SEGMENT_REPORT, report)
        .filter("batch_id = 1")
        .drop("batch_id")
        .collect()
    }
    # bit-for-bit the batch recompute: b2 screened against b1's store
    b1_df = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["text"]) for r in b1],
        "doc_id long, source string, text string",
    )
    b2_df = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["text"]) for r in b2],
        "doc_id long, source string, text string",
    )
    want = {
        tuple(r)
        for r in segment_dedup_from_store(
            segment_fingerprint_store(b1_df), b2_df
        ).collect()
    }
    assert got == want
    # the planted dup: doc 10's first segment (seg_a) already stored
    by_src = {r[0]: r for r in got}
    assert by_src["s1"][3] == 1 and by_src["s1"][4] == 8  # 1 seg, 8 tokens
    assert by_src["s2"][3] == 0

    # drained rerun: no new files -> nothing changes
    before = {tuple(r) for r in read_store(spark, SEGMENT_REPORT, report).collect()}
    drain_files(spark, SEGMENT_STORE_INGEST, in_dir, ckpt, store, report)
    after = {tuple(r) for r in read_store(spark, SEGMENT_REPORT, report).collect()}
    assert after == before

    # direct micro-batch replay (crash-after-write): same batch_id,
    # same input -> identical report and store
    make_segment_store_ingest_processor(store, report)(b2_df, 1)
    replayed = {
        tuple(r) for r in read_store(spark, SEGMENT_REPORT, report).collect()
    }
    assert replayed == before

    # compaction: fresh checkpoint restarts at batch 0; the compacted
    # history must still screen it (batch-0 collision safety)
    store2 = str(tmp_path / "store2")
    n = compact_store(spark, SEGMENT_STORE, store, store2)
    assert n == spark.read.parquet(store).select("seg").distinct().count()
    assert n == 5  # seg_a stored by both batches collapses to one row
    ckpt2 = str(tmp_path / "ckpt2")
    report2 = str(tmp_path / "report2")
    in2 = str(tmp_path / "in2")
    os.makedirs(in2)
    with open(os.path.join(in2, "b3.jsonl"), "w") as f:
        f.write(json.dumps(
            {"doc_id": 20, "source": "s1", "text": seg_z}) + "\n")
    drain_files(spark, SEGMENT_STORE_INGEST, in2, ckpt2, store2, report2)
    r3 = read_store(spark, SEGMENT_REPORT, report2).collect()
    assert len(r3) == 1 and r3[0]["n_removed_segments"] == 1  # seg_z stored


def test_countmin_ingest_reports_history_replay_and_compaction(
    spark, tmp_path
):
    """The streaming count-min store (frequency twin of the signature/
    segment stores): batch 1's report carries batch 0's EXACT counts
    as historical estimates (no collisions at width 256 on a tiny
    vocab), point queries over the store sum the whole history, a
    drained rerun and a directly-replayed micro-batch change nothing,
    and a compacted store pointed at by a fresh checkpoint still
    answers with the full history inside its hard depth*width bound."""
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        COUNTMIN_INGEST,
        COUNTMIN_REPORT,
        COUNTMIN_STORE,
        countmin_estimate_from_store,
        make_countmin_ingest_processor,
    )

    in_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    def write_batch(name, rows):
        with open(os.path.join(in_dir, name), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")

    write_batch(
        "b1.jsonl",
        [
            {"doc_id": 1, "text": "alpha alpha alpha beta"},
            {"doc_id": 2, "text": "gamma"},
        ],
    )
    drain_files(spark, COUNTMIN_INGEST, in_dir, ckpt, store, report)
    r0 = {
        r["tok"]: (r["batch_n"], r["hist_estimate"])
        for r in read_store(spark, COUNTMIN_REPORT, report).collect()
    }
    assert r0 == {"alpha": (3, 0), "beta": (1, 0), "gamma": (1, 0)}

    write_batch(
        "b2.jsonl", [{"doc_id": 10, "text": "alpha beta beta delta"}]
    )
    drain_files(spark, COUNTMIN_INGEST, in_dir, ckpt, store, report)
    r1 = {
        r["tok"]: (r["batch_n"], r["hist_estimate"])
        for r in read_store(spark, COUNTMIN_REPORT, report)
        .filter("batch_id = 1")
        .collect()
    }
    # historical estimates == batch 0's exact counts (delta unseen -> 0)
    assert r1 == {"alpha": (1, 3), "beta": (2, 1), "delta": (1, 0)}

    toks = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",), ("delta",), ("omega",)],
        "tok string",
    )
    est = {
        r["tok"]: r["cm_estimate"]
        for r in countmin_estimate_from_store(spark, store, toks).collect()
    }
    assert est == {"alpha": 4, "beta": 3, "gamma": 1, "delta": 1, "omega": 0}

    # drained rerun: nothing changes
    before = {
        tuple(r) for r in read_store(spark, COUNTMIN_REPORT, report).collect()
    }
    drain_files(spark, COUNTMIN_INGEST, in_dir, ckpt, store, report)
    assert {
        tuple(r) for r in read_store(spark, COUNTMIN_REPORT, report).collect()
    } == before

    # direct micro-batch replay (crash-after-write): idempotent
    b2_df = spark.createDataFrame(
        [(10, "alpha beta beta delta")], "doc_id long, text string"
    )
    make_countmin_ingest_processor(store, report)(b2_df, 1)
    assert {
        tuple(r) for r in read_store(spark, COUNTMIN_REPORT, report).collect()
    } == before
    est2 = {
        r["tok"]: r["cm_estimate"]
        for r in countmin_estimate_from_store(spark, store, toks).collect()
    }
    assert est2 == est

    # compaction: hard depth*width bound, full history preserved,
    # fresh-checkpoint batch-0 safety
    store2 = str(tmp_path / "store2")
    n_cells = compact_store(spark, COUNTMIN_STORE, store, store2)
    assert n_cells <= 4 * 256
    est3 = {
        r["tok"]: r["cm_estimate"]
        for r in countmin_estimate_from_store(spark, store2, toks).collect()
    }
    assert est3 == est
    in2 = str(tmp_path / "in2")
    os.makedirs(in2)
    with open(os.path.join(in2, "b3.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 20, "text": "alpha omega"}) + "\n")
    report2 = str(tmp_path / "report2")
    ckpt2 = str(tmp_path / "ckpt2")
    drain_files(spark, COUNTMIN_INGEST, in2, ckpt2, store2, report2)
    r3 = {
        r["tok"]: (r["batch_n"], r["hist_estimate"])
        for r in read_store(spark, COUNTMIN_REPORT, report2).collect()
    }
    assert r3 == {"alpha": (1, 4), "omega": (1, 0)}


@pytest.mark.slow  # measured heavy in the full --durations run (see pytest.ini)
def test_cdc_chunk_ingest_insertion_shift_replay_and_compaction(
    spark, tmp_path
):
    """The CDC-chunk store ingest (insertion-robust sibling of the
    segment ingest): batch 1's report equals the batch operator
    bit-for-bit on the same split; a re-ingest of an earlier document
    with a PREPENDED token is still screened (content-anchored
    boundaries — the case fixed-width segment screening misses by
    construction); drained reruns and direct micro-batch replays change
    nothing; a compacted store pointed at by a fresh checkpoint still
    screens batch 0."""
    from etl_pipeline_challenge_aladia_spark.operators.text import (
        cdc_chunk_dedup_from_store,
        cdc_chunk_store,
        segment_dedup_from_store,
        segment_fingerprint_store,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        CDC_CHUNK_INGEST,
        CDC_CHUNK_REPORT,
        CDC_CHUNK_STORE,
        make_cdc_chunk_ingest_processor,
    )

    in_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    big = " ".join(f"w{i}" for i in range(120))
    other = " ".join(f"q{i}" for i in range(40))

    def write_batch(name, rows):
        with open(os.path.join(in_dir, name), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")

    b1 = [
        {"doc_id": 1, "source": "s1", "text": big},
        {"doc_id": 2, "source": "s2", "text": other},
    ]
    # doc 10 re-ingests doc 1's text with ONE prepended token
    b2 = [
        {"doc_id": 10, "source": "s1", "text": "intro " + big},
        {"doc_id": 11, "source": "s2", "text": " ".join(
            f"f{i}" for i in range(40))},
    ]
    write_batch("b1.jsonl", b1)
    drain_files(spark, CDC_CHUNK_INGEST, in_dir, ckpt, store, report)
    r0 = read_store(spark, CDC_CHUNK_REPORT, report).collect()
    assert {r["source"]: r["n_removed_chunks"] for r in r0} == {
        "s1": 0,
        "s2": 0,
    }  # empty store: nothing removed

    write_batch("b2.jsonl", b2)
    drain_files(spark, CDC_CHUNK_INGEST, in_dir, ckpt, store, report)
    got = {
        tuple(r)
        for r in read_store(spark, CDC_CHUNK_REPORT, report)
        .filter("batch_id = 1")
        .drop("batch_id")
        .collect()
    }
    b1_df = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["text"]) for r in b1],
        "doc_id long, source string, text string",
    )
    b2_df = spark.createDataFrame(
        [(r["doc_id"], r["source"], r["text"]) for r in b2],
        "doc_id long, source string, text string",
    )
    want = {
        tuple(r)
        for r in cdc_chunk_dedup_from_store(
            cdc_chunk_store(b1_df), b2_df
        ).collect()
    }
    assert got == want  # bit-for-bit the batch operator
    # insertion robustness: CDC screening strips most of doc 10's
    # tokens, while fixed-width segment screening of the SAME pair
    # strips strictly fewer (the prepended token re-frames every
    # 8-token segment)
    cdc_s1 = {r[0]: r for r in got}["s1"]
    seg_s1 = {
        r["source"]: r
        for r in segment_dedup_from_store(
            segment_fingerprint_store(b1_df), b2_df
        ).collect()
    }["s1"]
    assert cdc_s1[4] > 0  # tokens_removed
    assert cdc_s1[4] > seg_s1["tokens_removed"]

    # drained rerun: no new files -> nothing changes
    before = {
        tuple(r) for r in read_store(spark, CDC_CHUNK_REPORT, report).collect()
    }
    drain_files(spark, CDC_CHUNK_INGEST, in_dir, ckpt, store, report)
    after = {
        tuple(r) for r in read_store(spark, CDC_CHUNK_REPORT, report).collect()
    }
    assert after == before

    # direct micro-batch replay (crash-after-write)
    make_cdc_chunk_ingest_processor(store, report)(b2_df, 1)
    replayed = {
        tuple(r) for r in read_store(spark, CDC_CHUNK_REPORT, report).collect()
    }
    assert replayed == before

    # compaction + fresh checkpoint: batch 0 still screened against the
    # consolidated history (batch-0 collision safety)
    store2 = str(tmp_path / "store2")
    n = compact_store(spark, CDC_CHUNK_STORE, store, store2)
    assert n == spark.read.parquet(store).select("chunk").distinct().count()
    ckpt2 = str(tmp_path / "ckpt2")
    report2 = str(tmp_path / "report2")
    in2 = str(tmp_path / "in2")
    os.makedirs(in2)
    with open(os.path.join(in2, "b3.jsonl"), "w") as f:
        f.write(json.dumps(
            {"doc_id": 20, "source": "s1", "text": big}) + "\n")
    drain_files(spark, CDC_CHUNK_INGEST, in2, ckpt2, store2, report2)
    r3 = read_store(spark, CDC_CHUNK_REPORT, report2).collect()
    assert len(r3) == 1 and r3[0]["n_removed_chunks"] > 0
    assert r3[0]["tokens_kept"] == 0  # exact re-ingest: everything stored
