"""Incremental materialized-view maintenance tests: dirty-group refresh
equals full rebuild under updates, inserts, erasures, and vacuumed-history
fallback."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.sinks import (
    erase_warehouse_keys,
    merge_warehouse_batch,
    read_warehouse,
    vacuum_warehouse,
)
from etl_pipeline_challenge_aladia_spark.views import (
    build_video_stats_view,
    read_view,
    refresh_video_stats_view,
    video_stats,
)


def _rows(spark, ids, version=1, watched=None, video=None):
    w = (F.col("id") * 7 % 50 + 1) if watched is None else F.lit(watched)
    v = (
        F.concat(F.lit("video_"), (F.col("id") % 5))
        if video is None
        else F.lit(video)
    )
    return (
        spark.range(len(ids))
        .withColumn("id", F.col("id") + F.lit(min(ids)))
        .select(
            F.concat(F.lit("doc_"), F.col("id")).alias("original_id"),
            v.alias("video_id"),
            F.lit("s").alias("session_id"),
            w.cast("long").alias("watched_seconds"),
            (w.cast("double") / 100.0).alias("watched_ratio"),
            F.lit(version).cast("long").alias("version"),
            F.lit("2024-01-01 10:00:00").cast("timestamp").alias(
                "original_timestamp"
            ),
        )
    )


def _as_sorted(df):
    return sorted(map(tuple, df.collect()))


def test_incremental_refresh_equals_full_rebuild(spark, tmp_path):
    table = str(tmp_path / "t")
    view = str(tmp_path / "v")
    merge_warehouse_batch(
        spark, _rows(spark, range(100)), table, num_buckets=8,
        retain_snapshots=3,
    )
    build_video_stats_view(spark, table, view)
    base = _as_sorted(read_view(spark, view))
    assert len(base) == 5  # video_0..video_4

    # update rows of ONE video + insert rows of a NEW video
    upd = _rows(spark, range(0, 100, 5), version=2, watched=99, video="video_0")
    new = _rows(spark, range(100, 110), version=1, watched=10, video="video_9")
    merge_warehouse_batch(spark, upd.unionByName(new), table, retain_snapshots=3)

    n_dirty = refresh_video_stats_view(spark, table, view)
    assert n_dirty == 2  # video_0 and video_9 only

    got = _as_sorted(read_view(spark, view))
    want = _as_sorted(video_stats(read_warehouse(spark, table)))
    assert got == want
    # untouched groups kept their exact rows
    untouched = [r for r in got if r[0] in ("video_1", "video_2")]
    assert untouched == [r for r in base if r[0] in ("video_1", "video_2")]

    # no-op refresh: versions already aligned
    assert refresh_video_stats_view(spark, table, view) == 0


def test_refresh_handles_erasure_and_vacuum_fallback(spark, tmp_path):
    table = str(tmp_path / "t")
    view = str(tmp_path / "v")
    merge_warehouse_batch(
        spark, _rows(spark, range(50)), table, num_buckets=8,
        retain_snapshots=2,
    )
    build_video_stats_view(spark, table, view)

    # hard-erase every row of video_3 (ids where id % 5 == 3)
    doomed = spark.createDataFrame(
        [(f"doc_{i}", f"video_{i % 5}", "s") for i in range(3, 50, 5)],
        ["original_id", "video_id", "session_id"],
    )
    erase_warehouse_keys(spark, doomed, table, retain_snapshots=2)
    n_dirty = refresh_video_stats_view(spark, table, view)
    assert n_dirty == 1
    got = _as_sorted(read_view(spark, view))
    assert all(r[0] != "video_3" for r in got)  # empty group dropped
    assert got == _as_sorted(video_stats(read_warehouse(spark, table)))

    # age the view's source version out of history -> full-rebuild fallback
    merge_warehouse_batch(
        spark, _rows(spark, range(50, 55), version=3), table,
        retain_snapshots=1,
    )
    merge_warehouse_batch(
        spark, _rows(spark, range(55, 60), version=3), table,
        retain_snapshots=1,
    )
    vacuum_warehouse(table)
    assert refresh_video_stats_view(spark, table, view) == -1
    assert _as_sorted(read_view(spark, view)) == _as_sorted(
        video_stats(read_warehouse(spark, table))
    )


def test_streaming_pipeline_maintains_view(spark, tmp_path):
    """view_path on the CDC stream keeps the materialized per-video stats
    in lockstep with the warehouse across micro-batches, surviving
    updates and staying equal to a full rebuild."""
    import json
    import os

    from etl_pipeline_challenge_aladia_spark.streaming.pipeline import (
        run_cdc_file_stream,
    )

    def envelope(op, doc, version, watched, video):
        return json.dumps(
            {
                "operation": op,
                "document_id": doc,
                "timestamp": "ct",
                "version": version,
                "data": {
                    "video_id": video,
                    "session_id": f"s_{doc}",
                    "watched_seconds": watched,
                    "video_duration_seconds": 100,
                    "timestamp": "2024-01-01T10:20:30Z",
                    "device_type": "mobile",
                    "quality": "720p",
                },
            }
        )

    d = {k: str(tmp_path / k) for k in ("in", "wh", "ckpt", "view")}
    os.makedirs(d["in"])
    with open(os.path.join(d["in"], "b1.json"), "w") as f:
        f.write("\n".join([
            envelope("insert", "d1", 1, 50, "video_a"),
            envelope("insert", "d2", 1, 30, "video_a"),
            envelope("insert", "d3", 1, 80, "video_b"),
        ]) + "\n")
    run_cdc_file_stream(
        spark, d["in"], d["wh"], d["ckpt"], view_path=d["view"]
    )
    v1 = {r["video_id"]: r for r in read_view(spark, d["view"]).collect()}
    assert v1["video_a"]["n_sessions"] == 2
    assert v1["video_b"]["max_watched_seconds"] == 80

    with open(os.path.join(d["in"], "b2.json"), "w") as f:
        f.write(envelope("update", "d1", 2, 99, "video_a") + "\n")
    run_cdc_file_stream(
        spark, d["in"], d["wh"], d["ckpt"], view_path=d["view"]
    )
    v2 = {r["video_id"]: r for r in read_view(spark, d["view"]).collect()}
    assert v2["video_a"]["max_watched_seconds"] == 99
    assert v2["video_b"] == v1["video_b"]  # untouched group identical
    want = _as_sorted(video_stats(read_warehouse(spark, d["wh"])))
    assert _as_sorted(read_view(spark, d["view"])) == want

    # an out-of-band erase leaves the view one version behind, then a
    # batch of one corrupt line merges nothing: the view must still drop
    # the erased group, not stamp itself current from the empty batch
    erase_warehouse_keys(
        spark,
        spark.createDataFrame(
            [("d3", "video_b", "s_d3")],
            ["original_id", "video_id", "session_id"],
        ),
        d["wh"],
    )
    with open(os.path.join(d["in"], "b3.json"), "w") as f:
        f.write("corrupt {not json\n")
    run_cdc_file_stream(
        spark, d["in"], d["wh"], d["ckpt"], view_path=d["view"]
    )
    want = _as_sorted(video_stats(read_warehouse(spark, d["wh"])))
    assert [r[0] for r in want] == ["video_a"]
    assert _as_sorted(read_view(spark, d["view"])) == want
