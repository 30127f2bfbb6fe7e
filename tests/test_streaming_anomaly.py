"""Streaming MAD anomaly monitor: accumulation across batches, parity
with the batch arithmetic, threshold gating, and replay idempotence."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F  # noqa: F401

from etl_pipeline_challenge_aladia_spark.streaming.anomaly import (
    DAY_STORE,
    MAD_MONITOR_INGEST,
    MAD_REPORT,
    make_mad_monitor_processor,
)
from etl_pipeline_challenge_aladia_spark.streaming.store import (
    compact_store,
    drain_files,
    read_store,
)


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def _quiet_rows(start_eid=0):
    """Eight near-uniform days (totals 10..17) -> MAD 2.0, all z small."""
    rows = []
    eid = start_eid
    for day, total in enumerate(range(10, 18), 1):
        eid += 1
        rows.append(
            (eid, dt.datetime(2024, 1, day, 12), 1, "view", float(total), "{}")
        )
    return rows


def test_monitor_flags_spike_and_accumulates_same_day(spark, tmp_path):
    """Batch 0: quiet history, no report rows. Batch 1: two deltas for
    the SAME new day that must ADD in the store (300 + 700 = 1000) and
    breach the threshold with the exact batch-arithmetic z."""
    store = str(tmp_path / "store")
    report = str(tmp_path / "report")
    proc = make_mad_monitor_processor(store, report, z_threshold=3.5)

    proc(_events(spark, _quiet_rows()), 0)
    assert read_store(spark, MAD_REPORT, report).count() == 0

    spike_day = dt.datetime(2024, 1, 9, 12)
    batch1 = [
        (100, spike_day, 2, "view", 300.0, "{}"),
        (101, spike_day.replace(hour=20), 3, "view", 700.0, "{}"),
    ]
    proc(_events(spark, batch1), 1)
    rows = {
        r["day"]: r
        for r in read_store(spark, MAD_REPORT, report).filter("batch_id = 1").collect()
    }
    assert list(rows) == ["2024-01-09"]
    got = rows["2024-01-09"]
    assert got["daily_total"] == 1000.0
    # day totals 10..17 + 1000: median 13.5, devs [.5,.5,1.5,1.5,2.5,
    # 2.5,3.5,986.5]; MAD = median of sorted devs (9 values incl. spike
    # day 986.5) -> [0.5,0.5,1.5,1.5,2.5,2.5,3.5,3.5? ...]; compute:
    fx = [10, 11, 12, 13, 14, 15, 16, 17, 1000]
    med = sorted(fx)[4]
    devs = sorted(abs(x - med) for x in fx)
    mad = devs[4]
    want_z = round((1000 - med) / mad, 2)
    assert got["robust_z"] == want_z


def test_monitor_replay_is_idempotent(spark, tmp_path):
    """Re-running batch 0 after batch 1 exists must leave the store and
    report bit-identical: the replayed batch excludes its own directory
    when reading history and overwrites its own output."""
    store = str(tmp_path / "store")
    report = str(tmp_path / "report")
    proc = make_mad_monitor_processor(store, report, z_threshold=3.5)
    b0 = _events(spark, _quiet_rows())
    proc(b0, 0)
    b1 = _events(
        spark, [(100, dt.datetime(2024, 1, 9, 12), 2, "view", 1000.0, "{}")]
    )
    proc(b1, 1)

    def snapshot():
        s = sorted(
            map(tuple, read_store(spark, DAY_STORE, store).collect())
        )
        r = sorted(map(tuple, read_store(spark, MAD_REPORT, report).collect()))
        return s, r

    before = snapshot()
    proc(b0, 0)  # checkpoint replay of an already-committed batch
    assert snapshot() == before


def test_file_stream_end_to_end(spark, tmp_path):
    """Two event files drained availableNow: the second file's report
    flags its spike against the first file's history."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    quiet = [
        {
            "event_id": i + 1,
            "ts": f"2024-01-{i + 1:02d}T12:00:00.000Z",
            "user_id": 1,
            "event_type": "view",
            "value": float(10 + i),
        }
        for i in range(8)
    ]
    (in_dir / "a.json").write_text("\n".join(json.dumps(r) for r in quiet))
    (in_dir / "b.json").write_text(
        json.dumps(
            {
                "event_id": 100,
                "ts": "2024-01-09T12:00:00.000Z",
                "user_id": 2,
                "event_type": "view",
                "value": 1000.0,
            }
        )
    )
    store = str(tmp_path / "store")
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")
    drain_files(spark, MAD_MONITOR_INGEST, str(in_dir), ckpt, store, report)
    rep = read_store(spark, MAD_REPORT, report).collect()
    assert {r["day"] for r in rep} == {"2024-01-09"}
    assert os.path.isdir(os.path.join(store, "batch=0"))
    assert os.path.isdir(os.path.join(store, "batch=1"))


def test_compact_day_store_sums_deltas_and_preserves_report(spark, tmp_path):
    """Compaction collapses same-day deltas across batches into one row,
    and a monitor pointed at the compacted store produces the same
    anomaly report as against the raw store."""
    from etl_pipeline_challenge_aladia_spark.streaming.anomaly import (
        make_mad_monitor_processor,
    )

    store = str(tmp_path / "store")
    report = str(tmp_path / "report")
    proc = make_mad_monitor_processor(store, report, z_threshold=3.5)
    proc(_events(spark, _quiet_rows()), 0)
    # batch 1 re-touches day 1 (delta adds) and a new day
    proc(
        _events(
            spark,
            [
                (50, dt.datetime(2024, 1, 1, 20), 4, "view", 5.0, "{}"),
                (51, dt.datetime(2024, 1, 9, 9), 5, "view", 1000.0, "{}"),
            ],
        ),
        1,
    )
    raw = read_store(spark, DAY_STORE, store)
    n = compact_store(spark, DAY_STORE, store, str(tmp_path / "compacted"))
    comp = read_store(spark, DAY_STORE, str(tmp_path / "compacted"))
    assert n == comp.count() == 9  # 8 quiet days + spike day
    # day 1 collapsed: 10.0 + 5.0 -> one 15e6 row
    d1 = comp.filter("day = DATE'2024-01-01'").collect()
    assert len(d1) == 1 and d1[0]["fx"] == 15_000_000
    # totals preserved exactly
    assert (
        raw.groupBy().sum("fx").collect()[0][0]
        == comp.groupBy().sum("fx").collect()[0][0]
    )
    # a batch-2 monitor run against the compacted store sees the same
    # history (all compacted rows carry batch_id <= 1 < 2)
    proc2 = make_mad_monitor_processor(
        str(tmp_path / "compacted"), str(tmp_path / "report2"), 3.5
    )
    proc2(
        _events(
            spark, [(60, dt.datetime(2024, 1, 10, 9), 6, "view", 12.0, "{}")]
        ),
        2,
    )
    rep = read_store(spark, MAD_REPORT, str(tmp_path / "report2")).collect()
    assert {r["day"] for r in rep} == {"2024-01-09"}  # spike still flagged


def test_compacted_store_survives_fresh_checkpoint_batch_zero(
    spark, tmp_path
):
    """The batch=0 collision class: a monitor restarted with a FRESH
    checkpoint replays batch ids from 0. Against a compacted store the
    consolidated history must (a) remain fully visible to batch 0
    (compacted rows are read unconditionally, never filtered by the
    strictly-earlier predicate) and (b) never be overwritten by batch
    0's own ``batch=0`` directory write."""
    from etl_pipeline_challenge_aladia_spark.streaming.anomaly import (
        make_mad_monitor_processor,
    )

    store = str(tmp_path / "store")
    proc = make_mad_monitor_processor(store, str(tmp_path / "rep"), 3.5)
    proc(_events(spark, _quiet_rows()), 0)
    compacted = str(tmp_path / "compacted")
    n = compact_store(spark, DAY_STORE, store, compacted)
    assert n == 8
    # fresh-checkpoint restart: batch ids begin again at 0
    proc0 = make_mad_monitor_processor(
        compacted, str(tmp_path / "rep0"), 3.5
    )
    proc0(
        _events(
            spark, [(90, dt.datetime(2024, 1, 9, 9), 7, "view", 1000.0, "{}")]
        ),
        0,
    )
    # (a) history was visible: the spike is judged against all 8 quiet
    # days, so it breaches the threshold exactly as in the raw-store run
    rep = read_store(spark, MAD_REPORT, str(tmp_path / "rep0")).collect()
    assert {r["day"] for r in rep} == {"2024-01-09"}
    # (b) nothing was destroyed: 8 compacted days + batch 0's spike row
    got = read_store(spark, DAY_STORE, compacted)
    assert got.count() == 9
    assert got.filter("batch_id IS NULL").count() == 8
