"""Self-test of the benchmark on a tiny configuration (sf0.01 tables, a few
100-envelope batches, two catalog ops), sharing one Spark session:

    python3 -m pytest perfbench -q -p no:cacheprovider

It checks that every metric named in BENCHMARK.json is printed with its
unit, and that a wrong output counts as a failed op: a tampered pinned
digest on ``analytics`` and a corrupted warehouse row on ``cdc_ingest``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402

with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


@pytest.fixture(scope="module")
def scratch():
    base = os.path.join(bench.ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    d = tempfile.mkdtemp(prefix="selftest-", dir=base)
    bench.prepare_env(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)
    try:
        os.rmdir(base)
    except OSError:
        pass  # a concurrent run's scratch is still there


@pytest.fixture(scope="module")
def spark(scratch):
    session = bench.start_spark(scratch)
    yield session
    bench.stop_spark(session)


def _run(spark, scratch, workload, trace, **hooks):
    import workloads

    args = argparse.Namespace(workload=workload, seed=7, seconds=0.0, trace=trace)
    root = tempfile.mkdtemp(dir=scratch)
    record, result = bench.execute(args, workloads.TINY, root, spark=spark, **hooks)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    return record, result


def _assert_metrics(result, kind):
    declared = {m["name"]: m["unit"] for m in SPEC[kind]}
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    assert printed == declared
    for v in result["metrics"].values():
        assert isinstance(v["value"], float)


def _corrupt_one_row(run, loop):
    """Bump watched_seconds of one row in a live bucket of the warehouse."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    with open(os.path.join(loop.warehouse, "_manifest.json")) as fh:
        buckets = json.load(fh)["buckets"]
    for d in sorted(buckets.values()):
        for f in sorted(glob.glob(os.path.join(loop.warehouse, d, "*.parquet"))):
            t = pq.read_table(f)
            if t.num_rows:
                i = t.column_names.index("watched_seconds")
                t = t.set_column(i, "watched_seconds", pc.add(t["watched_seconds"], 1))
                pq.write_table(t, f)
                crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
                return
    raise AssertionError("no warehouse row to corrupt")


def test_cdc_ingest_clean_run_prints_every_metric(spark, scratch):
    record, result = _run(spark, scratch, "cdc_ingest", 0)
    assert result["correct"] and result["failed"] == 0
    assert record["nproc"] >= 1 and record["seed"] == 7
    _assert_metrics(result, "end_to_end")


def test_cdc_ingest_corrupted_row_fails_and_traces(spark, scratch):
    _, result = _run(spark, scratch, "cdc_ingest", 1, tamper=_corrupt_one_row)
    assert not result["correct"] and result["failed"] >= 1
    _assert_metrics(result, "per_layer")
    m = result["metrics"]
    assert m["sinks.merge_s"]["value"] > 0 and m["views.refresh_s"]["value"] > 0
    assert m["streaming.rows_in"]["value"] > 0


def test_analytics_tampered_digest_fails(spark, scratch):
    import digest
    import workloads

    expected = json.loads(json.dumps(digest.load()["ops"]))
    victim = workloads.TINY.catalog_ops[0]
    expected[victim]["digest"] = "0" * 64
    _, result = _run(spark, scratch, "analytics", 0, expected=expected)
    assert not result["correct"] and 1 <= result["failed"] < result["attempted"]
    _assert_metrics(result, "end_to_end")


def test_analytics_traced_run_is_correct(spark, scratch):
    _, result = _run(spark, scratch, "analytics", 1)
    assert result["correct"] and result["failed"] == 0
    _assert_metrics(result, "per_layer")
    m = result["metrics"]
    assert m["sinks.point_lookup_s"]["value"] > 0
    assert m["plans.jobs_per_query"]["value"] >= 1
