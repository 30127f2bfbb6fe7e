"""Unit tests for the reference semantics ledger (SURVEY.md §7.5).

Each case encodes a behavior verified in the reference source:
- missing watched_seconds -> 0        (calculate_watched_ratio.py:9)
- missing duration -> divisor 1       (calculate_watched_ratio.py:10)
- duration <= 0 -> ratio 0            (calculate_watched_ratio.py:12)
- 4-decimal rounding                  (calculate_watched_ratio.py:13)
- delete envelopes (data NULL) emit nothing (SURVEY.md §7.5.1)
- non-insert/update ops dropped       (load_data.py:22-25)
- timestamp reformat drops sub-seconds & zone (load_data.py:35-37)
- last-write-wins dedup               (clickhouse/init.sql:22-24)
- duplicate redelivery idempotence    (README at-least-once contract)
- out-of-order invariance             (README:223)
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from etl_pipeline_challenge_aladia_spark.operators.dedup import exact_dedup, latest_per_key
from etl_pipeline_challenge_aladia_spark.operators.enrich import with_watched_ratio
from etl_pipeline_challenge_aladia_spark.operators.structure import (
    modify_structure,
    parse_envelope,
    route_ops,
)
from etl_pipeline_challenge_aladia_spark.pipeline import (
    envelopes_to_warehouse,
    warehouse_dedup_view,
)
from etl_pipeline_challenge_aladia_spark.schemas import ENVELOPE_SCHEMA


def env_row(
    op="insert",
    doc_id="doc_1",
    video="video_1",
    session="session_1",
    watched=30,
    duration=61,
    ts="2024-01-01T10:20:30Z",
    version=0,
    data_null=False,
):
    data = (
        None
        if data_null
        else Row(
            video_id=video,
            session_id=session,
            watched_seconds=watched,
            video_duration_seconds=duration,
            timestamp=ts,
            device_type="mobile",
            quality="720p",
        )
    )
    return Row(operation=op, document_id=doc_id, timestamp="ct", data=data, version=version)


def make_envelopes(spark, rows):
    return spark.createDataFrame(rows, schema=ENVELOPE_SCHEMA)


def ratios(spark, rows):
    df = with_watched_ratio(make_envelopes(spark, rows))
    return [r["data"]["watched_ratio"] if r["data"] else None for r in df.collect()]


def test_watched_ratio_basic(spark):
    assert ratios(spark, [env_row(watched=30, duration=61)]) == [
        pytest.approx(0.4918)
    ]


def test_watched_ratio_missing_watched_is_zero(spark):
    assert ratios(spark, [env_row(watched=None)]) == [0.0]


def test_watched_ratio_missing_duration_divisor_one(spark):
    # reference defaults the divisor to 1 -> ratio == watched_seconds
    assert ratios(spark, [env_row(watched=123, duration=None)]) == [123.0]


def test_watched_ratio_zero_duration_is_zero(spark):
    assert ratios(spark, [env_row(watched=50, duration=0)]) == [0.0]


def test_watched_ratio_delete_stays_null(spark):
    assert ratios(spark, [env_row(op="delete", data_null=True)]) == [None]


def test_modify_structure_drops_data_null(spark):
    df = modify_structure(
        with_watched_ratio(
            make_envelopes(spark, [env_row(), env_row(op="delete", data_null=True)])
        )
    )
    assert df.count() == 1


def test_route_ops_drops_delete_and_unknown(spark):
    rows = [env_row(op=o, version=i) for i, o in enumerate(["insert", "update", "delete", "replace"])]
    flat = modify_structure(with_watched_ratio(make_envelopes(spark, rows)))
    assert sorted(r["operation"] for r in route_ops(flat).collect()) == ["insert", "update"]


def test_original_timestamp_format(spark):
    wh = envelopes_to_warehouse(
        make_envelopes(spark, [env_row(ts="2024-03-05T01:02:03Z")]),
        with_ingestion_time=False,
    )
    assert wh.collect()[0]["original_timestamp"] == "2024-03-05 01:02:03"


def test_last_write_wins_dedup(spark):
    rows = [
        env_row(version=1, watched=10),
        env_row(op="update", version=5, watched=50),
        env_row(op="update", version=3, watched=30),
    ]
    wh = envelopes_to_warehouse(make_envelopes(spark, rows), with_ingestion_time=False)
    out = warehouse_dedup_view(wh).collect()
    assert len(out) == 1
    assert out[0]["watched_seconds"] == 50  # version 5 wins, not arrival order


def test_duplicate_redelivery_idempotent(spark):
    base = [env_row(version=1), env_row(op="update", version=2, watched=40)]
    once = envelopes_to_warehouse(make_envelopes(spark, base), with_ingestion_time=False)
    twice = envelopes_to_warehouse(
        make_envelopes(spark, base + base), with_ingestion_time=False
    )
    a = sorted(map(str, warehouse_dedup_view(once).collect()))
    b = sorted(map(str, warehouse_dedup_view(twice).collect()))
    assert a == b


def test_out_of_order_invariance(spark):
    rows = [env_row(version=v, watched=v * 10) for v in range(1, 6)]
    fwd = envelopes_to_warehouse(make_envelopes(spark, rows), with_ingestion_time=False)
    rev = envelopes_to_warehouse(
        make_envelopes(spark, rows[::-1]), with_ingestion_time=False
    )
    assert sorted(map(str, warehouse_dedup_view(fwd).collect())) == sorted(
        map(str, warehouse_dedup_view(rev).collect())
    )


def test_parse_envelope_corrupt_quarantined(spark):
    raw = spark.createDataFrame(
        [
            ('{"operation":"insert","document_id":"d1","timestamp":"t",'
             '"data":{"video_id":"v1","watched_seconds":5,'
             '"video_duration_seconds":10,"timestamp":"2024-01-01T00:00:00Z"},'
             '"version":1}',),
            ("not json at all {",),
        ],
        ["value"],
    )
    parsed = parse_envelope(raw)
    ok = parsed.filter("NOT _corrupt")
    bad = parsed.filter("_corrupt")
    assert ok.count() == 1 and bad.count() == 1
    row = ok.collect()[0]
    assert row["document_id"] == "d1"
    assert row["data"]["session_id"] is None  # missing field -> NULL, .get() parity


def test_latest_per_key_generic(spark):
    df = spark.createDataFrame(
        [("k1", 1, "a"), ("k1", 2, "b"), ("k2", 7, "c")], ["k", "v", "payload"]
    )
    out = {r["k"]: r["payload"] for r in latest_per_key(df, ["k"], "v").collect()}
    assert out == {"k1": "b", "k2": "c"}


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], ["id", "text"]
    )
    got = {
        (r["canonical_id"], r["dup_count"]) for r in exact_dedup(df, "text", "id").collect()
    }
    assert got == {(1, 2), (3, 1)}
    got_h = {
        (r["canonical_id"], r["dup_count"])
        for r in exact_dedup(df, "text", "id", by_hash=True).collect()
    }
    assert got_h == got


def test_soft_delete_tombstone_shadow_and_revive(spark):
    """M5 semantics: a tombstone kills older versions of its document; a
    newer re-insert revives it (reference load_data.py:68-101 stub)."""
    import json

    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.dedup import (
        active_after_soft_delete,
    )
    from etl_pipeline_challenge_aladia_spark.operators.structure import parse_envelope
    from etl_pipeline_challenge_aladia_spark.pipeline import envelopes_to_warehouse

    def env(op, doc, version, watched=10):
        data = None
        if op != "delete":
            data = {
                "video_id": "v1",
                "session_id": "s1",
                "watched_seconds": watched,
                "video_duration_seconds": 61,
                "timestamp": "2024-01-01T00:00:00Z",
                "device_type": "mobile",
                "quality": "720p",
            }
        return json.dumps(
            {"operation": op, "document_id": doc, "timestamp": "ct",
             "data": data, "version": version}
        )

    lines = [
        env("insert", "dead", 1),          # shadowed by delete v2
        env("delete", "dead", 2),
        env("insert", "revived", 3),
        env("delete", "revived", 4),
        env("insert", "revived", 5, watched=50),  # re-insert after tombstone
        env("insert", "alive", 6),
    ]
    raw = spark.createDataFrame([(l,) for l in lines], ["value"])
    envelopes = parse_envelope(raw).drop("_corrupt")
    wh = envelopes_to_warehouse(envelopes, with_ingestion_time=False, soft_delete=True)

    assert wh.filter(F.col("is_deleted")).count() == 2
    active = {
        r["original_id"]: (r["watched_seconds"], r["version"])
        for r in active_after_soft_delete(wh).collect()
    }
    assert active == {"revived": (50, 5), "alive": (10, 6)}


def test_salted_join_equals_plain_join(spark, sf_dir):
    """salted_join must be result-identical to the plain equi-join."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.skew import (
        salted_join,
        top_key_skew,
    )
    from etl_pipeline_challenge_aladia_spark.sources.files import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    build = orders.withColumnRenamed("o_orderkey", "l_orderkey")

    plain = (
        li.join(build, ["l_orderkey"])
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
    )
    salted = (
        salted_join(li, build, ["l_orderkey"], salt_factor=4)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    skew = top_key_skew(li, ["l_orderkey"], n=3).collect()
    assert len(skew) == 3 and all(0 < r["share"] < 1 for r in skew)


def test_upsert_raises_on_unreadable_store(spark, tmp_path):
    """Only a MISSING (or empty) warehouse path starts a fresh table; a
    directory holding files but no snapshot manifest must raise, never
    silently discard the stored table."""
    import pytest
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.sinks import merge_warehouse_batch

    path = str(tmp_path / "wh")
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.parquet"), "w") as f:
        f.write("this is not a parquet file")
    batch = spark.range(1).select(
        F.lit("doc_1").alias("original_id"),
        F.lit("video_1").alias("video_id"),
        F.lit("session_1").alias("session_id"),
        F.lit(1).cast("long").alias("version"),
        F.lit("2024-01-01 10:00:00").cast("timestamp").alias("original_timestamp"),
    )
    with pytest.raises(ValueError, match="_manifest.json"):
        merge_warehouse_batch(spark, batch, path)
    # the stored files were neither replaced nor joined by a manifest
    assert sorted(os.listdir(path)) == ["part-00000.parquet"]
    with open(os.path.join(path, "part-00000.parquet")) as f:
        assert f.read() == "this is not a parquet file"

    # ``._*`` staging leftovers of a crashed first commit are no table:
    # the merge starts fresh over them
    fresh = str(tmp_path / "fresh")
    os.makedirs(fresh)
    with open(os.path.join(fresh, "._manifest_tmp"), "w") as f:
        f.write("{")
    assert merge_warehouse_batch(spark, batch, fresh) == 1
    assert os.path.exists(os.path.join(fresh, "_manifest.json"))


def test_scrub_pii_redacts_emails_and_urls(spark):
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.text import (
        pii_match_count_col,
        scrub_pii_col,
    )

    rows = [
        ("contact me at a.b+c@example.co.uk for details", 1),
        ("see https://example.com/x?y=1 and http://a.io", 2),
        ("no pii here at all", 0),
        ("mix: x@y.org then https://z.dev/page end", 2),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "text string")
    got = df.select(
        scrub_pii_col("text").alias("clean"),
        pii_match_count_col("text").alias("n"),
    ).collect()
    assert [r["n"] for r in got] == [n for _, n in rows]
    assert got[0]["clean"] == "contact me at <EMAIL> for details"
    assert got[1]["clean"] == "see <URL> and <URL>"
    assert got[2]["clean"] == "no pii here at all"
    assert got[3]["clean"] == "mix: <EMAIL> then <URL> end"
    # idempotent: scrubbing scrubbed text changes nothing
    again = df.select(
        scrub_pii_col(scrub_pii_col("text")).alias("clean2")
    ).collect()
    assert [r["clean2"] for r in again] == [r["clean"] for r in got]


def test_pii_count_matches_scrub_on_nested_spans(spark):
    """An email inside a URL is two redactions (email first, then the URL
    that the placeholder now sits in) — the count mirrors the pass order."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.text import (
        pii_match_count_col,
        scrub_pii_col,
    )

    df = spark.createDataFrame(
        [("go to http://x.com/a@b.co now",)], "text string"
    )
    row = df.select(
        scrub_pii_col("text").alias("clean"),
        pii_match_count_col("text").alias("n"),
    ).collect()[0]
    assert row["clean"] == "go to <URL> now"
    assert row["n"] == 2


def test_auto_salted_join_decides_from_measured_skew(spark, sf_dir):
    """auto_salted_join salts exactly when the measured top-key share
    crosses the threshold: a skewed probe gets the explode+salt plan, a
    uniform probe gets the plain join — and both return identical results
    to the plain equi-join."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.skew import auto_salted_join

    build = spark.range(10).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    skewed = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(7)).otherwise(F.col("id") % 10).alias("k")
    )
    uniform = spark.range(1000).select((F.col("id") % 10).alias("k"))

    for probe in (skewed, uniform):
        got = auto_salted_join(probe, build, ["k"], share_threshold=0.5)
        plain = probe.join(build, ["k"])
        assert sorted(map(str, got.collect())) == sorted(map(str, plain.collect()))

    salted_plan = auto_salted_join(
        skewed, build, ["k"], share_threshold=0.5
    )._jdf.queryExecution().executedPlan().toString()
    plain_plan = auto_salted_join(
        uniform, build, ["k"], share_threshold=0.5
    )._jdf.queryExecution().executedPlan().toString()
    assert "explode" in salted_plan.lower()
    assert "explode" not in plain_plan.lower()


def test_bucketed_range_join_equals_naive_range_join(spark):
    """bucketed_range_join is a pure meeting-granularity change: its
    output equals the naive equi-join + BETWEEN on every edge case —
    window endpoints inclusive, pairs straddling bucket boundaries,
    exact bucket-multiple timestamps, and custom (narrower) widths."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.skew import (
        bucketed_range_join,
    )

    left = spark.createDataFrame(
        [("u1", 1, 1000), ("u1", 2, 1600), ("u2", 3, 600), ("u1", 4, 599)],
        "k string, lid int, lt long",
    )
    right = spark.createDataFrame(
        [
            ("u1", 10, 400),   # == lt 1000 + lo: inclusive lower edge
            ("u1", 11, 1000),  # == lt 1000 + hi: inclusive upper edge
            ("u1", 12, 999),   # inside, straddles bucket boundary vs 1600
            ("u1", 13, 1601),  # just outside for lt=1000
            ("u2", 14, 500),   # other key
            ("u1", 15, 0),     # far outside
        ],
        "k string, rid int, rt long",
    )

    def naive(lo, hi):
        return {
            tuple(r)
            for r in left.join(right, "k")
            .filter(F.col("rt").between(F.col("lt") + lo, F.col("lt") + hi))
            .select("k", "lid", "rid")
            .collect()
        }

    for lo, hi, w in [(-600, 0, None), (-600, 0, 100), (0, 600, None),
                      (-250, 250, None), (-600, 0, 600)]:
        got = {
            tuple(r)
            for r in bucketed_range_join(
                left, right, ["k"], "lt", "rt", lo=lo, hi=hi, bucket_width=w
            ).select("k", "lid", "rid").collect()
        }
        assert got == naive(lo, hi), (lo, hi, w)

    # no duplicate pairs even when a window spans multiple buckets
    multi = bucketed_range_join(
        left, right, ["k"], "lt", "rt", lo=-600, hi=0, bucket_width=100
    ).select("k", "lid", "rid")
    assert multi.count() == multi.distinct().count()

    import pytest

    with pytest.raises(ValueError):
        bucketed_range_join(left, right, ["k"], "lt", "rt", lo=0, hi=-1)
    with pytest.raises(ValueError):
        bucketed_range_join(
            left.withColumn("_brj_bucket", F.lit(1)), right, ["k"],
            "lt", "rt", lo=-600, hi=0,
        )
