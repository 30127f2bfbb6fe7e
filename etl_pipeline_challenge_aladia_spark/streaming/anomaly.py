"""Streaming robust-anomaly monitor over the daily event-value series —
the streaming twin of the batch ``events_mad_outlier_days`` query.

Shape: a ``batch=<id>``-keyed store accumulates each micro-batch's
day-grain fixed-point value totals (deltas, not absolutes — the same
day can arrive across many batches and the totals ADD), and every
batch recomputes the median/MAD robust z over the accumulated series
and reports the days breaching the threshold as of that batch. The
day-grain frame is calendar-bounded, so the per-batch monitor cost is
one aggregate over the delta plus quantiles over a tiny frame — corpus
history is never re-scanned, only its day totals.

Replay-idempotent by the streaming layer's standing contract
(streaming/docs.py, streaming/embeddings.py) — and one notch stricter:
both writes are ``batch=<id>`` overwrite directories, and the monitor
reads only STRICTLY-EARLIER history (store rows with batch_id < its
own, not merely "exclude own directory"), because a checkpoint-replayed
batch runs at a time when LATER batches' directories already exist. A
replayed batch therefore sees exactly the history the original run saw
and rewrites bit-identical output (pytest-pinned).

Arithmetic is the batch query's, verbatim: exact int64 fixed-point day
totals (order-independent), shared linear-interpolation quantiles for
median and MAD, one final division, MAD=0 guarded to 0.

Reference analog: none (the reference pipeline swallows its stream into
ClickHouse and leaves monitoring to ad-hoc queries,
/root/reference/consumer/consumer.py:12-19); north-star scope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.functions.rounding import round_half_up
from etl_pipeline_challenge_aladia_spark.streaming.store import (
    FileIngest,
    StoreSpec,
    append_batch,
    read_store,
)

#: per-batch day-grain fixed-point deltas (1e6-scaled value sums); an
#: aggregate, so no erase key. Compaction sums same-day deltas into one
#: row, so compacted rows read a NULL batch_id (pre-history)
DAY_STORE = StoreSpec(
    "day date, fx long, batch_id long",
    compact=lambda d: d.groupBy("day").agg(
        F.sum("fx").cast("long").alias("fx")
    ),
)

#: per-batch anomaly report (days breaching the threshold AS OF that batch)
MAD_REPORT = StoreSpec(
    "day string, daily_total double, robust_z double, batch_id long"
)

#: minimal event-stream schema for the file-source harness
EVENTS_STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double"
)


def _day_deltas(delta: DataFrame) -> DataFrame:
    """Day-grain exact fixed-point value totals of one micro-batch."""
    return delta.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 1000000.0 + 0.5).cast("long"))
        .cast("long")
        .alias("fx")
    )


def mad_day_report(day_totals: DataFrame) -> DataFrame:
    """Median/MAD robust z over a day-grain total frame — the exact
    arithmetic of the ``events_mad_outlier_days`` catalog query (same
    quantile definition, same MAD=0 guard, same rounding), factored so
    the batch query, this monitor, and tests share one definition."""
    med = day_totals.agg(F.expr("percentile(fx, 0.5D)").alias("med"))
    dev = day_totals.crossJoin(F.broadcast(med)).select(
        "day", "fx", F.abs(F.col("fx") - F.col("med")).alias("dv")
    )
    mad = dev.agg(F.expr("percentile(dv, 0.5D)").alias("mad"))
    z = F.when(F.col("mad") == 0.0, F.lit(0.0)).otherwise(
        F.col("dv") / F.col("mad")
    )
    return dev.crossJoin(F.broadcast(mad)).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        round_half_up(F.col("fx") / 1000000.0, 2).alias("daily_total"),
        round_half_up(z, 2).alias("robust_z"),
    )


def make_mad_monitor_processor(
    store_path: str, report_path: str, z_threshold: float = 3.5
):
    """foreachBatch processor: persist this batch's day deltas, then
    report the days whose robust z (over the FULL accumulated series,
    this batch included) breaches ``z_threshold``."""

    def process_batch(delta: DataFrame, batch_id: int) -> None:
        spark = delta.sparkSession
        delta = delta.localCheckpoint(eager=True)
        mine = _day_deltas(delta)
        append_batch(
            mine.withColumn("batch_id", F.lit(batch_id).cast("long")),
            store_path,
            batch_id,
        )
        # Strictly-earlier history (live batch ids < mine), NOT merely
        # "exclude my own directory": a checkpoint-replayed batch must
        # see exactly the history its original run saw, and by the
        # time it replays, LATER batches' directories already exist.
        # The predicate lives on the directory ids (streaming/store.py)
        # so later batches are never even listed; the data-level
        # batch_id column remains for provenance. Compacted history is
        # read unconditionally: no batch id, not even the 0 a
        # fresh-checkpoint restart replays at, can filter it out.
        history = read_store(
            spark, DAY_STORE, store_path, strictly_before=batch_id
        ).select("day", "fx")
        totals = (
            history.unionByName(mine)
            .groupBy("day")
            .agg(F.sum("fx").cast("long").alias("fx"))
        )
        report = (
            mad_day_report(totals)
            .filter(F.col("robust_z") >= z_threshold)
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )
        append_batch(report, report_path, batch_id)

    return process_batch


MAD_MONITOR_INGEST = FileIngest(
    EVENTS_STREAM_SCHEMA, make_mad_monitor_processor, one_file_per_batch=True,
)
