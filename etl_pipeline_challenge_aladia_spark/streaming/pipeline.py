"""Structured Streaming CDC pipeline — the reference's runtime mode.

The reference consumes RabbitMQ one message at a time, building a fresh
Beam pipeline per message, with manual ack/nack as the delivery contract
(reference consumer/consumer.py:12-44; SURVEY.md §2.8). Spark-first, that
entire loop is ONE long-running streaming query:

- source offsets + checkpointing replace ack/requeue (X1);
- the same batch transform chain (pipeline.envelopes_to_warehouse) runs
  per micro-batch — transform code is shared, not duplicated;
- ``foreachBatch`` + keyed upsert makes redelivery idempotent: at-least-once
  delivery collapses on the dedup key exactly like the reference's
  ReplacingMergeTree backstop (§1.4);
- corrupt records are quarantined, not requeued forever (the reference's
  requeue-forever loop is its own named bottleneck, README:226).

A Kafka source would be the production ingress; the file-stream source here
exercises identical semantics (offset tracking, replay, micro-batches)
without external services.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.operators.structure import parse_envelope
from etl_pipeline_challenge_aladia_spark.pipeline import envelopes_to_warehouse
from etl_pipeline_challenge_aladia_spark.sinks import (
    _table_version,
    merge_warehouse_batch,
)
from etl_pipeline_challenge_aladia_spark.streaming.store import drain_stream


def streaming_envelopes_from_json(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-stream of envelope JSON lines -> typed envelope rows.

    Reads as raw text then applies the engine's own T1 decode (from_json +
    corrupt-record quarantine) so the streaming path exercises the same
    parse operator as batch. Decode-health metrics ride along via
    ``observe_decode_health``.
    """
    raw = spark.readStream.format("text").load(input_dir)
    return observe_decode_health(parse_envelope(raw, json_col="value"))


def observe_decode_health(envelopes: DataFrame, name: str = "decode_health") -> DataFrame:
    """Attach per-micro-batch decode metrics (total messages, corrupt
    count) as a named ``observe`` — surfaced in every StreamingQueryProgress
    under ``observedMetrics[name]`` with zero extra passes over the data
    (the aggregates piggyback on the existing scan).

    This is the ops signal the reference lacked: its consumer nack-requeued
    undecodable messages forever with no counter anywhere
    (consumer/consumer.py:30-38). An alerting hook is one
    StreamingQueryListener reading ``n_corrupt / n_messages``."""
    return envelopes.observe(
        name,
        F.count(F.lit(1)).alias("n_messages"),
        F.sum(F.col("_corrupt").cast("long")).alias("n_corrupt"),
    )


def decode_kafka_records(records: DataFrame) -> DataFrame:
    """Kafka-shaped records (binary ``value``) -> typed envelope rows.

    The single decode path shared by every byte-stream ingress: cast the
    message bytes to UTF-8 text, then run the same T1 parse/quarantine
    operator the file-stream and batch paths use (reference
    consumer/consumer.py:26-27 does ``body.decode('utf-8')`` +
    ``json.loads``; here both are one expression). Works identically on a
    batch or streaming frame — the contract test feeds it a batch frame.
    """
    return parse_envelope(
        records.withColumn("_json", F.col("value").cast("string")), json_col="_json"
    )


def encode_kafka_records(envelopes: DataFrame, key_col: str = "document_id") -> DataFrame:
    """Typed envelope rows -> Kafka-shaped records (binary key/value).

    The publish twin of ``decode_kafka_records`` (reference S2: the
    producer's BSON-extended-JSON serialize + publish,
    producer/producer.py:48-73). The document id becomes the message key so
    a partitioned topic preserves per-document order — the property the
    reference got from its single durable queue. The contract test proves
    encode -> decode is the identity on envelope rows.
    """
    payload_cols = [c for c in envelopes.columns if c not in ("_corrupt", "_raw")]
    return envelopes.select(
        F.col(key_col).cast("string").cast("binary").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in payload_cols])).cast("binary").alias(
            "value"
        ),
    )


def streaming_envelopes_from_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Production ingress: Kafka topic -> typed envelope rows.

    The reference's RabbitMQ consume loop (consumer/consumer.py:12-19) maps
    to Spark's Kafka source: consumer-group offsets/acks become checkpointed
    source offsets, and the at-least-once redelivery contract is absorbed by
    the idempotent keyed upsert exactly as with the file-stream twin. The
    decode/quarantine path is ``decode_kafka_records`` — byte-for-byte the
    code the contract test exercises without a broker. Requires the
    spark-sql-kafka connector on the classpath at runtime.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return decode_kafka_records(reader.load())


def run_cdc_file_stream(
    spark: SparkSession,
    input_dir: str,
    warehouse_path: str,
    checkpoint_dir: str,
    quarantine_path: str | None = None,
    view_path: str | None = None,
) -> None:
    """Run the CDC pipeline over all currently-available files and stop
    (Trigger.AvailableNow) — the batch-equivalent streaming execution used
    by tests and backfills. A production deployment drops the trigger and
    runs continuously; nothing else changes.

    Every micro-batch upserts through ``merge_warehouse_batch`` (bucketed
    MERGE: a batch rewrites the buckets its keys hash into, each at most
    about one scan split).

    ``view_path`` additionally maintains the materialized per-video stats
    view (views.py) INSIDE each micro-batch: after the upsert commits, the
    view recomputes the groups of the batch's ``video_id``s (or, after an
    out-of-band commit, of the change feed since the view), so downstream
    dashboards read a pre-aggregated table that is never more than one
    micro-batch behind — the streaming half of the reference's analytics
    story (SURVEY §2-A1) without a per-query fact scan.
    """
    drain_stream(
        streaming_envelopes_from_json(spark, input_dir),
        make_cdc_batch_processor(
            warehouse_path, quarantine_path, view_path=view_path
        ),
        checkpoint_dir,
    )


def _split_off_quarantine(
    batch: DataFrame, quarantine_path: str | None
) -> DataFrame:
    """The shared dead-letter split of every CDC sink's foreachBatch body:
    materialize the decoded batch once, append corrupt rows' ORIGINAL
    message text to the quarantine (its purpose is inspection/replay, not
    a row of NULL envelope fields) and return the clean envelopes.

    The eager ``localCheckpoint`` is the batch's one read and parse of its
    source: every later action (the quarantine append, the sink's writes,
    the view refresh) reads the materialized rows, and the
    ``decode_health`` counters count each message once. The append is
    unconditional: an empty append is one cheap no-row task, while probing
    emptiness first (limit(1).count()) costs a full extra job on EVERY
    micro-batch of the hot path."""
    batch = batch.localCheckpoint(eager=True)
    if quarantine_path is not None:
        bad = batch.filter(batch["_corrupt"]).select(
            F.col("_raw").alias("raw"),
            F.current_timestamp().alias("quarantined_at"),
        )
        bad.write.mode("append").json(quarantine_path)
    return batch.filter(~batch["_corrupt"]).drop("_corrupt", "_raw")


def make_cdc_batch_processor(
    warehouse_path: str,
    quarantine_path: str | None = None,
    sink: str = "merge",
    view_path: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch body shared by every CDC ingress (file-stream,
    Kafka): quarantine corrupt envelopes, transform, idempotent upsert
    through ``merge_warehouse_batch``. ``sink`` only accepts ``"merge"``,
    the one warehouse sink; it is kept for callers that name it."""
    if sink != "merge":
        raise ValueError(f"unknown sink {sink!r}: the only sink is 'merge'")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        ok = _split_off_quarantine(batch, quarantine_path)
        rows = envelopes_to_warehouse(ok, with_ingestion_time=True)
        base_version = _table_version(warehouse_path)
        merge_warehouse_batch(batch.sparkSession, rows, warehouse_path)
        if view_path is not None:
            from etl_pipeline_challenge_aladia_spark.views import (
                refresh_video_stats_view,
            )

            # dirty groups only: this batch's video_ids when its merge made
            # the only commit since the view. A replayed batch (crash
            # between merge and refresh) commits a new version again, so
            # the view is two behind and refreshes from the change feed.
            refresh_video_stats_view(
                batch.sparkSession, warehouse_path, view_path,
                changed=(base_version, rows),
            )

    return process_batch


#: the exact column surface of Spark's Kafka source (kafka010's schema) —
#: what ``decode_kafka_records`` consumes and ``kafka_shaped_file_stream``
#: reproduces so the broker path is testable without a broker
KAFKA_RECORD_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def kafka_shaped_file_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """A streaming source with the EXACT schema Spark's Kafka source
    produces (``KAFKA_RECORD_SCHEMA``), backed by parquet files.

    This is the broker-free contract seam: everything downstream of the
    source — binary-value decode, quarantine, checkpointed offsets,
    idempotent upsert — is byte-for-byte the production Kafka path
    (``run_cdc_kafka_stream``); only ``format("kafka")`` itself needs a
    live broker + the spark-sql-kafka connector. Tests write kafka-shaped
    records here and run the full pipeline end-to-end."""
    return spark.readStream.schema(KAFKA_RECORD_SCHEMA).parquet(input_dir)


def run_cdc_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str | None,
    topic: str | None,
    warehouse_path: str,
    checkpoint_dir: str,
    quarantine_path: str | None = None,
    records: DataFrame | None = None,
    available_now: bool = False,
    source_options: dict[str, str] | None = None,
) -> None:
    """Continuous CDC pipeline off a Kafka topic — the production twin of
    ``run_cdc_file_stream``: same decode (T1), same transform chain, same
    idempotent sink; only the ingress differs. Blocks until the query
    stops (externally, or after draining available input when
    ``available_now``).

    ``records`` injects a pre-built kafka-SHAPED streaming frame (see
    ``kafka_shaped_file_stream``) instead of the real broker source —
    the contract-test seam that lets every line of this function execute
    in environments without a broker; with the default ``records=None``
    the real Kafka reader is built from ``bootstrap_servers``/``topic``/
    ``source_options`` (passed through to the connector: consumer-group
    id, TLS, maxOffsetsPerTrigger rate limiting, ...)."""
    if records is None:
        if bootstrap_servers is None or topic is None:
            raise ValueError(
                "run_cdc_kafka_stream needs bootstrap_servers and topic "
                "when no pre-built records stream is injected"
            )
        envelopes = streaming_envelopes_from_kafka(
            spark, bootstrap_servers, topic, options=source_options
        )
    else:
        envelopes = decode_kafka_records(records)
    drain_stream(
        observe_decode_health(envelopes),
        make_cdc_batch_processor(warehouse_path, quarantine_path),
        checkpoint_dir,
        available_now,
    )


def make_jdbc_batch_processor(
    jdbc_url: str,
    table: str,
    driver: str | None = None,
    quarantine_path: str | None = None,
    options: dict[str, str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """The production WAREHOUSE-sink twin of ``make_cdc_batch_processor``:
    per micro-batch, quarantine corrupt envelopes, transform, then INSERT
    the typed rows over JDBC — the Spark-first mapping of the reference's
    ClickHouse sink (consumer/DoFns/load_data.py:52-60 builds one INSERT
    per message; here it is one bulk, partition-parallel INSERT per
    micro-batch).

    Delivery contract, mapped piece by piece onto S5:
    - at-least-once redelivery (checkpoint replay) re-INSERTs the same
      keyed rows; a ClickHouse ``ReplacingMergeTree(version)`` table —
      exactly what the reference deploys (clickhouse/init.sql) — collapses
      them on (document_id, version) at merge time, the same idempotence
      ``merge_warehouse_batch`` provides natively for parquet tables;
    - ``driver`` defaults to whatever the URL's scheme registers on the
      classpath (e.g. the ClickHouse JDBC driver jar for
      ``jdbc:clickhouse://``, Postgres for ``jdbc:postgresql://`` — any
      warehouse with a ReplacingMergeTree-style upsert or ON CONFLICT
      surface fits the same contract);
    - ``options`` passes through JDBC writer tuning (``batchsize``,
      ``numPartitions``, ``isolationLevel`` ...).

    Kept driver-free and connection-free at CONSTRUCTION so it can be
    unit-tested anywhere; the first micro-batch fails fast with the
    standard Spark error if the driver jar is absent. The opt-in e2e test
    (tests/test_streaming.py, CDC_JDBC_URL) exercises it against a real
    database when one is available."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        ok = _split_off_quarantine(batch, quarantine_path)
        rows = envelopes_to_warehouse(ok, with_ingestion_time=True)
        writer = (
            rows.write.format("jdbc")
            .option("url", jdbc_url)
            .option("dbtable", table)
        )
        if driver:
            writer = writer.option("driver", driver)
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        writer.mode("append").save()

    return process_batch


def replay_quarantine(
    spark: SparkSession,
    quarantine_path: str,
    warehouse_path: str,
) -> tuple[int, int]:
    """Reprocess quarantined raw messages — the operational other half of
    the quarantine contract (X5): after a producer or parser fix, replay
    the dead letters through the SAME decode -> transform -> idempotent
    upsert path as live traffic, then rewrite the quarantine to hold only
    the still-undecodable residue.

    Returns ``(n_recovered, n_still_bad)``. Idempotent like the live
    path: recovered rows collapse on the dedup key, and a crash mid-way
    at worst replays rows that upsert to the same state. The quarantine
    rewrite is a staged-directory promote (crash-recoverable), never an
    in-place truncate. The reference requeues corrupt messages forever
    (consumer nack/requeue loop); this is the bounded alternative.
    """
    import os
    import shutil

    from etl_pipeline_challenge_aladia_spark.operators.structure import (
        parse_envelope,
    )
    from etl_pipeline_challenge_aladia_spark.sinks import (
        _promote_dir,
        _recover_dir,
    )

    _recover_dir(quarantine_path, quarantine_path + "._old")
    if not os.path.exists(quarantine_path):
        return 0, 0
    raw = spark.read.json(quarantine_path)
    if "raw" not in raw.columns:
        return 0, 0
    decoded = parse_envelope(raw.select(F.col("raw").alias("value")))
    ok = decoded.filter(~F.col("_corrupt")).drop("_corrupt", "_raw")
    rows = envelopes_to_warehouse(ok, with_ingestion_time=True)
    n_recovered = rows.count()
    if n_recovered:
        merge_warehouse_batch(spark, rows, warehouse_path)
    still_bad = raw.join(
        decoded.filter(F.col("_corrupt")).select(F.col("_raw").alias("raw")),
        "raw",
        "left_semi",
    )
    n_still_bad = still_bad.count()
    staged = quarantine_path + "._replay_tmp"
    shutil.rmtree(staged, ignore_errors=True)
    if n_still_bad:
        still_bad.write.mode("overwrite").json(staged)
    else:
        # empty residue: stage an empty directory so the promote swaps the
        # quarantine for "nothing left"
        os.makedirs(staged)
    _promote_dir(staged, quarantine_path, quarantine_path + "._old")
    return n_recovered, n_still_bad
