"""The streaming layer's ONE batch-keyed store contract.

Every persistent store in this package (document signature/segment/
CDC-chunk/count-min stores, the embedding index and its stats, the
media fingerprint stores, the anomaly day store, admission state, and
every per-batch report) follows the same protocol; this module is that
protocol, stated once:

- **Batch-keyed overwrite appends** (``append_batch``): each
  micro-batch's output lands in its own ``batch=<id>`` directory
  written with overwrite, so a checkpoint-replayed batch rewrites its
  own output instead of duplicating it — the layer's idempotence
  contract.

- **Strictly-earlier reads** (``read_store(strictly_before=...)``): a
  (possibly replayed) batch screening against the store must see ONLY
  batches that committed before it. Excluding just the replayed
  batch's own directory is not enough: a MID-STREAM replay (crash
  after batch N wrote, checkpoint reset to N-k) would read batches
  N-k+1..N that already ran and rewrite superset reports. The
  predicate is enforced on the DIRECTORY ids at listing time — no
  store schema needs a batch_id column, and pruned batches are never
  even listed, let alone scanned (the IO win of partition pruning).

- **Reserved ``compacted/`` history** (``compact_store``): maintenance
  consolidates per-batch directories into ONE layout under the
  reserved ``compacted`` directory at a FRESH path (publish-then-point
  — never blocks ingest), read UNCONDITIONALLY by every reader. The
  consolidated data deliberately does NOT live in a ``batch=<id>``
  directory: a continuing ingest pointed at a compacted store restarts
  its fresh checkpoint at batch_id 0, and a ``batch=0`` layout would
  let that first batch both exclude the entire history from its screen
  and overwrite it on append (the batch-0 collision class). The
  strictly-earlier predicate never applies to compacted rows —
  compacted history predates every live batch by the compaction
  contract (the store is quiesced and live directories removed before
  the pointer swap).

- **Key erasure** (``erase_keys``): a right-to-be-forgotten request
  against a 100-TB corpus must scrub the DERIVED artifacts too — the
  signature, segment, chunk, fingerprint, and embedding-index stores
  all retain per-key rows forever, and a pipeline that erases only its
  warehouse (sinks.py:erase_warehouse_keys) has not honored the
  request. Erasure is two layers: a PHYSICAL rewrite of every live
  batch directory and the compacted layer without the keyed rows (data
  at rest no longer contains them), plus a PERMANENT reserved
  ``erased/`` denylist that every reader anti-joins unconditionally —
  the replay shield: a checkpoint-replayed batch lawfully OVERWRITES
  its own directory from source (the idempotence contract) and would
  otherwise resurrect the rows; the read-path denylist keeps them
  logically erased until the next maintenance rewrite drops them
  physically again. Compaction carries the denylist to the fresh path
  (its output data is already erasure-filtered, but post-compaction
  replays still need the shield). Aggregate/sketch stores are the
  honest exception — a count-min cell cannot subtract one key's
  contribution; such stores document a rebuild-from-live-corpus path
  instead of pretending deletion composes.

- **One stream driver** (``drain_stream``): the only place the
  source -> checkpointed ``foreachBatch(processor)`` -> drain chain is
  written. Each file-fed ingest is a ``FileIngest`` declared next to
  its processor factory and run with ``drain_files``. One file per
  micro-batch is the grain of every ingest whose batch screens against,
  or monitors, everything before it (one all-files batch would screen
  against an empty store); the rest drain all files in one batch.

Reference analog: none (the reference pipeline keeps no cross-message
state, SURVEY.md §2.12); this is the north-star streaming layer's
storage discipline, factored out after five processors had each
restated it (VERDICT r8 #4). Key erasure added per VERDICT r9 #2.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: reserved directory name for consolidated history (see module doc)
COMPACTED_DIR = "compacted"

#: reserved directory name for the permanent erasure denylist
ERASED_DIR = "erased"

ERASED_SCHEMA = "key string, key_col string"


def batch_dirs(
    path: str,
    exclude: int | None = None,
    before: int | None = None,
) -> list[str]:
    """The live ``batch=<id>`` directories of a store, sorted by name —
    minus ``exclude``'s own directory (replay never reads its own
    half-written output) and, with ``before``, minus every id >=
    ``before`` (the strictly-earlier contract, applied at listing
    time). Only ``append_batch``-written NUMERIC ids are live batches:
    a stray non-numeric ``batch=*`` entry (a partial copy, an editor
    dropping) is skipped outright rather than read as history — under
    ``before`` it would otherwise masquerade as strictly-earlier data
    in every replay screen."""
    try:
        entries = []
        for e in sorted(os.listdir(path)):
            if not e.startswith("batch="):
                continue
            try:
                int(e.split("=", 1)[1])
            except ValueError:
                continue
            entries.append(e)
    except OSError:
        return []
    if exclude is not None:
        entries = [e for e in entries if e != f"batch={exclude}"]
    if before is not None:
        entries = [
            e for e in entries if int(e.split("=", 1)[1]) < before
        ]
    return [os.path.join(path, e) for e in entries]


def _erased_epoch_dirs(path: str) -> list[str]:
    """The denylist's ``epoch=<n>`` directories under a store's
    reserved ``erased/`` layer, sorted by numeric id."""
    root = os.path.join(path, ERASED_DIR)
    try:
        entries = []
        for e in os.listdir(root):
            if not e.startswith("epoch="):
                continue
            try:
                entries.append((int(e.split("=", 1)[1]), e))
            except ValueError:
                continue
        return [os.path.join(root, e) for _, e in sorted(entries)]
    except OSError:
        return []


def read_erased_keys(spark: SparkSession, path: str) -> DataFrame:
    """The store's full erasure denylist (``key``/``key_col`` string
    rows, empty if no erasure has ever run)."""
    dirs = _erased_epoch_dirs(path)
    if not dirs:
        return spark.createDataFrame([], ERASED_SCHEMA)
    return spark.read.schema(ERASED_SCHEMA).parquet(*dirs)


def apply_erasure(
    spark: SparkSession, df: DataFrame, path: str
) -> DataFrame:
    """Anti-join a frame against the store's denylist — the read-path
    erasure shield every reader applies unconditionally. Zero cost when
    the store has never erased (no ``erased/`` layer, no job). The
    denylist is request-grain (human-issued erasure keys), so the
    per-key-column collect is bounded and the anti-join side is
    broadcast."""
    dirs = _erased_epoch_dirs(path)
    if not dirs:
        return df
    er = spark.read.schema(ERASED_SCHEMA).parquet(*dirs)
    key_cols = [
        r.key_col
        for r in er.select("key_col").distinct().collect()  # request-grain
        if r.key_col in df.columns
    ]
    for kc in key_cols:
        keys = F.broadcast(
            er.filter(F.col("key_col") == kc).select(
                F.col("key").alias("__erased_key")
            ).distinct()
        )
        df = df.join(
            keys,
            F.col(kc).cast("string") == F.col("__erased_key"),
            "left_anti",
        )
    return df


def read_batch_store(
    spark: SparkSession,
    path: str,
    schema: str,
    exclude_batch: int | None = None,
    base_path: str | None = None,
    strictly_before: int | None = None,
) -> DataFrame:
    """Read a store's LIVE batch directories (no compacted layer), or
    an EMPTY frame with the declared schema when nothing has been
    ingested yet (never a path-not-found AnalysisException).
    ``base_path`` turns on partition-column discovery (batch/cell
    directory columns). The erasure denylist, when present, is applied
    unconditionally — a replayed batch lawfully rewrites erased rows
    into its directory; the read path keeps them invisible."""
    dirs = batch_dirs(path, exclude_batch, strictly_before)
    if not dirs:
        return spark.createDataFrame([], schema)
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    return apply_erasure(spark, reader.parquet(*dirs), path)


def read_store(
    spark: SparkSession,
    path: str,
    schema: str,
    exclude_batch: int | None = None,
    strictly_before: int | None = None,
    compacted_schema: str | None = None,
    live_columns: Sequence[str] | None = None,
) -> DataFrame:
    """The full store a reader may see: live batch directories (pruned
    per ``exclude_batch`` / ``strictly_before``) PLUS the reserved
    ``compacted/`` layer when present, read UNCONDITIONALLY.

    ``live_columns`` projects live rows before the union — for stores
    whose live rows carry columns the compacted layout drops (the
    anomaly day store's data-level batch_id). ``compacted_schema``
    defaults to ``schema``."""
    df = read_batch_store(
        spark, path, schema, exclude_batch, strictly_before=strictly_before
    )
    if live_columns is not None:
        df = df.select(*live_columns)
    compacted = os.path.join(path, COMPACTED_DIR)
    if os.path.isdir(compacted):
        comp = spark.read.schema(compacted_schema or schema).parquet(
            compacted
        )
        df = df.unionByName(apply_erasure(spark, comp, path))
    return df


def append_batch(df: DataFrame, path: str, batch_id: int, partition_by: Sequence[str] | None = None) -> None:
    """Persist one micro-batch's rows under its ``batch=<id>``
    directory — overwrite, so replay is idempotent."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(path, f"batch={batch_id}"))


def compact_store(
    spark: SparkSession,
    store_path: str,
    out_path: str,
    schema: str,
    transform=None,
    partition_by: Sequence[str] | None = None,
    compacted_schema: str | None = None,
    live_columns: Sequence[str] | None = None,
) -> int:
    """Consolidate a store's per-batch directories (folding in any
    prior ``compacted/`` layer, so re-compaction composes) into ONE
    reserved ``compacted/`` layout at a fresh path. ``transform``
    shrinks the data on the way (DISTINCT for fingerprint sets,
    cell-wise sums for sketches); identity by default.
    ``live_columns``/``compacted_schema`` forward to ``read_store``
    for stores whose live rows carry provenance columns the compacted
    layout drops. The erasure denylist, when present, is consolidated
    into the fresh path's ``erased/epoch=0`` — the compacted DATA is
    already erasure-filtered (read_store applies the shield), but a
    post-compaction replay of an old batch still needs the read-path
    guard. Returns the compacted row count."""
    data = read_store(
        spark,
        store_path,
        schema,
        compacted_schema=compacted_schema,
        live_columns=live_columns,
    )
    if transform is not None:
        data = transform(data)
    target = os.path.join(out_path, COMPACTED_DIR)
    writer = data.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(target)
    carry_erasure(spark, store_path, out_path)
    return spark.read.parquet(target).count()


def carry_erasure(
    spark: SparkSession, src_path: str, out_path: str
) -> None:
    """Consolidate a store's denylist into a fresh path's
    ``erased/epoch=0`` — called by every publish-then-point rewrite
    (compact_store, rebuild_index): the rewritten DATA is already
    erasure-filtered, but post-repoint replays of old batches still
    need the read-path shield."""
    if _erased_epoch_dirs(src_path):
        read_erased_keys(spark, src_path).distinct().coalesce(
            1
        ).write.mode("overwrite").parquet(
            os.path.join(out_path, ERASED_DIR, "epoch=0")
        )


def erase_keys(
    spark: SparkSession,
    path: str,
    key_col: str,
    keys: Sequence,
    partition_by: Sequence[str] | None = None,
) -> int:
    """Erase every row keyed by ``keys`` from a store — the derived-
    artifact half of the GDPR contract (the warehouse half is
    sinks.py:erase_warehouse_keys). Two layers, applied in this order:

    1. The keys are appended FIRST to the PERMANENT ``erased/``
       denylist (``epoch=<n>`` directories, one per request), which
       every reader anti-joins unconditionally — the replay shield: a
       checkpoint replay lawfully overwrites its batch directory from
       source and would otherwise resurrect the rows. The denylist is
       the durable statement of intent, so erasure is LOGICALLY
       complete at the first durable write: a crash mid-rewrite leaves
       partially scrubbed storage but no readable trace. Erasure is
       also an ADMISSION bar: re-ingesting an erased key is suppressed
       until the denylist entry is deliberately removed — the
       conservative reading of a removal request.
    2. PHYSICAL rewrite (pure reclamation once the denylist is down):
       every live ``batch=<id>`` directory and the ``compacted/``
       layer containing matches is rewritten without them (filter ->
       fresh directory -> atomic swap), so data at rest no longer
       holds the keys. ``partition_by`` preserves a partitioned layout
       (the embedding index's ``cell=`` dirs). Like compaction, the
       rewrite assumes the store is quiesced; it is safely re-runnable
       after a crash.

    Keys are matched on their string form (``CAST(key_col AS STRING)``),
    so one denylist schema serves long-keyed (doc/media/vec ids) and
    content-keyed (segment/chunk) stores alike. ``keys`` is either a
    driver list (an erasure request is human-grain) or a single-column
    DataFrame (derived content-key sets stay distributed end-to-end).
    Aggregate/sketch stores (count-min) must NOT use this — a sketch
    cell cannot subtract one key's contribution; rebuild from the
    erased live corpus instead (docs.py:rebuild_countmin_store over
    post-erasure data). Returns the number of physical rows removed."""
    if isinstance(keys, DataFrame):
        kdf = (
            keys.select(
                F.col(keys.columns[0]).cast("string").alias("__erased_key")
            )
            .distinct()
            .localCheckpoint(eager=True)  # reused per directory + denylist
        )
    else:
        skeys = sorted({str(k) for k in keys})
        kdf = spark.createDataFrame(
            [(k,) for k in skeys], "__erased_key string"
        )
    # Denylist epoch FIRST: it is the durable statement of intent. Every
    # reader anti-joins it unconditionally, so the keys are LOGICALLY
    # erased the moment this write lands — a crash anywhere in the
    # physical loop below leaves some directories scrubbed and others
    # not, but no read or checkpoint replay can resurrect the rows. The
    # rewrite loop is thereafter pure storage reclamation, safely
    # re-runnable.
    epochs = _erased_epoch_dirs(path)
    nxt = (
        int(os.path.basename(epochs[-1]).split("=", 1)[1]) + 1
        if epochs
        else 0
    )
    kdf.select(
        F.col("__erased_key").alias("key"), F.lit(key_col).alias("key_col")
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, ERASED_DIR, f"epoch={nxt}")
    )
    removed = 0
    targets = list(batch_dirs(path))
    compacted = os.path.join(path, COMPACTED_DIR)
    if os.path.isdir(compacted):
        targets.append(compacted)
    for d in targets:
        df = spark.read.parquet(d)
        if key_col not in df.columns:
            continue
        cond = F.col(key_col).cast("string") == F.col("__erased_key")
        n = df.join(F.broadcast(kdf), cond, "left_semi").count()
        if n == 0:
            continue
        kept = df.join(F.broadcast(kdf), cond, "left_anti")
        tmp = d + ".erasing"
        writer = kept.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        shutil.rmtree(d)
        os.rename(tmp, d)
        removed += n
    return removed


class FileIngest(NamedTuple):
    """A file-fed ingest: its input files' ``schema`` and ``fmt``, its
    ``foreachBatch`` processor factory and its batch grain."""

    schema: str
    make_processor: Callable[..., Callable[[DataFrame, int], None]]
    fmt: str = "json"
    one_file_per_batch: bool = False


def drain_stream(
    stream: DataFrame,
    processor: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool = True,
) -> None:
    """Run ``processor`` as ``stream``'s checkpointed ``foreachBatch``
    body until the input available at start is drained
    (Trigger.AvailableNow) or, unless ``available_now``, until stopped."""
    writer = stream.writeStream.foreachBatch(processor)
    writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    writer.start().awaitTermination()


def drain_files(
    spark: SparkSession,
    ingest: FileIngest,
    input_dir: str,
    checkpoint_dir: str,
    *args,
    **kwargs,
) -> None:
    """Drain the files available under ``input_dir`` through
    ``ingest``; ``args``/``kwargs`` build its processor."""
    reader = spark.readStream.schema(ingest.schema).format(ingest.fmt)
    if ingest.one_file_per_batch:
        reader = reader.option("maxFilesPerTrigger", "1")
    stream = reader.load(input_dir)
    drain_stream(stream, ingest.make_processor(*args, **kwargs), checkpoint_dir)
