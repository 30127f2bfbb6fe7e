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

- **Declared stores** (``StoreSpec``): each store is ONE constant
  declared next to its processor, as each ingest is a ``FileIngest``:
  its empty-read schema, its erase key, its compaction transform and
  its directory partitioning. ``read_store``, ``compact_store`` and
  ``erase_keys`` take the declaration, so no store restates the
  contract above in a wrapper of its own; a two-part store (the
  signature store's ``bands``/``shingles``) is two declarations over
  two sub-directories. What differs between stores follows from the
  declaration: a report store is never compacted, so it simply has no
  ``compacted/`` layer; an aggregate (count-min cells, day totals)
  declares no key, so ``erase_keys`` refuses it and the erasure path
  is a rebuild from the erased live corpus; a compaction that sums
  per-batch rows away (count-min cells, day totals) also sums away
  the per-batch provenance a replay of a pre-compaction batch would
  need, so compaction runs on a quiesced store whose checkpoint has
  committed every contributing batch, and a consumer is pointed at
  the fresh path only once it is published (publish-then-point).

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

from etl_pipeline_challenge_aladia_spark.sinks import _promote_dir, _recover_dir

#: reserved directory name for consolidated history (see module doc)
COMPACTED_DIR = "compacted"

#: reserved directory name for the permanent erasure denylist
ERASED_DIR = "erased"

ERASED_SCHEMA = "key string, key_col string"

#: suffixes of an erasure rewrite's staged copy and of the layer it
#: replaces (never numeric, so never listed as a live batch)
_STAGED, _OLD = ".erasing", ".erasing_old"


class StoreSpec(NamedTuple):
    """One derived store, declared once next to its processor: the
    ``schema`` an empty store reads as, the ``key`` column erasure
    matches (None for aggregates, which are rebuilt instead), the
    ``compact`` transform folding history into the ``compacted/``
    layer (identity when None) and the directory columns rows are
    ``partition_by``-written under."""

    schema: str
    key: str | None = None
    compact: Callable[[DataFrame], DataFrame] | None = None
    partition_by: tuple[str, ...] = ()


def batch_dir(path: str, batch_id: int) -> str:
    """The directory of one micro-batch's output (``batch=<id>``)."""
    return os.path.join(path, f"batch={batch_id}")


def batch_dirs(path: str, before: int | None = None) -> list[str]:
    """The live ``batch=<id>`` directories of a store, sorted by name —
    with ``before``, minus every id >= ``before`` (the strictly-earlier
    contract, applied at listing time). Only ``append_batch``-written
    NUMERIC ids are live batches: a stray non-numeric ``batch=*`` entry
    (a partial copy, an editor dropping, an interrupted erasure's
    staged copy) is skipped outright rather than read as history —
    under ``before`` it would otherwise masquerade as strictly-earlier
    data in every replay screen."""
    try:
        names = os.listdir(path)
    except OSError:
        return []
    ids = []
    for e in names:
        if e.startswith("batch="):
            try:
                ids.append((int(e.split("=", 1)[1]), e))
            except ValueError:
                continue
    return [
        os.path.join(path, e)
        for i, e in sorted(ids, key=lambda t: t[1])
        if before is None or i < before
    ]


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


def read_store(
    spark: SparkSession,
    spec: StoreSpec,
    path: str,
    strictly_before: int | None = None,
) -> DataFrame:
    """The full store a reader may see: the live batch directories
    (only ids < ``strictly_before`` when given) PLUS the reserved
    ``compacted/`` layer when present, read UNCONDITIONALLY, with the
    erasure shield applied. An empty store reads as an empty frame
    with ``spec.schema`` (never a path-not-found error).

    Live and compacted rows are unioned by name with missing columns
    allowed, so a column the compacted layout drops — a live batch id,
    the discovered ``batch`` directory column of a ``partition_by``
    store — reads NULL on compacted rows: consolidated pre-history is
    no batch's output. A ``partition_by`` store discovers its directory
    columns (``batch``, then the declared ones), so a filter on them
    prunes the scan to the matching directories."""
    dirs = batch_dirs(path, strictly_before)
    if dirs:
        reader = spark.read
        if spec.partition_by:
            reader = reader.option("basePath", path)
        df = reader.parquet(*dirs)
    else:
        df = spark.createDataFrame([], spec.schema)
    compacted = os.path.join(path, COMPACTED_DIR)
    if os.path.isdir(compacted):
        df = df.unionByName(
            spark.read.parquet(compacted), allowMissingColumns=True
        )
    return apply_erasure(spark, df, path)


def append_batch(df: DataFrame, path: str, batch_id: int, partition_by: Sequence[str] | None = None) -> None:
    """Persist one micro-batch's rows under its ``batch=<id>``
    directory — overwrite, so replay is idempotent."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(batch_dir(path, batch_id))


def _recover_layers(path: str) -> None:
    """Finish what an interrupted erasure rewrite left: a layer whose
    only copy was moved aside is restored, and staged copies that never
    landed are dropped (the re-run stages them afresh)."""
    try:
        names = os.listdir(path)
    except OSError:
        return
    for e in names:
        d = os.path.join(path, e)
        if e.endswith(_OLD):
            _recover_dir(d[: -len(_OLD)], d)
        elif e.endswith(_STAGED):
            shutil.rmtree(d)


def compact_store(
    spark: SparkSession, spec: StoreSpec, store_path: str, out_path: str
) -> int:
    """Consolidate a store's per-batch directories (folding in any
    prior ``compacted/`` layer, so re-compaction composes) into ONE
    reserved ``compacted/`` layout at a fresh path, shrunk on the way
    by ``spec.compact``. The erasure denylist, when present, is
    consolidated into the fresh path's ``erased/epoch=0`` — the
    compacted DATA is already erasure-filtered (read_store applies the
    shield), but a post-compaction replay of an old batch still needs
    the read-path guard. Returns the compacted row count."""
    _recover_layers(store_path)
    data = read_store(spark, spec, store_path)
    if spec.compact is not None:
        data = spec.compact(data)
    target = os.path.join(out_path, COMPACTED_DIR)
    writer = data.write.mode("overwrite")
    if spec.partition_by:
        writer = writer.partitionBy(*spec.partition_by)
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
    spark: SparkSession, spec: StoreSpec, path: str, keys
) -> int:
    """Erase every row whose ``spec.key`` is in ``keys`` from a store —
    the derived-artifact half of the GDPR contract (the warehouse half
    is sinks.py:erase_warehouse_keys). Two layers, applied in this
    order:

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
       staged copy -> swap that moves the old copy aside first), so
       data at rest no longer holds the keys. A ``partition_by`` store
       keeps its directory layout (the embedding index's ``cell=``
       dirs). Like compaction, the rewrite assumes the store is
       quiesced; a crash at any point of the swap loses no kept row,
       and the next erase_keys or compact_store on the store restores
       any layer a crash left moved aside before it reads.

    Keys are matched on their string form (``CAST(key AS STRING)``),
    so one denylist schema serves long-keyed (doc/media/vec ids) and
    content-keyed (segment/chunk) stores alike. ``keys`` is either a
    driver list (an erasure request is human-grain) or a single-column
    DataFrame (derived content-key sets stay distributed end-to-end).
    A store declared without a key is an aggregate (count-min cells,
    day totals): a cell cannot subtract one key's contribution, so it
    is rebuilt from the erased live corpus instead
    (docs.py:rebuild_countmin_store). Returns the number of physical
    rows removed."""
    key_col = spec.key
    if key_col is None:
        raise ValueError(
            f"store at {path} declares no erase key: an aggregate is "
            "rebuilt from the erased corpus, not filtered"
        )
    _recover_layers(path)
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
        writer = kept.write.mode("overwrite")
        if spec.partition_by:
            writer = writer.partitionBy(*spec.partition_by)
        writer.parquet(d + _STAGED)
        _promote_dir(d + _STAGED, d, d + _OLD)
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
