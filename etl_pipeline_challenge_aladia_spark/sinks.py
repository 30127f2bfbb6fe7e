"""Warehouse sinks.

The reference's sink is a per-row ClickHouse insert with engine-side merge
dedup (SURVEY.md §2.1-S5, §1.4). Spark-first equivalents:

- ``append_warehouse``: partitioned Parquet append. Partitioning by the
  date of ``original_timestamp`` gives partition pruning for time-ranged
  analytics (the layout the reference README wished for but didn't build).
- ``merge_warehouse_batch``: dedup-on-write for ``foreachBatch`` — merges
  a micro-batch into the bucketed stored table keeping the latest version
  per key, rewriting only the buckets the batch's keys hash into. The
  bucket count follows the data: a table starts at one bucket and doubles
  (or more) when its largest bucket outgrows one scan split
  (``spark.sql.files.maxPartitionBytes``), so a batch rewrites at most
  about one split per key-bucket it hits. Paired with Structured Streaming
  checkpointing this gives effectively exactly-once (at-least-once
  redelivery collapses on the dedup key), the engine's answer to the
  reference's ack/requeue + ReplacingMergeTree.

The merge sink commits through an atomic snapshot manifest, which grows
into a small transactional table format: ``read_warehouse(version=)`` /
``read_warehouse(as_of=)`` time travel (VERSION AS OF and TIMESTAMP AS
OF) over ``retain_snapshots`` retained versions, ``table_history``,
``table_changes`` (change data feed between snapshots),
``erase_warehouse_keys`` (bucket-proportional GDPR hard deletes),
``vacuum_warehouse`` (snapshot expiry + GC) and schema evolution via
merged bucket schemas. ``compact_warehouse`` (small-file OPTIMIZE, optionally
z-order clustered) serves the day-partitioned append tables.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.operators.dedup import latest_per_key
from etl_pipeline_challenge_aladia_spark.schemas import DEDUP_KEY

#: injectable clock for the manifest's commit timestamps (tests pin it)
_now = time.time


def append_warehouse(df: DataFrame, path: str, partition_by_day: bool = True) -> None:
    out = df.withColumn("_day", F.to_date("original_timestamp"))
    writer = out.write.mode("append")
    if partition_by_day:
        writer = writer.partitionBy("_day")
    writer.parquet(path)


def read_warehouse(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of: float | str | None = None,
) -> DataFrame:
    """Read a warehouse table, resolving through the snapshot manifest when
    one exists (merge-sink tables): the manifest names one directory per
    bucket, so a reader sees exactly the set a single atomic commit
    published — never a half-merged mix. Append tables read the directory
    tree directly.

    ``version=`` time-travels to a RETAINED earlier snapshot (the
    manifest's ``history`` list, rotation depth set by the merge sink's
    ``retain_snapshots``) — the plain-parquet analog of Delta's
    ``VERSION AS OF``. ``as_of=`` is the ``TIMESTAMP AS OF`` twin: the
    NEWEST retained snapshot committed at or before the given time
    (epoch seconds, or an ISO-8601 string — naive strings are read as
    UTC, matching the engine's session timezone). Raises ``KeyError``
    listing what IS readable when the request was never committed, has
    been vacuumed, or predates the earliest retained commit."""
    if version is not None and as_of is not None:
        raise ValueError("pass either version= or as_of=, not both")
    manifest = _read_manifest(path)
    if manifest is not None and version is not None:
        manifest = _resolve_snapshot(manifest, version)
    elif manifest is not None and as_of is not None:
        manifest = _resolve_as_of(manifest, as_of)
    elif version is not None or as_of is not None:
        raise KeyError(f"{path} has no snapshot manifest; cannot time-travel")
    if manifest is not None and manifest.get("buckets"):
        dirs = [os.path.join(path, d) for d in manifest["buckets"].values()]
        # mergeSchema: buckets committed at different versions may carry
        # evolved schemas (a later batch adding a column only rewrites its
        # own buckets); the union schema with NULL back-fill is the
        # correct read. Footer cost is bounded by the bucket count.
        return spark.read.option("mergeSchema", "true").parquet(*dirs)
    df = spark.read.parquet(path)
    return df.drop("_day") if "_day" in df.columns else df


def _snapshot_entry(manifest: dict) -> dict:
    """The frozen, re-readable core of a manifest: version + bucket
    directory refs + commit time. What history retains per commit —
    nothing else in the manifest is needed to resolve a past snapshot."""
    entry: dict = {"version": manifest["version"]}
    if manifest.get("committed_at") is not None:
        entry["committed_at"] = manifest["committed_at"]
    entry["buckets"] = dict(manifest["buckets"])
    return entry


def _rotate_history(manifest: dict, retain_snapshots: int) -> list[dict]:
    """History for the NEXT commit: append the about-to-be-replaced current
    snapshot, keep the newest ``retain_snapshots`` entries. 0 disables
    time travel (lag-1 ``garbage`` retention still applies)."""
    history = list(manifest.get("history", []))
    if manifest.get("buckets"):
        history.append(_snapshot_entry(manifest))
    return history[-retain_snapshots:] if retain_snapshots > 0 else []


def _resolve_snapshot(manifest: dict, version: int) -> dict:
    if int(manifest.get("version", -1)) == version:
        return manifest
    for snap in manifest.get("history", []):
        if int(snap["version"]) == version:
            return snap
    have = sorted(
        [int(s["version"]) for s in manifest.get("history", [])]
        + [int(manifest["version"])]
    )
    raise KeyError(
        f"snapshot version {version} not retained; readable versions: {have}"
    )


def _as_epoch(as_of: float | str) -> float:
    if isinstance(as_of, str):
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(as_of.replace("Z", "+00:00"))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.timestamp()
    return float(as_of)


def _resolve_as_of(manifest: dict, as_of: float | str) -> dict:
    """TIMESTAMP AS OF: the newest retained snapshot committed at or
    before ``as_of``. Snapshots predating the committed_at stamp (legacy
    manifests) are not time-addressable and are skipped."""
    ts = _as_epoch(as_of)
    snaps = list(manifest.get("history", [])) + [manifest]
    stamped = [s for s in snaps if s.get("committed_at") is not None]
    eligible = [s for s in stamped if float(s["committed_at"]) <= ts]
    if not eligible:
        have = [
            (int(s["version"]), float(s["committed_at"])) for s in stamped
        ]
        raise KeyError(
            f"no retained snapshot committed at or before {as_of!r}; "
            f"readable (version, committed_at): {have}"
        )
    best = max(eligible, key=lambda s: (float(s["committed_at"]), int(s["version"])))
    if int(best["version"]) == int(manifest.get("version", -1)):
        return manifest
    return best


def table_history(path: str) -> list[dict]:
    """Readable snapshots, oldest first, current last: ``[{version,
    buckets}, ...]`` — Delta's ``DESCRIBE HISTORY`` shape for
    the manifest warehouse. Empty for non-manifest tables."""
    manifest = _read_manifest(path)
    if manifest is None:
        return []
    return list(manifest.get("history", [])) + [_snapshot_entry(manifest)]


def _promote_dir(staged: str, dst: str, keep_old_as: str) -> None:
    """Crash-recoverable directory promote: the previous version is moved
    aside BEFORE the new one lands, so no failure point loses both copies —
    PROVIDED the caller runs ``_recover_dir(dst, keep_old_as)`` first, which
    repairs the one window where ``dst`` is missing and the only copy sits
    in ``keep_old_as``. (Delta/Iceberg make this a metadata-only txn; plain
    parquet gets the next best thing.)"""
    if os.path.exists(keep_old_as):
        shutil.rmtree(keep_old_as)
    if os.path.exists(dst):
        os.rename(dst, keep_old_as)
    os.rename(staged, dst)
    shutil.rmtree(keep_old_as, ignore_errors=True)


def _recover_dir(dst: str, keep_old_as: str) -> None:
    """Repair an interrupted ``_promote_dir``: a crash between moving the
    old copy aside and installing the new one leaves ``dst`` missing with
    the only copy in ``keep_old_as`` — restore it. If both exist, the
    promote completed and the leftover old copy is safe to drop."""
    if os.path.exists(keep_old_as):
        if os.path.exists(dst):
            shutil.rmtree(keep_old_as)
        else:
            os.rename(keep_old_as, dst)


#: Snapshot manifest file name (inside the table directory).
_MANIFEST = "_manifest.json"


def _read_manifest(path: str) -> dict | None:
    f = os.path.join(path, _MANIFEST)
    if not os.path.exists(f):
        return None
    import json

    with open(f) as fh:
        return json.load(fh)


def _table_version(path: str) -> int:
    """The committed snapshot version (0 for a table with no manifest)."""
    manifest = _read_manifest(path)
    return int(manifest["version"]) if manifest else 0


def _commit_manifest(path: str, manifest: dict) -> None:
    """The ONE atomic visibility switch: fsync a temp file, then rename it
    over the manifest (POSIX rename is atomic; object stores use a
    conditional PUT here). Readers resolve the table exclusively through
    the manifest, so every bucket written this commit becomes visible at
    once or not at all — the plain-parquet analog of the reference's
    atomic ClickHouse part swap (reference clickhouse/init.sql:22-24) and
    of a Delta/Iceberg metadata commit.

    Each NEW version is stamped ``committed_at`` (the ``TIMESTAMP AS OF``
    anchor); a re-commit of the SAME version (vacuum trimming history,
    entry-GC bookkeeping) preserves the original stamp — metadata
    maintenance must not move a snapshot in time."""
    import json

    prev = _read_manifest(path)
    if prev is not None and int(prev.get("version", -1)) == int(
        manifest.get("version", -2)
    ):
        manifest = {**manifest, "committed_at": prev.get("committed_at")}
    else:
        manifest = {**manifest, "committed_at": _now()}

    tmp = os.path.join(path, "._manifest_tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(path, _MANIFEST))


def _bucket_dirname(bk: int, version: int) -> str:
    return f"b{bk:05d}_v{version:08d}"


def _gc_unreferenced(path: str, manifest: dict) -> int:
    """Drop every bucket version directory neither the current manifest nor
    any RETAINED history snapshot references — aged-out garbage (rotated
    out of history) and strays from crashed pre-commit attempts. Shared by
    the merge sink's entry GC and the public ``vacuum_warehouse``. Returns
    directories removed."""
    import glob as _glob

    snapshots = [manifest] + list(manifest.get("history", []))
    referenced = {d for s in snapshots for d in s.get("buckets", {}).values()}
    removed = 0
    for d in _glob.glob(os.path.join(path, "b[0-9]*_v[0-9]*")):
        if os.path.basename(d) not in referenced:
            shutil.rmtree(d, ignore_errors=True)
            removed += 1
    return removed


def vacuum_warehouse(path: str, keep_snapshots: int = 0) -> int:
    """Operational GC for manifest tables (the VACUUM / snapshot-expiry
    knob): expire history beyond ``keep_snapshots`` past versions (default
    0 — current only, Delta's ``VACUUM RETAIN 0``), drop every now-
    unreferenced version directory, and clear the manifest's garbage
    list. Safe any time no reader is older than the newest expired
    snapshot. No-op (returns 0) on non-manifest tables."""
    manifest = _read_manifest(path)
    if manifest is None:
        return 0
    history = list(manifest.get("history", []))
    kept = history[-keep_snapshots:] if keep_snapshots > 0 else []
    trimmed = {**manifest, "history": kept}
    # Commit the trimmed manifest BEFORE deleting directories: a crash
    # between the two then leaves only harmless unreferenced dirs (which
    # the next write's entry GC collects), never a manifest whose history
    # advertises already-deleted snapshots.
    if manifest.get("garbage") or kept != history:
        _commit_manifest(path, {**trimmed, "garbage": []})
    return _gc_unreferenced(path, trimmed)


def _bucket_of(keys: Sequence[str], num_buckets: int):
    """The routing expression every reader and writer of a merge table
    shares: ``pmod(xxhash64(keys), num_buckets)``."""
    return F.pmod(
        F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets)
    ).cast("int")


def _tag_buckets(frame: DataFrame, bucket) -> tuple[DataFrame, list[int]]:
    """Materialize ``frame`` with its ``_bucket`` ids in one eager
    ``localCheckpoint``; an ``Observation`` on that same job yields the
    touched-bucket set (bounded by the bucket count, whatever the frame's
    size), so neither a separate collect nor the later write re-runs the
    frame's plan."""
    seen = Observation()
    tagged = (
        frame.withColumn("_bucket", bucket)
        .observe(seen, F.collect_set("_bucket").alias("touched"))
        .localCheckpoint(eager=True)
    )
    return tagged, sorted(seen.get["touched"])


def _split_bytes(spark: SparkSession) -> int:
    """One scan split: ``spark.sql.files.maxPartitionBytes`` in bytes."""
    return int(spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())


def _grown_bucket_count(
    num_buckets: int, bucket_bytes: dict, bucket_rows: dict, split: int
) -> int:
    """The bucket count the next commit writes: unchanged while the largest
    bucket fits one scan split, else the smallest power-of-two multiple of
    it that brings the largest bucket under the split (hashing spreads a
    bucket's rows evenly over its ``m`` children). Also unchanged when no
    growth can bring that bucket under the split: its rows spread over at
    most its row count of children, so a bucket whose rows average more
    than a split (one key's row larger than the split, say) stays over it
    at any count."""
    if not bucket_bytes:
        return num_buckets
    key = max(bucket_bytes, key=bucket_bytes.get)
    largest = bucket_bytes[key]
    rows = bucket_rows.get(key)
    if rows is not None and largest > rows * split:
        return num_buckets
    m = 1
    while largest > m * split:
        m *= 2
    return num_buckets * m


def _data_stats(d: str) -> tuple[int, int]:
    """(bytes, rows) of the data files in a bucket directory: file sizes
    plus parquet footer row counts, read on the driver (Spark skips ``.``
    and ``_`` files — checksums, markers — when it scans, so they do not
    count)."""
    import pyarrow.parquet as pq

    files = [e for e in os.scandir(d) if not e.name.startswith((".", "_"))]
    return (
        sum(e.stat().st_size for e in files),
        sum(pq.read_metadata(e.path).num_rows for e in files),
    )


def _publish(
    path: str,
    staged: str,
    touched: Sequence[int],
    manifest: dict,
    num_buckets: int,
    retain_snapshots: int,
) -> int:
    """Install the staged ``_bucket=N`` directories of every touched bucket
    as version directories and publish them in one manifest commit. A
    touched bucket with nothing staged has no rows left and leaves the
    manifest. Each installed bucket's data bytes and rows go into the
    manifest's ``bucket_bytes`` and ``bucket_rows`` for the next merge's
    split decision (a driver-side stat and footer read of the files just
    renamed). Returns the directories installed."""
    version = int(manifest["version"]) + 1
    buckets = dict(manifest["buckets"])
    sizes = dict(manifest.get("bucket_bytes", {}))
    rows = dict(manifest.get("bucket_rows", {}))
    replaced = []
    written = 0
    for bk in touched:
        key = str(bk)
        if key in buckets:
            replaced.append(buckets[key])
        src = os.path.join(staged, f"_bucket={bk}")
        if os.path.exists(src):
            new_dir = os.path.join(path, _bucket_dirname(bk, version))
            os.rename(src, new_dir)
            buckets[key] = os.path.basename(new_dir)
            sizes[key], rows[key] = _data_stats(new_dir)
            written += 1
        else:
            buckets.pop(key, None)
            sizes.pop(key, None)
            rows.pop(key, None)
    _commit_manifest(
        path,
        {"version": version, "num_buckets": num_buckets, "buckets": buckets,
         "bucket_bytes": sizes, "bucket_rows": rows, "garbage": replaced,
         "history": _rotate_history(manifest, retain_snapshots)},
    )
    shutil.rmtree(staged, ignore_errors=True)
    return written


def merge_warehouse_batch(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    num_buckets: int | None = None,
    keys: Sequence[str] = tuple(DEDUP_KEY),
    order_col: str = "version",
    retain_snapshots: int = 1,
) -> int:
    """MERGE-style upsert that rewrites only the buckets a batch's keys hash
    into, with SNAPSHOT-ATOMIC visibility for concurrent readers.

    Layout: one directory per bucket (``_bucket = pmod(xxhash64(keys), N)``)
    per version, resolved through ``_manifest.json``. A micro-batch reads
    and rewrites just the buckets its keys hash into, and each bucket holds
    at most about one scan split (``spark.sql.files.maxPartitionBytes``),
    so a batch's I/O is bounded by (buckets it touches) x (one split) —
    whatever the table's size. All touched buckets are staged as NEW
    version directories first, then published by one atomic manifest rename
    (``_commit_manifest``): a reader resolving the manifest before the
    commit sees the complete old snapshot, after it the complete new one,
    never a mix. This is the plain-parquet equivalent of Delta/Iceberg
    ``MERGE INTO``.

    Bucket count: a new table starts at ``num_buckets`` buckets (default 1:
    a small table is one file, and a batch writes one file and lists one
    directory). The manifest then owns the count — a later caller's
    ``num_buckets`` is ignored, since a drifting count would split keys
    across buckets — and records each bucket's data bytes, measured by the
    commit. When the largest bucket exceeds one scan split, the next merge
    re-buckets the whole table in its one atomic commit: the count grows
    to the smallest power-of-two multiple that brings the largest bucket
    under the split, unless its rows average more than a split, which no
    count can bring under it (``_grown_bucket_count``). As
    ``pmod(h, m*N) = pmod(h, N) mod N``, old bucket ``b``'s rows land
    only in new buckets ``b + k*N``; the rewrite is this
    same touched-bucket path with every bucket touched under the new
    modulus. The decision reads only the manifest: no Spark job, no
    listing.

    Crash safety: a crash before the manifest commit leaves only
    unreferenced new-version directories — the table still reads as the old
    snapshot, and the next merge garbage-collects the strays; the
    checkpointed ``foreachBatch`` retry then re-merges the same batch,
    which is idempotent because ``latest_per_key`` is. The previous
    ``retain_snapshots`` snapshots stay fully readable (manifest
    ``history``) — in-flight readers finish their scans, and
    ``read_warehouse(version=)`` time-travels to any retained version
    until ``vacuum_warehouse`` expires it: the knob Iceberg calls
    snapshot expiry, Delta ``VERSION AS OF`` + ``VACUUM``.

    A directory without a manifest is only started as a fresh table when
    it holds nothing but ``._*`` staging leftovers; anything else raises
    ``ValueError`` with the files untouched, so a stored table is never
    silently discarded.

    The batch is read once (``_tag_buckets``). Returns the number of
    buckets written.
    """
    manifest = _read_manifest(path)
    if manifest is None:
        stored = (
            [e for e in os.listdir(path) if not e.startswith("._")]
            if os.path.exists(path)
            else []
        )
        if stored:
            raise ValueError(
                f"{path} holds files but no {_MANIFEST}; refusing to start "
                "a fresh table over them"
            )
        os.makedirs(path, exist_ok=True)
        # version 0 is committed before any bucket is staged, so a crash
        # mid-way leaves a manifest whose entry GC collects the strays
        manifest = {"version": 0, "num_buckets": num_buckets or 1, "buckets": {},
                    "garbage": []}
        _commit_manifest(path, manifest)
    old_n = int(manifest["num_buckets"])
    num_buckets = _grown_bucket_count(
        old_n,
        manifest.get("bucket_bytes", {}),
        manifest.get("bucket_rows", {}),
        _split_bytes(spark),
    )

    # entry GC: unreferenced versions are aged-out garbage (replaced a
    # full commit ago — lag-1 retention) or crashed pre-commit strays
    _gc_unreferenced(path, manifest)

    bucket = _bucket_of(keys, num_buckets)
    b, touched = _tag_buckets(batch, bucket)
    if num_buckets != old_n:
        touched = list(range(num_buckets))  # the split rewrites every bucket
    if not touched:
        _commit_manifest(path, {**manifest, "garbage": []})
        return 0
    # new bucket t holds rows of old bucket t mod old_n (the same bucket
    # when the count is unchanged)
    current_dirs = [
        os.path.join(path, manifest["buckets"][str(bk)])
        for bk in sorted({t % old_n for t in touched})
        if str(bk) in manifest["buckets"]
    ]
    if current_dirs:
        # bucket dirs store only data columns; the bucket id is recomputed
        # from the keys — the same deterministic expression that routed the
        # rows at write time. mergeSchema: see read_warehouse.
        current = (
            spark.read.option("mergeSchema", "true")
            .parquet(*current_dirs)
            .withColumn("_bucket", bucket)
        )
        merged = latest_per_key(
            current.unionByName(b, allowMissingColumns=True),
            keys=keys,
            order_col=order_col,
        )
    else:
        merged = latest_per_key(b, keys=keys, order_col=order_col)
    staged = path + "._merge_tmp"
    if os.path.exists(staged):
        shutil.rmtree(staged)
    merged.write.mode("overwrite").partitionBy("_bucket").parquet(staged)
    return _publish(path, staged, touched, manifest, num_buckets, retain_snapshots)


def read_warehouse_key(
    spark: SparkSession,
    path: str,
    key_values: Sequence[str],
    keys: Sequence[str] = tuple(DEDUP_KEY),
) -> DataFrame:
    """Point lookup on a MERGE-sink table: hash the key to its bucket and
    scan ONLY that bucket's directory (resolved through the manifest) —
    I/O is one bucket, at most about one scan split, regardless of the
    table's size: the read-side payoff of the bucketed layout. Falls back
    to a filtered full scan on non-manifest tables. The returned frame is
    already filtered to the key.
    """
    manifest = _read_manifest(path)
    cond = None
    for col, val in zip(keys, key_values):
        c = F.col(col) == F.lit(val)
        cond = c if cond is None else cond & c
    if manifest is None:
        return read_warehouse(spark, path).filter(cond)
    num_buckets = int(manifest["num_buckets"])
    # same deterministic route the writer used, evaluated on the literal
    # key: a one-row Spark job, skipped when one bucket holds every key
    bk = 0
    if num_buckets > 1:
        bk = (
            spark.range(1)
            .select(
                F.pmod(
                    F.xxhash64(*[F.lit(v) for v in key_values]), F.lit(num_buckets)
                ).cast("int")
            )
            .first()[0]
        )
    dirname = manifest["buckets"].get(str(bk))
    if dirname is None:  # bucket never written -> key cannot exist
        return read_warehouse(spark, path).filter(cond).limit(0)
    return spark.read.parquet(os.path.join(path, dirname)).filter(cond)


def save_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    buckets: int = 32,
    path: str | None = None,
) -> None:
    """Persist as a bucketed+sorted managed table for co-located joins.

    Two tables bucketed on the same keys with the same bucket count join
    WITHOUT an exchange: each task zips matching buckets (sort-merge over
    pre-sorted buckets, no shuffle, no sort). At 100 TB this is the
    difference between re-shuffling the fact table on every join and
    paying the layout cost once at write time. Bucket pruning also applies
    to point lookups on the bucket key.
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, *keys)
        .sortBy(*keys)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def compact_warehouse(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
    max_workers: int = 4,
    zorder_by: tuple[str, str] | None = None,
    zorder_bits: int = 8,
) -> int:
    """Rewrite each day partition into ~target-sized files (the small-files
    compaction every streaming-append warehouse needs operationally).

    Micro-batch appends leave one small file per batch per partition; scans
    then pay per-file open cost and lose row-group pruning. Compaction
    rewrites day-by-day — each rewrite is partition-local, so at 100 TB it
    runs incrementally on recent days, not the whole table. Day rewrites are
    submitted concurrently (Spark's scheduler interleaves the jobs) instead
    of serially.

    ``zorder_by=(col_a, col_b)`` additionally CLUSTERS each rewritten
    partition by the Morton interleave of the two (numeric) columns —
    Delta's ``OPTIMIZE ... ZORDER BY``: files are range-partitioned on the
    z-key, so each file covers a bounded rectangle of (a, b) space and
    min/max footer stats prune scans filtered on EITHER column. The
    quantization min/max is per day partition (a 4-value driver-bounded
    aggregate), which is what scoped OPTIMIZE does on a partitioned table. NULL days — the soft-delete tombstones whose
    original_timestamp is NULL by design — live in the
    ``__HIVE_DEFAULT_PARTITION__`` directory and are compacted too. Returns
    the number of partitions rewritten. On Delta/Iceberg this is OPTIMIZE /
    rewrite_data_files; plain parquet needs the staging-dir swap used here.
    """
    import glob as _glob
    from concurrent.futures import ThreadPoolExecutor

    # repair any promote a previous compaction crashed in the middle of
    # (old-copy names are keyed by partition directory, so this is exact)
    for leftover in _glob.glob(f"{path}._compact_old_*"):
        _recover_dir(
            os.path.join(path, leftover.rsplit("._compact_old_", 1)[-1]), leftover
        )

    current = spark.read.parquet(path)
    days = [r["_day"] for r in current.select("_day").distinct().collect()]

    def rewrite(day: object) -> bool:
        dirname = "_day=__HIVE_DEFAULT_PARTITION__" if day is None else f"_day={day}"
        dst = os.path.join(path, dirname)
        if not os.path.isdir(dst):
            return False
        # read the partition directory directly: each rewrite only lists its
        # own files, so concurrent day swaps can't invalidate the scan
        part = spark.read.parquet(dst)
        n = part.count()
        files = max(1, -(-n // target_rows_per_file))
        staged = f"{path}._compact_tmp_{dirname}"
        out = part.repartition(files)
        if zorder_by is not None and n > 0:
            from etl_pipeline_challenge_aladia_spark.operators.layout import (
                quantize_col,
                zorder_key_col,
            )

            ca, cb = zorder_by
            stats = part.agg(
                F.min(ca).alias("mna"), F.max(ca).alias("mxa"),
                F.min(cb).alias("mnb"), F.max(cb).alias("mxb"),
            ).first()
            if stats["mna"] is not None and stats["mnb"] is not None:
                z = zorder_key_col(
                    quantize_col(
                        F.col(ca), F.lit(stats["mna"]), F.lit(stats["mxa"]),
                        zorder_bits,
                    ),
                    quantize_col(
                        F.col(cb), F.lit(stats["mnb"]), F.lit(stats["mxb"]),
                        zorder_bits,
                    ),
                    zorder_bits,
                )
                out = (
                    part.withColumn("_z", z)
                    .repartitionByRange(files, "_z")
                    .sortWithinPartitions("_z")
                    .drop("_z")
                )
        out.write.mode("overwrite").parquet(staged)
        _promote_dir(staged, dst, f"{path}._compact_old_{dirname}")
        return True

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        done = list(pool.map(rewrite, days))
    return sum(done)


def table_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    keys: Sequence[str] = tuple(DEDUP_KEY),
    order_col: str = "version",
) -> DataFrame:
    """Change data feed between two RETAINED snapshots: one row per key
    whose latest state differs, tagged ``_change_type`` in
    ('insert', 'update', 'delete') — Delta's ``table_changes`` on top of
    the manifest history, the hook an incremental downstream pipeline
    polls instead of re-scanning the table.

    Diffed by full outer join on the merge keys comparing ``order_col``
    (the sinks' monotonic version column), so a row rewritten with the
    same version is — correctly — not a change. 'delete' only appears if
    rows were physically removed between snapshots (the CDC pipeline's
    soft deletes surface as 'update' of ``is_deleted``, matching its
    warehouse semantics). Emitted columns are the NEW side for
    insert/update and the OLD side for delete.

    Cost: a keyed join of exactly the two snapshots. Each snapshot already
    holds one row per key (every merge commit writes ``latest_per_key``
    output and erasure only removes rows), so neither side is re-deduped.
    At 100 TB the join could be further restricted to buckets whose
    directory names differ between the snapshots when both share a bucket
    count (version-named directories make the unchanged ones trivially
    identical).
    """
    o_df = read_warehouse(spark, path, version=from_version)
    n_df = read_warehouse(
        spark, path, version=to_version
    )  # None -> current snapshot
    key_cols = list(keys)
    # Schema evolution: the old snapshot may predate columns added by a
    # later mergeSchema write — patch them in as typed NULLs (from the new
    # side's schema) so the diff projection resolves on both sides.
    o_cols = set(o_df.columns)
    for field in n_df.schema.fields:
        if field.name not in o_cols:
            o_df = o_df.withColumn(field.name, F.lit(None).cast(field.dataType))
    o = o_df.alias("o")
    n = n_df.alias("n")
    cond = None
    for k in key_cols:
        c = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = c if cond is None else cond & c
    joined = o.join(n, cond, "full_outer")
    o_key = F.col(f"o.{key_cols[0]}")
    n_key = F.col(f"n.{key_cols[0]}")
    change = (
        F.when(o_key.isNull(), F.lit("insert"))
        .when(n_key.isNull(), F.lit("delete"))
        .when(
            F.col(f"n.{order_col}") != F.col(f"o.{order_col}"), F.lit("update")
        )
        .otherwise(F.lit(None))
    )
    # Whole-side row selection, NOT per-column coalesce: an update that
    # legitimately sets a column to NULL (e.g. a soft-delete tombstone
    # writing NULL original_timestamp/watched_ratio) must emit the NEW
    # NULL, not the stale old value. New side whenever the key exists on
    # the new side; old side only for deletes.
    out_cols = [
        F.when(n_key.isNotNull(), F.col(f"n.{c}"))
        .otherwise(F.col(f"o.{c}"))
        .alias(c)
        for c in n.columns
    ]
    return (
        joined.withColumn("_change_type", change)
        .filter(F.col("_change_type").isNotNull())
        .select(*out_cols, "_change_type")
    )


def erase_warehouse_keys(
    spark: SparkSession,
    keys_df: DataFrame,
    path: str,
    keys: Sequence[str] = tuple(DEDUP_KEY),
    retain_snapshots: int = 1,
) -> int:
    """Hard row erasure (the GDPR/right-to-be-forgotten primitive every
    training-data warehouse needs): physically remove all rows matching
    ``keys_df``'s key tuples, with I/O proportional to the TOUCHED buckets
    — never a full-table rewrite on bucketed MERGE tables.

    Same commit protocol as the sinks: touched buckets are staged as new
    version directories and published by one atomic manifest rename, so
    readers see the pre- or post-erasure snapshot, never a mix. NOTE the
    erased rows still exist in RETAINED past snapshots (time travel) —
    complete physical purge requires ``vacuum_warehouse(path)`` after the
    erase, which is the same two-step contract Delta documents for GDPR
    (DELETE then VACUUM). ``table_changes`` across the erase commit
    reports the rows as ``delete``.

    Raises ``ValueError`` on a path without a snapshot manifest. Returns
    the number of bucket directories written.
    """
    manifest = _read_manifest(path)
    if manifest is None:
        raise ValueError(f"{path} has no snapshot manifest; nothing to erase from")
    key_cols = list(keys)
    num_buckets = int(manifest["num_buckets"])
    bucket = _bucket_of(key_cols, num_buckets)
    erase, touched = _tag_buckets(keys_df.select(*key_cols).distinct(), bucket)
    touched = [bk for bk in touched if str(bk) in manifest["buckets"]]
    if not touched:
        return 0
    current_dirs = [
        os.path.join(path, manifest["buckets"][str(bk)]) for bk in touched
    ]
    current = (
        spark.read.option("mergeSchema", "true")
        .parquet(*current_dirs)
        .withColumn("_bucket", bucket)
    )
    kept = current.join(erase.select(*key_cols), key_cols, "left_anti")
    staged = path + "._erase_tmp"
    if os.path.exists(staged):
        shutil.rmtree(staged)
    kept.write.mode("overwrite").partitionBy("_bucket").parquet(staged)
    # a touched bucket with nothing staged was fully erased
    _publish(path, staged, touched, manifest, num_buckets, retain_snapshots)
    return len(touched)
