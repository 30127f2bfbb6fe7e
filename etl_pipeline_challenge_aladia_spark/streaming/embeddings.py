"""Streaming embedding ingest onto a FROZEN coarse quantizer.

The online half of the IVF/SemDeDup serving story: an index is trained
once (``kmeans_with_centroids``), then a continuous stream of new
vectors is ROUTED — not re-trained — one broadcast argmin per
micro-batch (``assign_to_centroids``), appended into a cell-partitioned
layout (scans for "probe cells c3, c7" prune to those directories), and
monitored: per-batch per-cell occupancy + quantization error land in a
stats log whose divergence from the training baseline
(``operators/similarity.py:cell_drift`` semantics) is the re-train
trigger. This is how production ANN deployments amortize training at
100 TB: assignment is map-only against a k x dim broadcast table, so
ingest cost per batch is linear in the batch, independent of the index
or corpus size.

Composition, not new machinery: ``foreachBatch`` runs the exact batch
operator; idempotence comes from batch-keyed overwrite (a checkpoint-
replayed batch rewrites its own output), the same contract as
``streaming/docs.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from etl_pipeline_challenge_aladia_spark.operators.similarity import (
    assign_to_centroids,
)
from etl_pipeline_challenge_aladia_spark.streaming.store import (
    COMPACTED_DIR,
    FileIngest,
    StoreSpec,
    append_batch,
    batch_dir,
    carry_erasure,
    read_store,
)

EMB_STREAM_SCHEMA = "vec_id long, embedding array<double>"

#: the cell-partitioned index, erased by vec_id with its ``cell=``
#: layout kept. Its empty-read schema includes the discovered directory
#: columns (batch, cell) in discovery order, so empty and non-empty
#: reads union cleanly; a ``rebuild_index`` layout reads a NULL batch
EMBEDDING_INDEX = StoreSpec(
    "vec_id long, embedding array<double>, dist_fx long, batch int, cell int",
    key="vec_id",
    partition_by=("cell",),
)

#: per-batch per-cell ingest stats (count + exact fixed-point error sum)
INGEST_STATS = StoreSpec(
    "cell int, n_vecs long, sum_dist_fx long, batch_id long"
)


def _route(
    batch: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``batch`` routed onto the frozen centroids: (id_col, vec_col,
    cell, dist_fx) — the index row every ingest and rebuild writes."""
    return (
        assign_to_centroids(batch, cents, id_col=id_col, vec_col=vec_col)
        .join(batch.select(F.col(id_col).alias("id"), vec_col), "id")
        .select(
            F.col("id").alias(id_col),
            F.col(vec_col),
            F.col("cluster").alias("cell"),
            "dist_fx",
        )
    )


def _cell_stats(routed: DataFrame, batch_id: int) -> DataFrame:
    """One routed batch's per-cell stats rows (``INGEST_STATS``)."""
    return (
        routed.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("dist_fx").alias("sum_dist_fx"),
        )
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
    )


def make_embedding_ingest_processor(
    centroids: DataFrame,
    index_path: str,
    stats_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """The ``foreachBatch`` body: route the batch onto the frozen
    centroids, append vectors into ``cell=<id>`` partitions, and record
    per-cell batch stats (count + exact fixed-point error sum).

    ``centroids`` is the small frozen table (cluster, c) — broadcast
    into every batch's argmin. Both writes are ``batch=<id>``-keyed
    overwrites, so checkpoint replays are idempotent."""
    cents = centroids.localCheckpoint(eager=True)  # freeze once, reuse per batch

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        # one computation for both writes
        routed = _route(batch, cents, id_col, vec_col).localCheckpoint(eager=True)
        append_batch(
            routed, index_path, batch_id, EMBEDDING_INDEX.partition_by
        )
        append_batch(_cell_stats(routed, batch_id), stats_path, batch_id)

    return process_batch


EMBEDDING_INGEST = FileIngest(
    EMB_STREAM_SCHEMA, make_embedding_ingest_processor, fmt="parquet",
)


#: per-batch duplicate report
DEDUP_REPORT = StoreSpec("vec_id long, canonical_id long, max_cos double")


def make_semantic_dedup_ingest_processor(
    centroids: DataFrame,
    index_path: str,
    report_path: str,
    threshold: float = 0.95,
):
    """Screening ingest — the streaming twin of
    ``operators/similarity.py:semantic_dedup_incremental``: per
    micro-batch, screen the delta against the ACCUMULATED
    cell-partitioned index with ``semantic_dedup_screen`` (route onto
    the frozen quantizer, compare only against stored in-cell members),
    write the duplicate report, then append the routed delta into the
    index — so the next batch screens against it (the
    ``streaming/docs.py`` accumulation contract; within-batch twins
    surface one batch later).

    Replay-idempotent: both writes are ``batch=<id>``-keyed overwrites,
    and the screen reads STRICTLY-EARLIER batches only (streaming/
    store.py — a mid-stream checkpoint replay must not screen against
    batches that ran after the replayed one), so a checkpoint-replayed
    batch sees exactly the corpus the original run saw."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        semantic_dedup_screen,
    )

    cents = centroids.localCheckpoint(eager=True)

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.localCheckpoint(eager=True)
        corpus = read_store(
            spark, EMBEDDING_INDEX, index_path, strictly_before=batch_id
        ).select("vec_id", "embedding", "cell")
        report = semantic_dedup_screen(
            corpus, batch, cents, threshold=threshold
        )
        append_batch(report, report_path, batch_id)
        append_batch(
            _route(batch, cents), index_path, batch_id,
            EMBEDDING_INDEX.partition_by,
        )

    return process_batch


SEMANTIC_DEDUP_INGEST = FileIngest(
    EMB_STREAM_SCHEMA, make_semantic_dedup_ingest_processor, fmt="parquet",
)


# ---------------------------------------------------------------------------
# Ingest-time benchmark decontamination: screen against a FROZEN eval index
# ---------------------------------------------------------------------------

DECON_REPORT = StoreSpec("vec_id long, matched_eval_id long, cosine double")


def build_eval_index(
    eval_set: DataFrame,
    k: int | None = None,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    route: str = "auto",
) -> tuple[DataFrame, DataFrame]:
    """Cluster the eval/benchmark set once into the frozen index the
    decontamination screen routes against: (eval_cells (vec_id,
    embedding, cell), centroids (cluster, c)). Same auto-k /
    auto-route pricing as ``semantic_dedup_incremental`` (the batch
    twin), both checkpointed — the eval side is small and read by
    every micro-batch."""
    import etl_pipeline_challenge_aladia_spark.operators.similarity as sim
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        auto_semantic_k,
        kmeans_with_centroids,
        resolve_semantic_route,
    )

    if k is None or route == "auto":
        n = eval_set.count()
        if k is None:
            k = max(32, min(max(n, 1), auto_semantic_k(n, iters)))
        route = resolve_semantic_route(route, n, spark=eval_set.sparkSession)
    if sim._assign_impl() != "sql":
        # fused build (r14): the assignment kernel echoes the vector, so
        # cells needs no join back to the eval set, and the centroid
        # table is rebuilt from the driver-local map (a LocalTableScan —
        # no lineage to cut, so no checkpoint job for it either)
        from etl_pipeline_challenge_aladia_spark.functions.vectors import (
            to_double_array,
        )

        vecs = eval_set.select(
            F.lit(0).alias("grp"),
            F.col(id_col).alias("id"),
            to_double_array(vec_col).alias("v"),
        )
        cent_map, hier_plans = sim._lloyd_cent_map(
            vecs, k, iters, scale=6, single_group=True, route=route
        )
        id_t = vecs.schema["id"].dataType.simpleString()
        cells = vecs.mapInArrow(
            sim._make_assign_v_fn(cent_map, hier_plans),
            f"id {id_t}, cluster int, v array<double>",
        ).select(
            F.col("id").alias(id_col),
            F.col("v").alias(vec_col),
            F.col("cluster").alias("cell"),
        ).localCheckpoint(eager=True)
        centroids = sim._centroids_df(
            eval_set.sparkSession, cent_map, vecs.schema["grp"].dataType
        ).select("cluster", "c")
        return cells, centroids
    assigned, centroids = kmeans_with_centroids(
        eval_set, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        route=route,
    )
    cells = (
        assigned.select(
            F.col("id").alias(id_col), F.col("cluster").alias("cell")
        )
        .join(eval_set.select(id_col, vec_col), id_col)
        .localCheckpoint(eager=True)
    )
    return cells, centroids.localCheckpoint(eager=True)


def save_eval_index(
    eval_cells: DataFrame,
    centroids: DataFrame,
    store_path: str,
    version: int = 0,
) -> None:
    """Persist one frozen eval-index generation — cells + centroids
    under ``version=<v>`` with the quantizer store's publish-then-point
    atomic flip (VERDICT r12 #1). An eval/benchmark set changes by
    RE-PUBLICATION (a new version), never by accumulation, so the
    version-pointer layout fits it exactly: readers follow the CURRENT
    pointer, a half-written new generation is invisible until the flip,
    and a pinned version reproduces any historical screen."""
    vdir = os.path.join(store_path, f"version={version}")
    # one persisted layout whichever build wrote the cells: the Arrow
    # build's (id, vector as array<double>, cell int). The sql build
    # emits (id, cell, vector) in the source's element type.
    vec = next(
        f.name for f in eval_cells.schema if isinstance(f.dataType, ArrayType)
    )
    idc = next(c for c in eval_cells.columns if c not in (vec, "cell"))
    eval_cells = eval_cells.select(
        idc,
        F.col(vec).cast("array<double>").alias(vec),
        F.col("cell").cast("int").alias("cell"),
    )
    # an eval index is METADATA-SIZED by contract (a benchmark set of
    # thousands of rows against a 100 TB corpus): one file per layer, so
    # the publish commits one object and every read-back lists one file
    # instead of a task-count's worth of tiny parquets (guide §6). The
    # coalesce reads the builder's checkpoint cache, so the single write
    # task copies cached rows rather than recomputing the clustering.
    eval_cells.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(vdir, "cells")
    )
    # repartition, not coalesce: centroids is typically a driver-local
    # relation (LocalTableScan), and coalesce(1) over one measures ~4 s
    # against repartition(1)'s ~0.5 s — the no-shuffle narrowing forces a
    # degenerate single-task evaluation path there
    centroids.repartition(1).write.mode("overwrite").parquet(
        os.path.join(vdir, "centroids")
    )
    _flip_current(store_path, version)


def load_eval_index(
    spark: SparkSession, store_path: str, version: int | None = None
) -> tuple[DataFrame, DataFrame, int]:
    """(eval_cells, centroids, version) of the CURRENT generation — or
    of a pinned ``version``. The batch screens (operators/similarity.py:
    semantic_decontaminate_from_index) and the ingest processor both
    read through here, so one published index serves every later
    curation run instead of each re-clustering the eval set."""
    if version is None:
        version = current_quantizer_version(store_path)
    if version is None:
        raise ValueError(f"no eval index published under {store_path}")
    vdir = os.path.join(store_path, f"version={version}")
    return (
        spark.read.parquet(os.path.join(vdir, "cells")),
        spark.read.parquet(os.path.join(vdir, "centroids")),
        version,
    )


def make_decontamination_ingest_processor(
    eval_cells: DataFrame,
    centroids: DataFrame,
    report_path: str,
    threshold: float = 0.95,
):
    """Ingest-time benchmark decontamination — the streaming twin of
    ``operators/similarity.py:semantic_decontaminate``: every arriving
    training micro-batch is screened against the FROZEN eval index
    (one broadcast argmin + in-cell compare, linear in the batch) and
    leaked rows land in a ``batch=<id>``-keyed report.

    Contrast with the dedup ingest (``make_semantic_dedup_ingest_
    processor``): the index NEVER accumulates stream content — an eval
    set changes by re-publication, not by what flows past it — so
    there is no index append and no strictly-earlier read discipline.
    A checkpoint-replayed batch rescreens against the identical index
    and overwrites its own report: idempotent by construction, and a
    train-train near-pair is deliberately NOT flagged (that is the
    dedup screen's job, not decontamination's)."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        semantic_dedup_screen,
    )

    cells = eval_cells.localCheckpoint(eager=True)
    cents = centroids.localCheckpoint(eager=True)

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        report = semantic_dedup_screen(
            cells, batch.localCheckpoint(eager=True), cents,
            threshold=threshold,
        ).select(
            "vec_id",
            F.col("canonical_id").alias("matched_eval_id"),
            F.col("max_cos").alias("cosine"),
        )
        append_batch(report, report_path, batch_id)

    return process_batch


DECONTAMINATION_INGEST = FileIngest(
    EMB_STREAM_SCHEMA, make_decontamination_ingest_processor, fmt="parquet",
)


# ---------------------------------------------------------------------------
# Drift-monitored ingest: versioned quantizer store + retrain loop
# ---------------------------------------------------------------------------

#: stats written by the monitored processor carry the quantizer version
#: they were routed with, so drift is always measured against the
#: baseline of the SAME quantizer generation
MONITOR_STATS = StoreSpec(
    "cell int, n_vecs long, sum_dist_fx long, batch_id long, "
    "quantizer_version int"
)

#: per-cell training occupancy stored next to each centroid version
BASELINE_SCHEMA = "cell int, n_train long"


def _flip_current(store_path: str, version: int) -> None:
    """Atomically advance the CURRENT pointer (write-temp + rename — the
    POSIX-atomic publish; object stores use their conditional-put
    equivalent). Never moves backwards: a checkpoint-replayed batch that
    re-runs an old retrain cannot roll an already-published newer
    quantizer back."""
    cur = current_quantizer_version(store_path)
    if cur is not None and cur >= version:
        return
    os.makedirs(store_path, exist_ok=True)
    tmp = os.path.join(store_path, ".CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(store_path, "CURRENT"))


def current_quantizer_version(store_path: str) -> int | None:
    try:
        with open(os.path.join(store_path, "CURRENT")) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def save_quantizer(
    centroids: DataFrame, baseline: DataFrame, store_path: str, version: int
) -> None:
    """Publish one quantizer generation: centroids (cluster, c) + its
    per-cell training-occupancy baseline under ``version=<v>``, then
    atomically flip the CURRENT pointer. Readers only ever follow the
    pointer, so a half-written version directory is invisible until the
    flip — the swap is atomic from every consumer's view."""
    vdir = os.path.join(store_path, f"version={version}")
    centroids.write.mode("overwrite").parquet(os.path.join(vdir, "centroids"))
    baseline.write.mode("overwrite").parquet(os.path.join(vdir, "baseline"))
    _flip_current(store_path, version)


def load_quantizer(
    spark: SparkSession, store_path: str, version: int | None = None
) -> tuple[DataFrame, DataFrame, int]:
    """(centroids, baseline, version) of the CURRENT generation — or of
    a PINNED ``version`` (what a replayed micro-batch passes so it
    re-routes with the same generation it originally used, even if a
    retrain it triggered was already published)."""
    if version is None:
        version = current_quantizer_version(store_path)
    if version is None:
        raise ValueError(f"no quantizer published under {store_path}")
    vdir = os.path.join(store_path, f"version={version}")
    return (
        spark.read.parquet(os.path.join(vdir, "centroids")),
        spark.read.parquet(os.path.join(vdir, "baseline")),
        version,
    )


def train_and_save_quantizer(
    embeddings: DataFrame,
    k: int,
    store_path: str,
    version: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    route: str = "auto",
) -> None:
    """Train the deterministic coarse quantizer and publish it with its
    occupancy baseline — the bootstrap step of the monitored ingest.
    ``route="auto"`` (default) applies the same measured routing rule
    as batch semantic dedup (operators/similarity.py:
    resolve_semantic_route): flat Lloyd assignment below the
    8192-vector crossover, two-level-routed at or above it — a
    retrain-after-drift at corpus scale should not silently pay the
    flat plan's measured n^1.34 curve."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        kmeans_with_centroids,
        resolve_semantic_route,
    )

    if route == "auto":
        route = resolve_semantic_route(
            "auto", embeddings.count(), spark=embeddings.sparkSession
        )
    assigned, cents = kmeans_with_centroids(
        embeddings, k=k, id_col=id_col, vec_col=vec_col, route=route
    )
    baseline = assigned.groupBy(
        F.col("cluster").cast("int").alias("cell")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_train"))
    save_quantizer(cents, baseline, store_path, version)


def drift_report(baseline: DataFrame, stats: DataFrame) -> DataFrame:
    """Per-cell drift of the ingested population vs the training
    baseline — the ``cell_drift`` formula over stored stats instead of
    raw vectors: drift_permille = floor(n_ingest*1000/total_ingest) -
    floor(n_train*1000/total_train). Aggregates k-bounded stats rows,
    never rescans vectors."""
    t = baseline.agg(F.sum("n_train")).first()[0] or 0
    ing = stats.groupBy("cell").agg(F.sum("n_vecs").alias("n_ingest"))
    d = ing.agg(F.sum("n_ingest")).first()[0] or 0
    joined = baseline.join(ing, "cell", "full_outer").select(
        "cell",
        F.coalesce(F.col("n_train"), F.lit(0)).cast("long").alias("n_train"),
        F.coalesce(F.col("n_ingest"), F.lit(0)).cast("long").alias("n_ingest"),
    )
    share_t = F.when(
        F.lit(t) > 0, F.floor(F.col("n_train") * 1000 / F.lit(t))
    ).otherwise(F.lit(0))
    share_d = F.when(
        F.lit(d) > 0, F.floor(F.col("n_ingest") * 1000 / F.lit(d))
    ).otherwise(F.lit(0))
    return joined.withColumn(
        "drift_permille", (share_d - share_t).cast("long")
    )


def _routed_version(
    spark: SparkSession,
    stats_path: str,
    batch_id: int,
    column: str = "quantizer_version",
) -> int | None:
    """The model generation a batch was ALREADY routed with, read from
    its own previously-written stats directory — present only on a
    checkpoint replay. Pinning it makes replays byte-identical: the
    batch re-routes with the original generation instead of one its own
    retrain published, so index/stats rewrites match the first run and
    the drift evaluation cannot fire a spurious extra retrain.
    ``column`` names the version column (the text drift loop shares this
    protocol with its own stats schema — streaming/docs.py)."""
    d = batch_dir(stats_path, batch_id)
    if not os.path.isdir(d):
        return None
    try:
        rows = spark.read.parquet(d).select(column).limit(1).collect()
    except Exception:
        return None  # half-written stats: original run never retrained
    return int(rows[0][0]) if rows else None


def make_monitored_ingest_processor(
    store_path: str,
    index_path: str,
    stats_path: str,
    drift_threshold_permille: int = 100,
    min_evidence_permille: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """The closed drift→retrain loop: per micro-batch, route onto the
    CURRENT quantizer generation, append to the cell-partitioned index,
    record version-tagged stats, then evaluate accumulated drift for
    this generation against its training baseline — and when any cell's
    |drift_permille| crosses the threshold, RETRAIN on the accumulated
    index (same deterministic k-means, same k) and atomically publish
    the next generation. Later batches route against the new centroids;
    the index keeps per-batch cell layouts (a background re-index can
    rewrite old batches cell-by-cell without blocking ingest).

    Scale: routing is the linear broadcast argmin; drift works on
    k-bounded stats rows; only an actual retrain rescans the index —
    exactly as often as the threshold fires."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        pinned = _routed_version(spark, stats_path, batch_id)
        cents, baseline, version = load_quantizer(
            spark, store_path, version=pinned
        )
        batch = batch.localCheckpoint(eager=True)
        from etl_pipeline_challenge_aladia_spark.operators.similarity import (
            kmeans_with_centroids,
        )

        routed = _route(batch, cents, id_col, vec_col).localCheckpoint(eager=True)
        append_batch(
            routed, index_path, batch_id, EMBEDDING_INDEX.partition_by
        )
        append_batch(
            _cell_stats(routed, batch_id).withColumn(
                "quantizer_version", F.lit(version).cast("int")
            ),
            stats_path,
            batch_id,
        )
        gen_stats = read_store(spark, MONITOR_STATS, stats_path).filter(
            F.col("quantizer_version") == version
        )
        # minimum-evidence gate: drift compares POPULATIONS, and right
        # after a retrain the new generation has seen only one small
        # batch — its occupancy share is sampling noise, not drift, and
        # without the gate every retrain immediately triggers the next
        # (generation churn). Evaluate only once this generation has
        # ingested >= min_evidence_permille/1000 of its baseline count.
        ingested = gen_stats.agg(F.sum("n_vecs")).first()[0] or 0
        trained = baseline.agg(F.sum("n_train")).first()[0] or 0
        if ingested * 1000 < min_evidence_permille * trained:
            return
        worst = (
            drift_report(baseline, gen_stats)
            .agg(F.max(F.abs(F.col("drift_permille"))))
            .first()[0]
            or 0
        )
        if worst >= drift_threshold_permille:
            data = read_store(spark, EMBEDDING_INDEX, index_path).select(
                id_col, vec_col
            )
            k = cents.count()
            assigned, new_cents = kmeans_with_centroids(
                data, k=int(k), id_col=id_col, vec_col=vec_col
            )
            new_baseline = assigned.groupBy(
                F.col("cluster").cast("int").alias("cell")
            ).agg(F.count(F.lit(1)).cast("long").alias("n_train"))
            save_quantizer(new_cents, new_baseline, store_path, version + 1)

    return process_batch


MONITORED_INGEST = FileIngest(
    EMB_STREAM_SCHEMA, make_monitored_ingest_processor, fmt="parquet",
    one_file_per_batch=True,
)


def rebuild_index(
    spark: SparkSession,
    index_path: str,
    store_path: str,
    out_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Background re-index after a quantizer retrain: route EVERY stored
    vector onto the CURRENT generation and write ONE consolidated
    cell-partitioned layout under the reserved ``compacted/`` directory
    at ``out_path`` — the offline half of the drift loop (the monitored
    ingest keeps appending per-batch layouts routed by whatever
    generation was current; this consolidates them so probes prune
    against generation-consistent cells and one directory per cell
    instead of one per batch). It is the index's compaction, with
    routing as the transform: publish-then-point, never blocking
    ingest, and safe against the fresh-checkpoint batch-0 collision
    (streaming/store.py). Returns the number of vectors re-indexed."""
    cents, _baseline, _ver = load_quantizer(spark, store_path)
    data = read_store(spark, EMBEDDING_INDEX, index_path).select(
        id_col, vec_col
    )
    routed = _route(data, cents, id_col, vec_col).localCheckpoint(eager=True)
    routed.write.mode("overwrite").partitionBy(
        *EMBEDDING_INDEX.partition_by
    ).parquet(os.path.join(out_path, COMPACTED_DIR))
    carry_erasure(spark, index_path, out_path)
    return routed.count()
