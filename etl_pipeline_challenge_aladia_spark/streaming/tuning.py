"""Tuning-decision provenance store (VERDICT r9 #7).

``tune_nprobe``/``tune_bands`` return tuples that evaporate; a
deployment wants every measured decision ON RECORD — which knob was
chosen, what recall it achieved against what target, the evaluated
curve points, and a fingerprint of the corpus the decision was measured
on — so the drift loop can close the same way drift->retrain already
does for centroids: when the serving corpus's fingerprint no longer
matches the last report's, re-tune; when a re-tune lands on a different
knob, redeploy. Reports live under the shared batch-keyed store
contract (streaming/store.py), so a checkpoint-replayed tuning run
overwrites its own report instead of duplicating it.

Reference analog: none (the reference keeps no cross-message state,
SURVEY.md §2.12); this closes the loop on the measured-decision pattern
(tune_nprobe / tune_bands / auto_salted_join / auto_semantic_k).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.functions.hashing import (
    md5_fold32_col,
)
from etl_pipeline_challenge_aladia_spark.streaming.store import (
    StoreSpec,
    append_batch,
    read_store,
)

TUNING_REPORTS = StoreSpec(
    "knob string, chosen long, achieved_recall_permille long,"
    " target_permille long, corpus_fingerprint long, n_inputs long,"
    " curve string, batch_id long"
)


def corpus_fingerprint(df: DataFrame, id_col: str) -> tuple[int, int]:
    """Deterministic, order-independent fingerprint of a tuning input:
    (sum of md5-folded ids mod 2^62, row count). Same engine-exact
    md5 fold as the samplers, so the same corpus always fingerprints
    identically across sessions and partitionings; any membership
    change moves the sum. One 1-row aggregate — bounded driver state."""
    row = df.select(
        (
            F.sum(md5_fold32_col(F.col(id_col).cast("string")))
            % F.lit(1 << 62)
        ).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return int(row.s or 0), int(row.n)


def append_tuning_report(
    spark: SparkSession,
    path: str,
    batch_id: int,
    knob: str,
    chosen: int,
    achieved_recall_permille: int,
    target_permille: int,
    fingerprint: int,
    n_inputs: int,
    trace: list | None = None,
) -> None:
    """Persist one tuning decision under the store contract — batch-
    keyed overwrite, so a replayed tune is idempotent. ``trace`` is the
    walk's evaluated (candidate, recall) points, stored as JSON: the
    curve snapshot an audit reads next to the decision."""
    row = (
        knob,
        int(chosen),
        int(achieved_recall_permille),
        int(target_permille),
        int(fingerprint),
        int(n_inputs),
        json.dumps(trace or [], separators=(",", ":")),
        int(batch_id),
    )
    append_batch(
        spark.createDataFrame([row], TUNING_REPORTS.schema), path, batch_id
    )


def tune_bands_and_report(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    batch_id: int,
    target_recall_permille: int = 900,
    **kwargs,
) -> tuple[int, int]:
    """Run the banding autotune and record the decision: chosen
    banding, achieved recall, the evaluated curve, and the tuning
    corpus's fingerprint. Returns (bands, recall) exactly like
    tune_bands."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        tune_bands,
    )

    id_col = kwargs.get("id_col", "doc_id")
    fp, n = corpus_fingerprint(docs, id_col)
    trace: list = []
    bands, recall = tune_bands(
        docs,
        target_recall_permille=target_recall_permille,
        trace=trace,
        **kwargs,
    )
    append_tuning_report(
        spark, path, batch_id, "lsh_bands", bands, recall,
        target_recall_permille, fp, n, trace,
    )
    return bands, recall


def tune_nprobe_and_report(
    spark: SparkSession,
    embeddings: DataFrame,
    queries: DataFrame,
    path: str,
    batch_id: int,
    dim: int,
    target_recall_permille: int = 900,
    **kwargs,
) -> tuple[int, int]:
    """Run the nprobe autotune and record the decision — the ANN twin
    of tune_bands_and_report; the fingerprint covers the INDEX side
    (the corpus whose drift invalidates the knob)."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        tune_nprobe,
    )

    id_col = kwargs.get("id_col", "vec_id")
    fp, n = corpus_fingerprint(embeddings, id_col)
    trace: list = []
    nprobe, recall = tune_nprobe(
        embeddings, queries, dim=dim,
        target_recall_permille=target_recall_permille,
        trace=trace, **kwargs,
    )
    append_tuning_report(
        spark, path, batch_id, "ivf_nprobe", nprobe, recall,
        target_recall_permille, fp, n, trace,
    )
    return nprobe, recall


def band_autotune_maintenance(
    spark: SparkSession,
    sf_dir: str,
    report_path: str,
    batch_id: int = 0,
    target_recall_permille: int = 900,
) -> tuple[int, int]:
    """The deployment form of the cataloged doc_lsh_band_autotune
    (VERDICT r10 missing #3): SAME fixed-size hash-priority sample,
    SAME recall walk — but the decision leaves a report behind
    (chosen banding, achieved recall, curve trace, corpus
    fingerprint). The catalog entry stays report-free so its oracle
    hash never touches the filesystem; a deployment runs THIS."""
    from etl_pipeline_challenge_aladia_spark.plans.queries import (
        band_autotune_sample,
    )

    return tune_bands_and_report(
        spark,
        band_autotune_sample(spark, sf_dir),
        report_path,
        batch_id,
        target_recall_permille=target_recall_permille,
    )


def nprobe_autotune_maintenance(
    spark: SparkSession,
    sf_dir: str,
    report_path: str,
    batch_id: int = 0,
    target_recall_permille: int = 900,
) -> tuple[int, int]:
    """The deployment form of the cataloged emb_ivf_nprobe_autotune:
    same index corpus and query sample, decision recorded. The
    fingerprint covers the INDEX side — the corpus whose drift
    invalidates the knob."""
    from etl_pipeline_challenge_aladia_spark.plans.queries import (
        nprobe_autotune_inputs,
    )

    cands, queries = nprobe_autotune_inputs(spark, sf_dir)
    return tune_nprobe_and_report(
        spark,
        cands,
        queries,
        report_path,
        batch_id,
        dim=64,
        k=5,
        target_recall_permille=target_recall_permille,
    )


# ---------------------------------------------------------------------------
# Route-threshold provenance (VERDICT r11 missing #1): the flat->hier
# crossover of the semantic-dedup family gets the same treatment as its
# sibling approximation knobs (band width, nprobe) — measured on the
# deployment's own hardware, persisted with curve + fingerprint, and
# honored by resolve_semantic_route as a stored override. The shipped
# SEMANTIC_ROUTE_THRESHOLD=8192 constant was produced by exactly this
# measurement on the build host (log-log interpolation of the flat/hier
# timings at the 2.2k and 22k bench rungs crosses at ~7.2k vectors;
# nearest power of two is 8192); on different hardware the crossover
# moves with the BLAS/shuffle cost ratio, and this is the path that
# re-measures it.
# ---------------------------------------------------------------------------

ROUTE_THRESHOLD_KNOB = "semantic_route_threshold"

#: Dominance caps: when one route wins BOTH rungs with the shallower
#: growth exponent there is no crossover in the measurable range — route
#: everything to the winner rather than extrapolate a fiction.
ROUTE_THRESHOLD_MAX = 1 << 40  # flat dominates: never route hier
ROUTE_THRESHOLD_MIN = 1  # hier dominates: always route hier


def interpolate_route_crossover(
    rungs: list[tuple[int, float, float]],
) -> tuple[float, int]:
    """Two-point log-log fit per route over ``[(n, t_flat, t_hier)] * 2``
    -> (raw interpolated crossover n*, threshold = nearest power of two).
    The exact computation that produced the shipped constant: fit
    ``t = c * n^a`` per route through its two timings, solve
    ``c_f * n^a_f = c_h * n^a_h`` => ``n* = exp((ln c_h - ln c_f) /
    (a_f - a_h))``, then snap to the nearest power of two (the knob is a
    coarse plan switch; the curves are close near the crossover, so
    sub-octave precision is noise). Dominance cases (no crossover
    between or above the rungs in the winner's favor) return the caps
    instead of extrapolating."""
    import math

    (n1, f1, h1), (n2, f2, h2) = sorted(rungs)[:2]
    if min(n1, f1, h1, n2, f2, h2) <= 0 or n1 == n2:
        raise ValueError(f"need two positive distinct rungs, got {rungs}")
    ln_n1, ln_n2 = math.log(n1), math.log(n2)
    a_f = (math.log(f2) - math.log(f1)) / (ln_n2 - ln_n1)
    a_h = (math.log(h2) - math.log(h1)) / (ln_n2 - ln_n1)
    if f1 <= h1 and f2 <= h2 and a_f <= a_h:
        return float("inf"), ROUTE_THRESHOLD_MAX
    if f1 >= h1 and f2 >= h2 and a_f >= a_h:
        return 0.0, ROUTE_THRESHOLD_MIN
    if a_f == a_h:  # parallel curves that still cross a rung boundary
        return (
            (float("inf"), ROUTE_THRESHOLD_MAX)
            if f1 <= h1
            else (0.0, ROUTE_THRESHOLD_MIN)
        )
    if f1 >= h1 and f2 <= h2:
        # INVERTED orientation (hier wins the small rung, flat the large
        # one — a_h > a_f): a crossover exists, but the routing rule
        # resolve_semantic_route consumes is "hier when n >= threshold",
        # which cannot express "flat above n*" — emitting n* here would
        # route BOTH sides to the measured-slower plan (ADVICE r12).
        # Cap to flat-everywhere: correctness of the large-n side (where
        # absolute cost lives) dominates the forfeited small-n hier edge.
        return float("inf"), ROUTE_THRESHOLD_MAX
    ln_cf = math.log(f1) - a_f * ln_n1
    ln_ch = math.log(h1) - a_h * ln_n1
    n_star = math.exp((ln_ch - ln_cf) / (a_f - a_h))
    threshold = 1 << max(0, round(math.log2(n_star)))
    return n_star, int(
        min(max(threshold, ROUTE_THRESHOLD_MIN), ROUTE_THRESHOLD_MAX)
    )


def tune_route_threshold(
    spark: SparkSession,
    embeddings: DataFrame,
    rung_sizes: tuple[int, int] = (2048, 16384),
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    timer=None,
    trace: list | None = None,
) -> tuple[int, float]:
    """Measure the flat/hier crossover on THIS deployment's hardware:
    time the full deterministic k-means (train + assignment, auto-k —
    the stage the route switches) under both routes at two corpus rungs,
    log-log interpolate, snap to a power of two. Returns
    ``(threshold, raw n*)``; ``trace`` (if given) collects the evaluated
    ``[n, t_flat_ms, t_hier_ms]`` points for the report. ``timer`` is
    injectable for tests: ``timer(n, route) -> seconds``; the default
    builds a deterministic n-vector rung from the corpus (tiling with
    id offsets when the corpus is smaller than the rung — constant-size
    content, scaled cardinality) and times the routed k-means action."""
    if timer is None:
        from etl_pipeline_challenge_aladia_spark.operators.similarity import (
            auto_semantic_k,
            kmeans_lite,
        )

        base = embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("e")
        ).localCheckpoint(eager=True)
        # one cheap agg on the checkpointed base buys both the rung
        # replication count and a COLLISION-FREE tile stride: a fixed
        # 10M offset would alias vec_ids across tiles on a corpus whose
        # ids reach 10M, silently shrinking the rung after orderBy/limit
        # and skewing the measured crossover (ADVICE r12)
        stats = base.agg(
            F.count(F.lit(1)).alias("n"), F.max("vec_id").alias("mx")
        ).collect()[0]  # 1-row rung-sizing stats
        n_base = int(stats["n"])
        stride = int(stats["mx"] or 0) + 1

        def timer(n: int, route: str) -> float:
            import time as _time

            reps = max(1, -(-n // max(n_base, 1)))  # ceil
            tiled = base
            for r in range(1, reps):
                tiled = tiled.unionByName(
                    base.select(
                        (F.col("vec_id") + r * stride).alias("vec_id"),
                        "e",
                    )
                )
            rung = (
                tiled.orderBy("vec_id").limit(n).localCheckpoint(eager=True)
            )
            t0 = _time.monotonic()
            kmeans_lite(
                rung,
                k=max(2, auto_semantic_k(n, iters)),
                iters=iters,
                vec_col="e",
                route=route,
            ).count()
            return _time.monotonic() - t0

    rungs = []
    for n in sorted(rung_sizes):
        t_flat = float(timer(n, "flat"))
        t_hier = float(timer(n, "hier"))
        rungs.append((int(n), t_flat, t_hier))
        if trace is not None:
            trace.append(
                [int(n), round(t_flat * 1000, 1), round(t_hier * 1000, 1)]
            )
    n_star, threshold = interpolate_route_crossover(rungs)
    return threshold, n_star


def route_threshold_from_store(
    spark: SparkSession, path: str
) -> int | None:
    """The latest persisted route-threshold decision, or None when the
    store has no such report — callers feed it to semantic_dedup's
    ``route_threshold`` / resolve_semantic_route's ``threshold`` so the
    deployment's own measurement (not the build host's constant) routes
    the plan. Latest = max batch_id, numerically."""
    reports = read_store(spark, TUNING_REPORTS, path).filter(
        F.col("knob") == ROUTE_THRESHOLD_KNOB
    )
    row = reports.orderBy(F.desc("batch_id")).limit(1).collect()
    return int(row[0]["chosen"]) if row else None


def route_threshold_maintenance(
    spark: SparkSession,
    sf_dir: str,
    report_path: str,
    batch_id: int = 0,
    rung_sizes: tuple[int, int] = (2048, 16384),
    timer=None,
) -> tuple[int, float]:
    """The deployment form of the route decision (sibling of
    band_autotune_maintenance / nprobe_autotune_maintenance): re-measure
    the flat/hier crossover on the serving corpus and hardware, persist
    knob + curve + corpus fingerprint under the tuning-report contract.
    Schema reuse, documented: ``chosen`` = the power-of-two threshold,
    ``achieved_recall_permille`` = the RAW interpolated crossover in
    vectors (this knob trades time-vs-time, not recall — both routes
    are exact k-means assignments), ``target_permille`` = 0, ``curve`` =
    the evaluated [n, t_flat_ms, t_hier_ms] rungs."""
    from etl_pipeline_challenge_aladia_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    fp, n = corpus_fingerprint(emb, "vec_id")
    trace: list = []
    threshold, n_star = tune_route_threshold(
        spark, emb, rung_sizes=rung_sizes, timer=timer, trace=trace
    )
    append_tuning_report(
        spark, report_path, batch_id, ROUTE_THRESHOLD_KNOB, threshold,
        int(n_star if n_star != float("inf") else ROUTE_THRESHOLD_MAX),
        0, fp, n, trace,
    )
    return threshold, n_star
