"""Route-threshold provenance (VERDICT r11 missing #1): the semantic-
dedup flat->hier crossover gets the same measured-decision treatment as
band width and nprobe — a maintenance entry that re-measures it on the
deployment's own hardware, a persisted report (knob + curve + corpus
fingerprint) under the tuning-report contract, and a store-read override
that resolve_semantic_route honors."""

from __future__ import annotations

import math

from etl_pipeline_challenge_aladia_spark.operators.similarity import (
    SEMANTIC_ROUTE_THRESHOLD,
    resolve_semantic_route,
)
from etl_pipeline_challenge_aladia_spark.streaming.tuning import (
    ROUTE_THRESHOLD_KNOB,
    ROUTE_THRESHOLD_MAX,
    ROUTE_THRESHOLD_MIN,
    TUNING_REPORTS,
    interpolate_route_crossover,
    route_threshold_from_store,
    route_threshold_maintenance,
    tune_route_threshold,
)
from etl_pipeline_challenge_aladia_spark.streaming.store import read_store

# The r11 build-host measurements that produced the shipped constant:
# (n vectors, flat seconds, hier seconds) at the two bench rungs
# (SCALING.md / operators/similarity.py:SEMANTIC_ROUTE_THRESHOLD note).
R11_RUNGS = [(2200, 7.2, 9.3), (22000, 25.0, 19.6)]


def test_interpolation_reproduces_the_shipped_constant():
    """The recorded rule IS the measurement that produced 8192: log-log
    two-point fits cross at ~7.2k vectors, nearest power of two is the
    module constant."""
    n_star, threshold = interpolate_route_crossover(R11_RUNGS)
    assert 7000 < n_star < 7500
    assert threshold == SEMANTIC_ROUTE_THRESHOLD == 8192


def test_interpolation_dominance_caps():
    # flat wins both rungs with the shallower exponent: never route hier
    assert interpolate_route_crossover(
        [(1000, 1.0, 2.0), (10000, 5.0, 20.0)]
    ) == (float("inf"), ROUTE_THRESHOLD_MAX)
    # hier wins both rungs with the shallower exponent: always route hier
    assert interpolate_route_crossover(
        [(1000, 3.0, 1.0), (10000, 30.0, 5.0)]
    ) == (0.0, ROUTE_THRESHOLD_MIN)
    # rung order must not matter
    assert interpolate_route_crossover(list(reversed(R11_RUNGS)))[1] == 8192


def test_interpolation_inverted_orientation_caps_to_flat():
    """Inverted crossover (hier cheaper at the SMALL rung, flat cheaper
    at the LARGE one — a_h > a_f): the 'hier when n >= threshold' rule
    cannot express 'flat above n*', so emitting the interpolated n*
    would route BOTH sides to the measured-slower plan (ADVICE r12).
    The guard must cap to flat-everywhere instead."""
    inverted = [(1000, 2.0, 1.0), (10000, 4.0, 8.0)]
    n_star, threshold = interpolate_route_crossover(inverted)
    assert threshold == ROUTE_THRESHOLD_MAX
    assert math.isinf(n_star)
    # and the resolver consequently never routes hier on such hardware
    assert resolve_semantic_route("auto", 10**9, threshold) == "flat"
    assert interpolate_route_crossover(list(reversed(inverted)))[1] == (
        ROUTE_THRESHOLD_MAX
    )


def _fake_timer_from(rungs):
    """timer(n, route) replaying a measured table — the injection seam
    that keeps the maintenance test deterministic and fast."""
    table = {
        (n, "flat"): tf for n, tf, _ in rungs
    } | {(n, "hier"): th for n, _, th in rungs}

    def timer(n, route):
        return table[(n, route)]

    return timer


def test_maintenance_persists_decision_with_curve_and_fingerprint(
    spark, sf_dir, tmp_path
):
    p = str(tmp_path / "route_reports")
    threshold, n_star = route_threshold_maintenance(
        spark,
        sf_dir,
        p,
        batch_id=0,
        rung_sizes=(2200, 22000),
        timer=_fake_timer_from(R11_RUNGS),
    )
    assert threshold == 8192 and 7000 < n_star < 7500
    rows = read_store(spark, TUNING_REPORTS, p).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.knob == ROUTE_THRESHOLD_KNOB
    assert r.chosen == 8192
    assert r.achieved_recall_permille == int(n_star)  # raw crossover
    assert r.target_permille == 0
    assert r.n_inputs > 0 and r.corpus_fingerprint > 0
    import json

    curve = json.loads(r.curve)
    assert curve == [[2200, 7200.0, 9300.0], [22000, 25000.0, 19600.0]]
    # replay idempotence: same batch overwrites, never duplicates
    route_threshold_maintenance(
        spark, sf_dir, p, batch_id=0, rung_sizes=(2200, 22000),
        timer=_fake_timer_from(R11_RUNGS),
    )
    assert read_store(spark, TUNING_REPORTS, p).count() == 1


def test_resolver_honors_the_stored_override(spark, sf_dir, tmp_path):
    """A deployment whose hardware moves the crossover must see every
    auto-routed caller move with the STORED decision, not the build
    host's constant."""
    p = str(tmp_path / "route_reports")
    assert route_threshold_from_store(spark, p) is None  # empty store
    # hardware where hier only pays off much later: crossover ~4x higher
    shifted = [(2200, 7.2, 19.0), (22000, 25.0, 33.0)]
    route_threshold_maintenance(
        spark, sf_dir, p, batch_id=1, rung_sizes=(2200, 22000),
        timer=_fake_timer_from(shifted),
    )
    stored = route_threshold_from_store(spark, p)
    assert stored is not None and stored != SEMANTIC_ROUTE_THRESHOLD
    n = SEMANTIC_ROUTE_THRESHOLD + 1  # routes hier under the constant...
    assert resolve_semantic_route("auto", n) == "hier"
    # ...but flat under this deployment's own measurement
    assert resolve_semantic_route("auto", n, threshold=stored) == "flat"
    # a NEWER re-tune supersedes (numeric-latest, the store contract)
    route_threshold_maintenance(
        spark, sf_dir, p, batch_id=2, rung_sizes=(2200, 22000),
        timer=_fake_timer_from(R11_RUNGS),
    )
    assert route_threshold_from_store(spark, p) == 8192


def test_env_seam_routes_from_the_store_without_plumbing(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r12 #6: a deployment that has run route_threshold_
    maintenance and exported SEMANTIC_ROUTE_STORE gets its OWN measured
    crossover on every route='auto' call — no per-call threshold
    plumbing — and an unset seam falls back to the module constant."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        SEMANTIC_ROUTE_STORE_ENV,
        deployment_route_threshold,
    )

    p = str(tmp_path / "route_reports")
    shifted = [(2200, 7.2, 19.0), (22000, 25.0, 33.0)]  # crossover ~4x up
    route_threshold_maintenance(
        spark, sf_dir, p, batch_id=0, rung_sizes=(2200, 22000),
        timer=_fake_timer_from(shifted),
    )
    stored = route_threshold_from_store(spark, p)
    assert stored is not None and stored > SEMANTIC_ROUTE_THRESHOLD
    n = SEMANTIC_ROUTE_THRESHOLD + 1

    # seam unset: the constant routes (the correctness-driver state)
    monkeypatch.delenv(SEMANTIC_ROUTE_STORE_ENV, raising=False)
    assert deployment_route_threshold(spark) is None
    assert resolve_semantic_route("auto", n, spark=spark) == "hier"

    # seam set: the deployment's stored decision routes
    monkeypatch.setenv(SEMANTIC_ROUTE_STORE_ENV, p)
    assert deployment_route_threshold(spark) == stored
    assert resolve_semantic_route("auto", n, spark=spark) == "flat"
    assert resolve_semantic_route("auto", stored, spark=spark) == "hier"
    # an explicit per-call threshold still wins over the seam
    assert resolve_semantic_route("auto", n, threshold=n, spark=spark) == (
        "hier"
    )
    # seam pointing at an EMPTY store: constant fallback, no error
    monkeypatch.setenv(SEMANTIC_ROUTE_STORE_ENV, str(tmp_path / "empty"))
    assert deployment_route_threshold(spark) is None
    assert resolve_semantic_route("auto", n, spark=spark) == "hier"


def test_real_timer_path_runs_end_to_end(spark, sf_dir, tmp_path):
    """The default timer (tile corpus to the rung, time the routed
    k-means action) must execute on real data — the measured numbers are
    host noise at these tiny rungs, so only the report's SHAPE is
    asserted, not the threshold value."""
    p = str(tmp_path / "route_reports")
    threshold, n_star = route_threshold_maintenance(
        spark, sf_dir, p, batch_id=0, rung_sizes=(48, 96)
    )
    assert isinstance(threshold, int) and threshold >= 1
    assert n_star >= 0.0 and not math.isnan(n_star)
    r = read_store(spark, TUNING_REPORTS, p).collect()[0]
    import json

    curve = json.loads(r.curve)
    assert [c[0] for c in curve] == [48, 96]
    assert all(c[1] > 0 and c[2] > 0 for c in curve)
