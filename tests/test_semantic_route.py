"""Auto-routing for the semantic-dedup family (VERDICT r10 #1): the
default entry must not let a caller silently land on the measured
super-linear flat plan at corpus scale — above the measured crossover
(SEMANTIC_ROUTE_THRESHOLD) it delegates to the two-level router, below
it it keeps the flat argmin's cheaper constants. route="flat" stays the
explicit exact audit variant."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.operators import similarity as sim
from etl_pipeline_challenge_aladia_spark.operators.similarity import (
    SEMANTIC_ROUTE_THRESHOLD,
    resolve_semantic_route,
    semantic_dedup,
    semantic_dedup_incremental,
)


def test_resolve_semantic_route_contract():
    t = SEMANTIC_ROUTE_THRESHOLD
    assert resolve_semantic_route("auto", t - 1) == "flat"
    assert resolve_semantic_route("auto", t) == "hier"
    assert resolve_semantic_route("auto", 10 * t) == "hier"
    # explicit routes pass through at ANY size — the audit escape hatch
    assert resolve_semantic_route("flat", 10 * t) == "flat"
    assert resolve_semantic_route("hier", 1) == "hier"
    # the threshold sits inside the measured bench bracket: flat won the
    # 2.2k-vector rung, lost the 22k rung (SCALING.md) — a moved constant
    # must stay between them or the routing claim no longer matches the
    # evidence
    assert 2200 < SEMANTIC_ROUTE_THRESHOLD <= 22000


def _corpus(spark, n=60):
    base = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            F.sin(F.col("id") * 1.7),
            F.cos(F.col("id") * 0.9),
            F.sin(F.col("id") * 0.31 + 1.0),
            F.cos(F.col("id") * 2.3 + 0.5),
        ).alias("e"),
    )
    twin = base.filter("vec_id = 7").select(
        F.lit(99999).cast("long").alias("vec_id"),
        F.transform("e", lambda x: x * 1.0001).alias("e"),
    )
    return base.unionByName(twin)


def test_auto_route_pins_the_plan_switch_at_the_threshold(spark, monkeypatch):
    """The physical strategy actually switches AT route_threshold: spy on
    the kmeans assignment call and assert the route it was handed on
    either side of the boundary."""
    corpus = _corpus(spark)  # 61 vectors
    seen: list[str] = []
    # the dedup hands the resolved route to its training step,
    # _lloyd_cent_map; spy there
    real = sim._lloyd_cent_map

    def spy(*a, **kw):
        seen.append(kw.get("route", "flat"))
        return real(*a, **kw)

    monkeypatch.setattr(sim, "_lloyd_cent_map", spy)
    semantic_dedup(corpus, vec_col="e", route="auto", route_threshold=61)
    semantic_dedup(corpus, vec_col="e", route="auto", route_threshold=62)
    semantic_dedup(corpus, vec_col="e")  # shipped default, tiny corpus
    assert seen == ["hier", "flat", "flat"]


def test_auto_route_output_equals_the_explicit_route(spark):
    """Routing changes the physical assignment strategy, never the
    contract: auto forced onto either side of the threshold returns
    exactly the explicit route's rows (the r7 label-identity pattern),
    and both recover the planted twin."""

    def rows(df):
        return sorted(
            (r["vec_id"], r["canonical_id"], r["max_cos"])
            for r in df.collect()
        )

    corpus = _corpus(spark)
    flat = rows(semantic_dedup(corpus, threshold=0.99, vec_col="e", route="flat"))
    hier = rows(semantic_dedup(corpus, threshold=0.99, vec_col="e", route="hier"))
    auto_lo = rows(
        semantic_dedup(
            corpus, threshold=0.99, vec_col="e", route="auto", route_threshold=10
        )
    )
    auto_hi = rows(
        semantic_dedup(
            corpus,
            threshold=0.99,
            vec_col="e",
            route="auto",
            route_threshold=10**6,
        )
    )
    assert auto_lo == hier
    assert auto_hi == flat
    assert any(v == 99999 and c == 7 for v, c, _ in flat)
    assert any(v == 99999 and c == 7 for v, c, _ in hier)


def test_incremental_auto_routes_on_corpus_count(spark, monkeypatch):
    corpus, delta = _corpus(spark, 40), _corpus(spark, 5)
    seen: list[str] = []
    # the incremental path trains via _lloyd_cent_map
    real = sim._lloyd_cent_map

    def spy(*a, **kw):
        seen.append(kw.get("route", "flat"))
        return real(*a, **kw)

    monkeypatch.setattr(sim, "_lloyd_cent_map", spy)
    # corpus = 40 base + 1 twin = 41 vectors
    semantic_dedup_incremental(
        corpus, delta, vec_col="e", route="auto", route_threshold=42
    )
    semantic_dedup_incremental(
        corpus, delta, vec_col="e", route="auto", route_threshold=41
    )
    assert seen == ["flat", "hier"]


def test_quantizer_bootstrap_auto_routes(spark, tmp_path, monkeypatch):
    """The streaming ingest's training bootstrap applies the same
    measured routing rule as batch semantic dedup: flat below the
    crossover, two-level-routed above (spied via the assignment call's
    route argument with the module constant patched around the fixture
    size)."""
    from etl_pipeline_challenge_aladia_spark.streaming import (
        embeddings as se,
    )

    corpus = _corpus(spark)  # 61 vectors
    seen: list[str] = []
    real = sim.kmeans_with_centroids

    def spy(*a, **kw):
        seen.append(kw.get("route", "flat"))
        return real(*a, **kw)

    monkeypatch.setattr(sim, "kmeans_with_centroids", spy)
    monkeypatch.setattr(sim, "SEMANTIC_ROUTE_THRESHOLD", 61)
    se.train_and_save_quantizer(
        corpus, k=4, store_path=str(tmp_path / "q1"), vec_col="e"
    )
    monkeypatch.setattr(sim, "SEMANTIC_ROUTE_THRESHOLD", 62)
    se.train_and_save_quantizer(
        corpus, k=4, store_path=str(tmp_path / "q2"), vec_col="e"
    )
    assert seen == ["hier", "flat"]


def test_route_aware_oracle_follows_the_routing_rule():
    """ADVICE r11 high: the cataloged emb_semantic_dedup entry runs
    route="auto", so its DuckDB oracle must replay the routing rule
    rather than pin the flat unroll (above the crossover the engine runs
    the hier plan, whose output provably differs — 1971 vs 1970 rows at
    the 22k rung). The route-aware SQL gates BOTH exact unrolls on the
    same widened-corpus count the engine prices: below the threshold it
    reproduces the flat oracle bit-for-bit, and with the threshold
    generated at 1 (every corpus routes hier) it reproduces the hier
    oracle bit-for-bit — on the same embeddings table DuckDB run."""
    import duckdb

    from etl_pipeline_challenge_aladia_spark.plans.queries import (
        _semantic_dedup_oracle_sql,
        _semantic_dedup_route_aware_oracle_sql,
    )
    from tests.conftest import SF_DIR

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )

    def run(sql):
        df = con.execute(sql).fetchdf()
        return df[sorted(df.columns)].sort_values(
            by=sorted(df.columns), ignore_index=True
        )

    flat = run(_semantic_dedup_oracle_sql(route="flat"))
    hier = run(_semantic_dedup_oracle_sql(route="hier"))
    # sf0.001's widened corpus is far below the 8192 crossover: the
    # route-aware oracle must take the flat branch here
    assert run(_semantic_dedup_route_aware_oracle_sql()).equals(flat)
    # threshold 1 => every corpus routes hier: the same SQL shape must
    # reproduce the hier unroll exactly
    assert run(
        _semantic_dedup_route_aware_oracle_sql(route_threshold=1)
    ).equals(hier)


def test_cataloged_default_oracle_is_route_aware():
    """The shipped catalog entry must carry the route-aware oracle: both
    branch gates and the module threshold appear in the SQL the driver
    runs (a regression back to the static flat unroll re-opens the
    at-or-above-crossover hash mismatch)."""
    from etl_pipeline_challenge_aladia_spark.plans.queries import CATALOG

    sql = CATALOG["emb_semantic_dedup"].oracle
    assert f"< {SEMANTIC_ROUTE_THRESHOLD}" in sql
    assert f">= {SEMANTIC_ROUTE_THRESHOLD}" in sql
    assert "UNION ALL" in sql
