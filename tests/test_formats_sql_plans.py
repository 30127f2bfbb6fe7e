"""S7 file-format surface, the raw SQL layer, and plan-hygiene assertions
(pushdown/pruning/broadcast actually present in the physical plans)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.sources.files import (
    load_table,
    register_testdata_views,
)


def test_warehouse_roundtrips_csv_json_parquet(spark, sf_dir, tmp_path):
    from etl_pipeline_challenge_aladia_spark.pipeline import envelopes_to_warehouse
    from etl_pipeline_challenge_aladia_spark.sources.cdc import (
        cdc_envelopes_from_events,
    )

    wh = envelopes_to_warehouse(
        cdc_envelopes_from_events(spark, sf_dir), with_ingestion_time=False
    )
    want = wh.count()
    schema = wh.schema

    for fmt in ["parquet", "orc", "json", "csv"]:
        path = str(tmp_path / fmt)
        writer = wh.write.mode("overwrite").format(fmt)
        if fmt == "csv":
            writer = writer.option("header", True)
        writer.save(path)
        reader = spark.read.format(fmt)
        if fmt == "csv":
            reader = reader.option("header", True).schema(schema)
        if fmt == "json":
            reader = reader.schema(schema)
        back = reader.load(path)
        assert back.count() == want
        assert {f.name for f in back.schema.fields} == {f.name for f in schema.fields}


def test_sql_layer_over_registered_views(spark, sf_dir):
    register_testdata_views(spark, sf_dir)
    got = spark.sql(
        """
        SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
        """
    ).collect()
    want = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("o_orderstatus")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want] and len(got) > 0

    joined = spark.sql(
        """
        SELECT r_name, count(*) AS n FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        """
    )
    assert joined.count() == 5


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_shipdate") >= "1998-01-01").select("l_orderkey", "l_quantity")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # column pruning: scan reads only the referenced columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema


def test_broadcast_join_for_small_dimension(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    q = cust.join(nation, cust.c_nationkey == nation.n_nationkey)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_warehouse_partition_pruning(spark, sf_dir, tmp_path):
    from etl_pipeline_challenge_aladia_spark.pipeline import envelopes_to_warehouse
    from etl_pipeline_challenge_aladia_spark.sinks import append_warehouse
    from etl_pipeline_challenge_aladia_spark.sources.cdc import (
        cdc_envelopes_from_events,
    )

    wh = envelopes_to_warehouse(
        cdc_envelopes_from_events(spark, sf_dir), with_ingestion_time=False
    )
    path = str(tmp_path / "wh")
    append_warehouse(wh, path)

    days = [r["_day"] for r in spark.read.parquet(path).select("_day").distinct().collect()]
    assert len(days) > 1, "fixture should span multiple day partitions"
    one_day = sorted(str(d) for d in days)[0]
    q = spark.read.parquet(path).filter(F.col("_day") == one_day)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the day predicate lands in PartitionFilters (directory pruning),
    # not in the data filters
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "_day" in pf
    assert q.count() > 0


def test_compact_warehouse_reduces_files(spark, sf_dir, tmp_path):
    import glob

    from etl_pipeline_challenge_aladia_spark.pipeline import envelopes_to_warehouse
    from etl_pipeline_challenge_aladia_spark.sinks import (
        append_warehouse,
        compact_warehouse,
    )
    from etl_pipeline_challenge_aladia_spark.sources.cdc import (
        cdc_envelopes_from_events,
    )

    # soft_delete=True keeps tombstones, whose original_timestamp is NULL by
    # design -> a __HIVE_DEFAULT_PARTITION__ day that compaction must handle
    wh = envelopes_to_warehouse(
        cdc_envelopes_from_events(spark, sf_dir),
        with_ingestion_time=False,
        soft_delete=True,
    ).localCheckpoint()
    path = str(tmp_path / "wh")
    for _ in range(3):  # simulate micro-batch appends -> small files
        append_warehouse(wh, path)
    before_files = len(glob.glob(f"{path}/_day=*/*.parquet"))
    before_rows = spark.read.parquet(path).count()
    assert glob.glob(f"{path}/_day=__HIVE_DEFAULT_PARTITION__")

    n_parts = compact_warehouse(spark, path)
    after_files = len(glob.glob(f"{path}/_day=*/*.parquet"))
    assert n_parts > 1
    assert after_files == n_parts < before_files
    assert spark.read.parquet(path).count() == before_rows


def test_registered_sql_udfs(spark, sf_dir):
    from etl_pipeline_challenge_aladia_spark.functions.udfs import (
        register_sql_functions,
    )
    from etl_pipeline_challenge_aladia_spark.sources.files import (
        register_testdata_views,
    )

    register_sql_functions(spark)
    register_testdata_views(spark, sf_dir)
    row = spark.sql(
        "SELECT watched_ratio_py(30, 60) AS r, token_count_py('a b  c') AS t"
    ).collect()[0]
    assert row["r"] == 0.5 and row["t"] == 3


def test_fan_out_gates_on_input_parallelism(spark, sf_dir):
    """Wide inputs pass through fan_out untouched (no RoundRobin Exchange);
    narrow single-partition scans still spread to full parallelism."""
    from etl_pipeline_challenge_aladia_spark.sources.files import fan_out, load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    wide = li.repartition(16)
    assert fan_out(wide, partitions=8) is wide  # identity -> no extra node
    narrow = li.coalesce(1)
    assert fan_out(narrow, partitions=8).rdd.getNumPartitions() == 8


def test_fan_out_never_probes_non_scan_inputs(spark, sf_dir, monkeypatch):
    """Contract guard (VERDICT r02 #6): ``df.rdd`` under AQE MATERIALIZES
    upstream shuffle stages, so fan_out must never probe a frame with an
    aggregate/join/... above the scan — it repartitions unconditionally.
    Proven by making any .rdd access raise: a probe would blow up here."""
    import pyspark.sql.classic.dataframe as cdf

    from etl_pipeline_challenge_aladia_spark.sources.files import fan_out, load_table

    aggregated = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .count()
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    half = li.filter(li["l_orderkey"] % 2 == 0)
    by_flag = li.groupBy("l_returnflag")
    other_shuffles = [
        by_flag.applyInPandas(lambda pdf: pdf, li.schema),
        by_flag.cogroup(half.groupBy("l_returnflag")).applyInPandas(
            lambda a, b: a, li.schema
        ),
        li.intersect(half),
        li.exceptAll(half),
        li.subtract(half),
        li.hint("rebalance"),
    ]

    def _boom(self):
        raise AssertionError("fan_out probed .rdd on a non-scan input")

    monkeypatch.setattr(cdf.DataFrame, "rdd", property(_boom))
    out = fan_out(aggregated, partitions=8)
    for df in other_shuffles:
        fan_out(df, partitions=8)
    monkeypatch.undo()
    assert out.rdd.getNumPartitions() == 8

    # explicit Repartition inputs are decided off the plan, still no probe
    monkeypatch.setattr(cdf.DataFrame, "rdd", property(_boom))
    wide = load_table(spark, sf_dir, "lineitem").select("l_orderkey").repartition(16)
    assert fan_out(wide, partitions=8) is wide


def test_no_forced_broadcast_of_fact_tables():
    """Policy guard (VERDICT r01): explicit F.broadcast is reserved for
    bounded dims (nation/region) and single-row aggregates. Anything that
    grows with SF — lineitem, orders, customer, supplier, part — must be
    left to AQE so the plan survives a 100x scale-up."""
    import re
    from pathlib import Path

    src = (
        Path(__file__).parents[1]
        / "etl_pipeline_challenge_aladia_spark/plans/queries.py"
    ).read_text()
    banned = re.findall(
        r"F\.broadcast\(\s*(?:li|lineitem|orders|cust|customer|supp|supplier|part)\b[^)]*",
        src,
    )
    assert not banned, f"fact-scale broadcast hints found: {banned}"


@pytest.mark.slow  # measured heavy in the full --durations run (see pytest.ini)
def test_no_python_row_loop_in_any_catalog_plan(spark, sf_dir):
    """Engine-wide invariant: no catalog query plans a row-at-a-time Python
    eval (BatchEvalPython). Arrow-batched kernels (mapInPandas /
    ArrowEvalPython) are allowed only for the explicitly Python-kernel
    queries (multimodal decode); everything else must stay JVM-side."""
    from etl_pipeline_challenge_aladia_spark.plans.queries import CATALOG

    arrow_ok = {"media_feature_extract"}
    offenders = []
    for name, spec in CATALOG.items():
        plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            offenders.append((name, "BatchEvalPython"))
        if "ArrowEvalPython" in plan and name not in arrow_ok:
            offenders.append((name, "ArrowEvalPython"))
    assert not offenders, f"Python row loops in catalog plans: {offenders}"


def test_cli_list_and_run(capsys, spark, sf_dir):
    """The module CLI lists the catalog and runs a query end to end."""
    from etl_pipeline_challenge_aladia_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "tpch_q1_pricing_summary" in out and "sql-oracle" in out

    assert main(["run", "tpch_q6_revenue_forecast", "--sf-dir", sf_dir]) == 0
    out = capsys.readouterr().out
    assert "revenue" in out

    assert main(["run", "no_such_query"]) == 2


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Scale evidence: a fact table stored partitioned by a join-derived
    column gets DYNAMIC partition pruning when joined to a filtered dim —
    the scan reads only the partitions the dim filter selects, decided at
    runtime. This is the mechanism that makes dim-filtered fact joins
    cheap at 100 TB without any manual predicate."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.sources.files import load_table

    fact_dir = str(tmp_path / "orders_by_month")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    orders.write.partitionBy("o_month").parquet(fact_dir)
    months = (
        orders.select("o_month").distinct()
        .withColumn("pick", F.col("o_month").substr(-2, 2) == "03")
    )
    fact = spark.read.parquet(fact_dir)
    joined = fact.join(months.filter("pick"), "o_month").drop("pick")

    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "no DPP subquery in the scan"
    n_months = months.filter("pick").count()
    got_months = joined.select("o_month").distinct().count()
    assert got_months == n_months > 0


@pytest.mark.slow  # measured heavy in the full --durations run (see pytest.ini)
def test_no_unbounded_cartesian_in_any_catalog_plan(spark, sf_dir):
    """Engine-wide invariant: no catalog query plans a CartesianProduct,
    and every BroadcastNestedLoopJoin is one of the audited
    BOUNDED-side shapes (a single-row or threshold-constant literal
    frame crossed into a linear pass — min/max bounds, corpus totals,
    threshold sweeps). An unbounded cartesian would be quadratic at
    corpus scale; this test pins the allowlist so a new query can't
    introduce one silently."""
    from etl_pipeline_challenge_aladia_spark.plans.queries import CATALOG

    # queries whose plan legitimately contains BroadcastNestedLoopJoin:
    # every crossed side is a 1-row aggregate or a <=5-row literal frame
    bnlj_ok = {
        "events_value_histogram",       # 1-row min/max bounds
        "events_value_deciles",         # 1-row quantile-boundary frame
        "events_value_percentiles",     # 1-row quantile-boundary frame
        "doc_unigram_surprisal",        # 1-row corpus-total frame
        "doc_token_drift",              # 1-row doc-count + totals frames
        "doc_vocab_topk",               # 1-row vocabulary-total frame
        "doc_bigram_lift",              # 1-row unigram-total frame
        "doc_mixture_weights",          # 1-row corpus-total frame
        "doc_subword_budget",           # 1-row total frame
        "doc_token_diversity",          # 1-row total frame
        "doc_dup_graph_degree",         # 1-row total x 1-row in-pairs
        "doc_dup_threshold_sensitivity",  # 5-row threshold literal
        "doc_bm25_search",              # 1-row df/avgdl frame
        "dq_profile_orders",            # 1-row profile bounds
        "minhash_recall_audit",         # 1-row summary cross
        "emb_ivf_recall_audit",         # 1-row summary cross
        "doc_decontaminate",            # 1-row benchmark-size frame
        "doc_corpus_diff",              # 1-row snapshot-count frame
        "events_anomaly_days",          # 1-row mean/stddev frame
        "lineitem_yearly_growth",       # 1-row base-year frame
        "doc_quality_above_median",     # group-count-sized median frame
        "emb_quantize_error",           # 1-row scale frame
        "emb_pq_error",                 # 1-row summary frame
        "tpch_q11_important_stock",     # 1-row threshold subquery
        "tpch_q14_promo_effect",        # 1-row ratio frame
        "tpch_q15_top_supplier",        # 1-row max-revenue frame
        "tpch_q17_small_quantity_revenue",  # per-part avg, AQE may BNLJ tiny side
        "tpch_q22_dormant_rich_customers",  # 1-row avg-balance frame
        "emb_cell_drift",               # 1-row population totals
        "events_gap_filled_daily_value",    # 1-row day-span frame
        "emb_semantic_dedup",           # 1-row auto-k count frame
        "emb_semantic_dedup_hier",      # 1-row auto-k count frame
        "emb_semantic_dedup_incremental",   # 1-row auto-k count frame
        "emb_semantic_decontaminate",   # k x dim centroid-table broadcast
        "emb_semantic_decontaminate_stored",  # same screen; centroids read
                                        # from the persisted eval index
        "emb_leakage_rate_by_label",    # same screen + label rollup
        "doc_curation_pipeline_decontaminated",  # same centroid broadcast
                                        # in the composed semantic leg
        "doc_curation_pipeline_decontaminated_stored",  # same centroid
                                        # broadcast; denylist read from the
                                        # leakage store (skinny id frame)
        "emb_knn_classify",             # 1-row label-prior frame
        "emb_centroid_outliers",        # 1-row threshold frame
        "orders_rfm_segments",          # 1-row boundary frame
        "emb_mutual_knn_ivf",           # cells-sized centroid broadcast
        "emb_mutual_knn_ivf_recall_audit",  # centroid broadcast + 1-row counts
        "emb_ivf_nprobe_tradeoff",      # centroid broadcast + 1-row counts
        "doc_lsh_band_tradeoff",        # 1-row count frames per variant
        "emb_cluster_label_purity",     # k-row centroid frames in kmeans
        "events_weekly_retention",      # 1-row cohort-base frame
        "events_funnel_view_click_purchase",  # 1-row funnel-base frame
        "doc_length_buckets",           # 1-row bucket-bounds frame
        "doc_mixture_upsample",         # <=5-row rates literal
        "doc_stratified_sample",        # <=5-row rates literal
        "cdc_quarantine_stats",         # 1-row totals frame
        "media_decode_audit",           # 1-row audit-total frame
        "events_hourly_click_purchase_full_outer",  # tiny hour-grain outer
        "basket_brand_lift",            # 1-row order-total frame
        "doc_heavy_hitter_tokens",      # <=support-bound candidate literal
        "doc_curation_pipeline",        # 1-row stage-total frames
        "emb_cosine_topk",              # bounded query-sample frame crossed into scan
        "emb_cosine_near_dup",          # bounded query-sample frame
        "emb_hard_negatives",           # bounded query-sample frame
        "emb_ivf_topk",                 # k-row centroid frame (probe + rerank)
        "emb_ivf_adc_topk",             # k-row centroid + codebook frames
        "emb_kmeans_clusters",          # k-row centroid frame per Lloyd round
        "emb_kmeans_clusters_hier",     # k-row centroid + sqrt(k)-row super-cell frames
        "doc_tfidf_top_terms",          # 1-row doc-count frame
        "orders_zorder_layout",         # 1-row min/max interleave bounds
        "emb_pq_code_balance",          # 1-row corpus-count frame
        "emb_kcenter_vs_random_audit",  # 1-row coverage-summary frames
        "emb_label_separation_audit",   # labels^2 centroid cross (label-vocab bounded)
        "orders_topk_revenue_concentration",  # 1-row total-revenue frame
        "doc_crosslang_near_dup_matrix",  # 1-row pair-total frame
        "emb_top_pc_power_iteration",   # 1-row axis frame per iteration
        "emb_anisotropy_audit",         # 1-row moment frames
        "dq_benford_totalprice",        # 9-row Benford literal x 1-row total
        "orders_revenue_trend_by_nation",  # 1-row base-month frame
        "events_decayed_engagement",    # 1-row reference-time frame
        "doc_dup_triangle_census",      # 1-row totals frame
        "doc_rrf_fusion",               # 1-row list-size frames
        "events_weekly_autocorr",       # 1-row day-count frame
        "events_cusum_changepoint",     # 1-row global-mean frame
        "orders_bloom_fpr_audit",       # 1-row filter-summary frame
        "events_markov_removal_attribution",  # event-type-vocab state frames
        "events_mad_outlier_days",      # 1-row median + 1-row MAD frames
        "events_type_drift_chisq",      # 1-row split-day + 1-row totals frames
        "orders_theil_sen_monthly_trend",  # 1-row month-count frame
        "events_user_fano_overdispersion",  # 1-row day-span frame
        "doc_distinctive_terms_chisq",  # 1-row corpus-total frame
        "emb_mutual_knn_pairs",         # blocks^2/2-row block-pair literal (blocked GEMM)
        "orders_value_decile_migration",  # 1-row decile-boundary frame
        "events_stickiness_dau_wau",    # 1-row min-day frame
        "orders_seasonal_index",        # 1-row grand-total frame
        "doc_term_burstiness",          # 1-row doc-count frame
        "doc_vocab_coverage_curve",     # 1-row total + 3-row k literal
        "events_growth_accounting",     # 1-row min-day + 1-row max-week frames
        "doc_dedup_source_shift",       # two 1-row total frames
        "emb_cosine_histogram",         # block-pair literal + 1-row total
        "doc_vocab_growth_curve",       # 1-row id-range frame
        "orders_lineitem_count_histogram",  # 1-row total frame
        "dq_status_priority_contingency",   # 1-row grand-total frame
        "doc_bpe_merge_rounds",         # three 1-row merge-decision frames
    }
    offenders = []
    for name, spec in CATALOG.items():
        plan = spec.spark(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in bnlj_ok:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, (
        f"unaudited cartesian/BNLJ in catalog plans: {offenders} — if the "
        f"crossed side is a bounded literal/aggregate frame, add the query "
        f"to bnlj_ok with a justification comment"
    )
