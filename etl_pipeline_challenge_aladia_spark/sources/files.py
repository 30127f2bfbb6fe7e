"""Batch file sources.

The reference ingests from a queue only (SURVEY.md §2.1-S7); file formats
come free with Spark. Parquet is the primary at-rest format (columnar,
matching the reference warehouse's orientation).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_challenge_aladia_spark.schemas import TESTDATA_TABLES


#: Columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorized
#: reader rejects. Read as long (legacy conf) and convert ns -> us with
#: exact integer division (a double division would lose precision above
#: 2^53 ns).
_NANOS_TS_COLS = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Plain ``spark.read.parquet`` so Catalyst
    gets full pushdown/pruning freedom on the scan."""
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos_cols = _NANOS_TS_COLS.get(name, [])
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    # Parquet timestamps without isAdjustedToUTC read as TIMESTAMP_NTZ under
    # Spark 4's inferTimestampNTZ default, which unix_micros/window functions
    # reject. The session timezone is pinned to UTC, so casting NTZ -> LTZ is
    # value-identical and matches how the DuckDB oracle reads the same file.
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL surface."""
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition to full parallelism before expression-heavy
    stages — ONLY when the input is under-parallel.

    The testdata parquet files are single-row-group, so a scan stage runs as
    ONE task no matter how many cores exist; any expensive projection chained
    onto it (envelope synthesis, shingle hashing, pairwise verification)
    would execute single-threaded. A tiny round-robin shuffle of the skinny
    scan output spreads that work across the cluster.

    On real many-file/many-row-group inputs the scan already parallelizes,
    so the repartition is gated on the input's actual partition count: wide
    inputs pass through untouched, with no extra Exchange in the plan.

    Probe caveat: ``df.rdd.getNumPartitions()`` is free for the scan-stage
    frames this utility is meant for, but under AQE it MATERIALIZES any
    upstream shuffle stages (and raises on streaming frames). That contract
    is enforced, not conventional: streaming frames and frames whose
    analyzed plan contains a shuffle-introducing node (aggregate, join,
    window, sort, distinct, repartition, limit, grouped or cogrouped
    ``applyInPandas``, intersect, except/subtract, rebalance) SKIP the
    probe and repartition unconditionally — never silently
    double-executing the upstream stage just to count partitions.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.isStreaming:
        return df.repartition(n)
    shape, count = _plan_shape(df)
    if shape == "repartition":
        # explicit target parallelism is readable off the plan — decide
        # without touching .rdd (which would materialize the shuffle)
        return df if count >= n else df.repartition(n)
    if shape == "other":
        return df.repartition(n)
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


#: Logical nodes that put a shuffle (or other full stage) between the scan
#: and fan_out's probe — probing .rdd on these materializes that stage.
_NON_SCAN_NODES = (
    "Aggregate",
    "Join",
    "Window",
    "Sort",
    "Distinct",
    "Deduplicate",
    "GlobalLimit",
    "Repartition",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "Intersect",
    "Except",
    "RebalancePartitions",
)


def _plan_shape(df: DataFrame) -> tuple[str, int]:
    """Classify the analyzed logical plan for the probe gate:

    - ``("scan", 0)`` — scan/project/filter only: probing
      ``df.rdd.getNumPartitions()`` costs nothing.
    - ``("repartition", k)`` — the topmost non-scan node is an explicit
      round-robin ``Repartition k``/coalesce: the target parallelism is in
      the plan, no probe needed.
    - ``("other", 0)`` — an aggregate/join/window/... sits above the scan:
      probing would MATERIALIZE that stage under AQE, so callers must not.

    Node names are matched at line starts (after tree-drawing prefixes),
    never inside expression text, so a column literally named "sort" can't
    false-positive.
    """
    import re

    plan = df._jdf.queryExecution().analyzed().toString()
    pattern = r"(?m)^[\s+:*\-()0-9]*(%s)" % "|".join(_NON_SCAN_NODES)
    m = re.search(pattern, plan)
    if m is None:
        return ("scan", 0)
    if m.group(1) == "Repartition":
        k = re.match(r"Repartition (\d+), (?:true|false)", plan[m.start(1):])
        if k:
            return ("repartition", int(k.group(1)))
    return ("other", 0)
