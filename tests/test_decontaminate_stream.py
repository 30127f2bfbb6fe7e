"""Ingest-time benchmark decontamination (streaming twin of
semantic_decontaminate): every training micro-batch screens against a
FROZEN eval index; the index never accumulates stream content — the
property that distinguishes decontamination from the dedup ingest."""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.streaming.store import (
    drain_files,
    read_store,
)


def _vecs(spark, rows):
    return spark.createDataFrame(
        [(i, [math.cos(a), math.sin(a)]) for i, a in rows],
        "vec_id long, embedding array<double>",
    )


def test_decontamination_ingest_screens_against_frozen_eval_index(
    spark, tmp_path
):
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        semantic_decontaminate,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.embeddings import (
        DECONTAMINATION_INGEST,
        DECON_REPORT,
        build_eval_index,
    )

    # eval set: 10 directions 0.5 rad apart (neighbor cosine ~0.88 —
    # below the 0.95 threshold, so each twin matches ONE eval row)
    eval_set = _vecs(spark, [(i, i * 0.5) for i in range(10)])
    cells, cents = build_eval_index(eval_set, k=3)

    in_dir = str(tmp_path / "in")
    rep = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    def drain():
        drain_files(
            spark, DECONTAMINATION_INGEST, in_dir, ckpt, cells, cents, rep,
        )

    def rows(df):
        return {tuple(r) for r in df.collect()}

    # batch 0: 3 paraphrase twins of eval 0..2 (+0.01 rad) and 3 clean
    # directions far from every eval vector
    batch0 = _vecs(
        spark,
        [(100 + i, i * 0.5 + 0.01) for i in range(3)]
        + [(103 + i, 5.2 + i * 0.25) for i in range(3)],
    )
    batch0.coalesce(1).write.mode("append").parquet(in_dir)
    drain()
    got0 = rows(read_store(spark, DECON_REPORT, rep))
    # exactly the planted twins, matched to their eval originals — and
    # bit-identical to the one-shot batch operator on the same inputs
    assert {r[0]: r[1] for r in got0} == {100: 0, 101: 1, 102: 2}
    want0 = rows(
        semantic_decontaminate(batch0, eval_set, k=3, route="flat")
    )
    assert got0 == want0

    # batch 1: near-copies of batch 0's CLEAN rows. A dedup ingest would
    # flag these against the accumulated index; the decontamination
    # screen must NOT — the eval index is frozen, train-train pairs are
    # out of scope by construction.
    _vecs(spark, [(200 + i, 5.2 + i * 0.25 + 0.01) for i in range(3)]).coalesce(
        1
    ).write.mode("append").parquet(in_dir)
    drain()
    after1 = rows(read_store(spark, DECON_REPORT, rep))
    assert {r[0] for r in after1} == {100, 101, 102}  # nothing new

    # drained rerun: report unchanged (batch-keyed overwrite idempotence)
    drain()
    assert rows(read_store(spark, DECON_REPORT, rep)) == after1


def test_build_eval_index_routes_like_the_batch_operator(spark):
    """build_eval_index prices auto-k / auto-route from the EVAL count —
    the same decision semantic_dedup_incremental makes — so the
    streaming screen and the batch screen route identically."""
    from etl_pipeline_challenge_aladia_spark.operators import (
        similarity as sim,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.embeddings import (
        build_eval_index,
    )

    eval_set = _vecs(spark, [(i, i * 0.3) for i in range(8)])
    seen = []
    # (r14) the arrow build path trains via _lloyd_cent_map
    real = sim._lloyd_cent_map

    def spy(*a, **kw):
        seen.append(kw.get("route", "flat"))
        return real(*a, **kw)

    import pytest  # noqa: F401  (monkeypatch-free spy via setattr)

    old = sim._lloyd_cent_map
    sim._lloyd_cent_map = spy
    try:
        cells, cents = build_eval_index(eval_set)  # 8 vecs << threshold
    finally:
        sim._lloyd_cent_map = old
    assert seen == ["flat"]
    assert set(cells.columns) == {"vec_id", "embedding", "cell"}
    assert cells.count() == 8 and cents.count() >= 1
