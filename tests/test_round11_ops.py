"""Round-11 additions: tuning provenance wired to the cataloged
autotune decisions (VERDICT r10 missing #3)."""

from __future__ import annotations

import json

from etl_pipeline_challenge_aladia_spark.streaming.store import read_store


def test_band_autotune_maintenance_records_the_catalog_decision(
    spark, sf_dir, tmp_path
):
    """The deployment entry point tunes on the SAME sample as the
    cataloged query, returns the SAME decision, and leaves a report
    whose contents match it."""
    from etl_pipeline_challenge_aladia_spark.plans.queries import (
        CATALOG,
        band_autotune_sample,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.tuning import (
        TUNING_REPORTS,
        band_autotune_maintenance,
        corpus_fingerprint,
    )

    cat = CATALOG["doc_lsh_band_autotune"].spark(spark, sf_dir).collect()[0]
    path = str(tmp_path / "band_reports")
    bands, recall = band_autotune_maintenance(spark, sf_dir, path)
    assert (bands, recall) == (cat.chosen_bands, cat.recall_permille)
    rep = read_store(spark, TUNING_REPORTS, path).collect()
    assert len(rep) == 1
    r = rep[0]
    fp, n = corpus_fingerprint(band_autotune_sample(spark, sf_dir), "doc_id")
    assert (r.knob, r.chosen, r.achieved_recall_permille) == (
        "lsh_bands",
        bands,
        recall,
    )
    assert (r.target_permille, r.corpus_fingerprint, r.n_inputs) == (
        900,
        fp,
        n,
    )
    curve = json.loads(r.curve)
    assert [bands, recall] in [list(p) for p in curve]


def test_nprobe_autotune_maintenance_records_the_catalog_decision(
    spark, sf_dir, tmp_path
):
    from etl_pipeline_challenge_aladia_spark.plans.queries import (
        CATALOG,
        nprobe_autotune_inputs,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.tuning import (
        TUNING_REPORTS,
        corpus_fingerprint,
        nprobe_autotune_maintenance,
    )

    cat = CATALOG["emb_ivf_nprobe_autotune"].spark(spark, sf_dir).collect()[0]
    path = str(tmp_path / "nprobe_reports")
    nprobe, recall = nprobe_autotune_maintenance(spark, sf_dir, path)
    assert (nprobe, recall) == (cat.chosen_nprobe, cat.recall_permille)
    rep = read_store(spark, TUNING_REPORTS, path).collect()
    assert len(rep) == 1
    r = rep[0]
    cands, _ = nprobe_autotune_inputs(spark, sf_dir)
    fp, n = corpus_fingerprint(cands, "vec_id")
    assert (r.knob, r.chosen, r.achieved_recall_permille) == (
        "ivf_nprobe",
        nprobe,
        recall,
    )
    assert (r.target_permille, r.corpus_fingerprint, r.n_inputs) == (
        900,
        fp,
        n,
    )
    curve = json.loads(r.curve)
    assert [nprobe, recall] in [list(p) for p in curve]
