"""The persisted leakage denylist (VERDICT r12 #1/#2): decontamination
verdicts as a first-class derived store under the shared batch-keyed
contract — batch-keyed overwrite appends (replay idempotence),
compaction, and the two-layer erase_keys path — plus the stored-twin
guarantees: the persisted eval index and the store-fed pipeline produce
byte-identical results to their recompute forms (storage is pure
precompute, the doc_incremental_near_dup_stored precedent)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.streaming.leakage import (
    LEAKAGE_STORE,
    append_leakage_batch,
    leakage_denylist,
    leakage_verdicts,
)
from etl_pipeline_challenge_aladia_spark.streaming.store import (
    compact_store,
    erase_keys,
    read_store,
)


def _verdicts(spark, ngram_ids, semantic_rows):
    ng = spark.createDataFrame(
        [(i,) for i in ngram_ids], "doc_id long"
    )
    se = spark.createDataFrame(
        semantic_rows, "doc_id long, matched_eval_id long, cosine double"
    )
    return leakage_verdicts(ng, se)


def _rows(df):
    return sorted(
        (r.doc_id, r.screen, r.matched_eval_id, r.cosine)
        for r in df.collect()
    )


def test_verdict_normalization_and_provenance(spark):
    v = _verdicts(spark, [1, 2], [(2, 100, 0.99), (3, 101, 0.96)])
    assert _rows(v) == [
        (1, "ngram", None, None),
        (2, "ngram", None, None),
        (2, "semantic", 100, 0.99),
        (3, "semantic", 101, 0.96),
    ]


def test_batch_equality_and_replay_idempotence(spark, tmp_path):
    p = str(tmp_path / "leaks")
    b0 = _verdicts(spark, [1], [(2, 100, 0.99)])
    b1 = _verdicts(spark, [5], [(6, 101, 0.97)])
    append_leakage_batch(b0, p, 0)
    append_leakage_batch(b1, p, 1)
    got = read_store(spark, LEAKAGE_STORE, p)
    assert _rows(got) == _rows(b0.unionByName(b1))
    # replay of batch 1 with IDENTICAL content: nothing duplicates
    append_leakage_batch(b1, p, 1)
    assert _rows(read_store(spark, LEAKAGE_STORE, p)) == _rows(b0.unionByName(b1))
    # replay that re-screens to a SUBSET overwrites its own directory
    append_leakage_batch(_verdicts(spark, [5], []), p, 1)
    assert _rows(read_store(spark, LEAKAGE_STORE, p)) == _rows(
        b0.unionByName(_verdicts(spark, [5], []))
    )
    # strictly-earlier reads: a replaying batch 1 sees only batch 0
    assert _rows(read_store(spark, LEAKAGE_STORE, p, strictly_before=1)) == _rows(
        b0
    )
    # the denylist is the distinct doc_id set across screens/batches
    assert sorted(
        r.doc_id for r in leakage_denylist(spark, p).collect()
    ) == [1, 2, 5]


def test_empty_store_reads_empty_with_schema(spark, tmp_path):
    p = str(tmp_path / "never_written")
    got = read_store(spark, LEAKAGE_STORE, p)
    assert got.count() == 0
    assert got.schema == spark.createDataFrame([], LEAKAGE_STORE.schema).schema


def test_compaction_consolidates_distinct(spark, tmp_path):
    p = str(tmp_path / "leaks")
    out = str(tmp_path / "leaks_c")
    b0 = _verdicts(spark, [1, 2], [(2, 100, 0.99)])
    append_leakage_batch(b0, p, 0)
    # the same verdict re-surfacing in a later batch collapses
    append_leakage_batch(_verdicts(spark, [2], []), p, 1)
    n = compact_store(spark, LEAKAGE_STORE, p, out)
    assert n == 3  # (1,ngram) (2,ngram) (2,semantic)
    assert _rows(read_store(spark, LEAKAGE_STORE, out)) == _rows(b0)
    assert not os.path.isdir(os.path.join(out, "batch=0"))


def test_erasure_survives_crash_and_replay(spark, tmp_path, monkeypatch):
    """test_erasure.py's kill-midway pattern on THIS store: the
    denylist epoch lands before the physical rewrite, so a crash mid-
    scrub leaves doc 7 logically erased (invisible to readers and to
    checkpoint replays), and a re-run finishes reclamation."""
    from etl_pipeline_challenge_aladia_spark.streaming import store as st

    p = str(tmp_path / "leaks")
    append_leakage_batch(_verdicts(spark, [7], [(8, 100, 0.99)]), p, 0)
    append_leakage_batch(_verdicts(spark, [7, 9], []), p, 1)

    real_rmtree, calls = st.shutil.rmtree, []

    def dying_rmtree(d, *a, **kw):
        calls.append(d)
        if len(calls) >= 2:
            raise OSError("simulated crash mid-erase")
        return real_rmtree(d, *a, **kw)

    monkeypatch.setattr(st.shutil, "rmtree", dying_rmtree)
    try:
        erase_keys(spark, LEAKAGE_STORE, p, [7])
        raise AssertionError("crash did not propagate")
    except OSError:
        pass
    monkeypatch.setattr(st.shutil, "rmtree", real_rmtree)
    # logically erased despite the partial scrub
    assert 7 not in {
        r.doc_id for r in read_store(spark, LEAKAGE_STORE, p).collect()
    }
    # a checkpoint replay lawfully rewrites its directory from source...
    append_leakage_batch(_verdicts(spark, [7, 9], []), p, 1)
    # ...but the read shield keeps the verdict invisible
    got = {r.doc_id for r in read_store(spark, LEAKAGE_STORE, p).collect()}
    assert got == {8, 9}
    # re-run completes the physical rewrite
    erase_keys(spark, LEAKAGE_STORE, p, [7])
    for b in ("batch=0", "batch=1"):
        raw = {
            r.doc_id
            for r in spark.read.parquet(os.path.join(p, b)).collect()
        }
        assert 7 not in raw
    # erasure carries through compaction (publish-then-point shield)
    out = str(tmp_path / "leaks_c")
    compact_store(spark, LEAKAGE_STORE, p, out)
    assert 7 not in {
        r.doc_id for r in read_store(spark, LEAKAGE_STORE, out).collect()
    }


def test_eval_index_roundtrip_and_screen_parity(spark, tmp_path):
    """save/load_eval_index is pure precompute: the loaded index screens
    identically to the in-memory recompute (semantic_decontaminate),
    and re-publication supersedes via the version pointer."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        semantic_decontaminate,
        semantic_decontaminate_from_index,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.embeddings import (
        build_eval_index,
        load_eval_index,
        save_eval_index,
    )

    e_eval = [1.0, 0.2, -0.5, 0.7]
    tilt = [x * (1 + 0.001 * ((i % 3) - 1)) for i, x in enumerate(e_eval)]
    train = spark.createDataFrame(
        [(1, tilt), (3, [-0.9, 0.1, 0.8, 0.05])],
        "vec_id long, embedding array<double>",
    )
    eval_set = spark.createDataFrame(
        [(100, e_eval), (101, [0.1, -0.8, 0.3, 0.4])],
        "vec_id long, embedding array<double>",
    )
    p = str(tmp_path / "eval_index")
    cells, cents = build_eval_index(eval_set)
    save_eval_index(cells, cents, p)
    cells2, cents2, v = load_eval_index(spark, p)
    assert v == 0
    stored = sorted(
        (r.vec_id, r.matched_eval_id, r.cosine)
        for r in semantic_decontaminate_from_index(
            train, cells2, cents2
        ).collect()
    )
    recomputed = sorted(
        (r.vec_id, r.matched_eval_id, r.cosine)
        for r in semantic_decontaminate(train, eval_set).collect()
    )
    assert stored == recomputed == [(1, 100, 1.0)]
    # re-publication: a new generation supersedes atomically
    save_eval_index(
        cells, cents.withColumn("c", F.col("c")), p, version=1
    )
    assert load_eval_index(spark, p)[2] == 1
    # and a pinned read still reproduces the old generation
    assert load_eval_index(spark, p, version=0)[2] == 0


def test_stored_catalog_twins_match_recompute(spark, sf_dir):
    """The two _stored catalog entries are decision-identical to their
    recompute twins at the pytest grain (the sf0.01 oracle sweep is the
    stronger driver-side gate — identical oracles by construction)."""
    from etl_pipeline_challenge_aladia_spark.plans.queries import CATALOG

    for name in (
        "emb_semantic_decontaminate",
        "doc_curation_pipeline_decontaminated",
    ):
        a = CATALOG[name].spark(spark, sf_dir)
        b = CATALOG[name + "_stored"].spark(spark, sf_dir)
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )
        assert a.columns == b.columns
        assert CATALOG[name + "_stored"].oracle == CATALOG[name].oracle
