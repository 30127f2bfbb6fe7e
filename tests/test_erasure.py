"""Store-level key erasure (VERDICT r9 #2): the GDPR contract extended
from the warehouse to every DERIVED streaming store — physical rewrite
plus a permanent read-path denylist that survives compaction and
checkpoint replay."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.streaming.store import (
    StoreSpec,
    append_batch,
    compact_store,
    erase_keys,
    read_store,
)

#: the generic test store: (k, v) rows erased by k
KV = StoreSpec("k long, v string", key="k")


def _mk_store(spark, path):
    for b, lo in ((0, 0), (1, 10)):
        append_batch(
            spark.createDataFrame(
                [(lo + i, f"v{lo + i}") for i in range(5)], "k long, v string"
            ),
            path,
            b,
        )


def test_stray_nonnumeric_batch_dir_is_never_read(spark, tmp_path):
    """r9 ADVICE #1: a malformed batch=* directory (partial copy,
    editor droppings) is not an append_batch-written live batch — it
    must be skipped outright, not read as strictly-earlier history by
    replay screens."""
    p = str(tmp_path / "s")
    _mk_store(spark, p)
    spark.createDataFrame([(999, "stray")], "k long, v string").write.mode(
        "overwrite"
    ).parquet(os.path.join(p, "batch=tmp"))
    for kwargs in ({}, {"strictly_before": 1}):
        got = {
            r.k
            for r in read_store(
                spark, KV, p, **kwargs
            ).collect()
        }
        assert 999 not in got


def test_erase_keys_physical_and_logical(spark, tmp_path):
    """Erase -> no trace through the reader AND no bytes at rest; other
    rows untouched; the denylist directory exists and is reserved."""
    p = str(tmp_path / "s")
    _mk_store(spark, p)
    removed = erase_keys(spark, KV, p, [1, 12])
    assert removed == 2
    got = sorted(
        r.k for r in read_store(spark, KV, p).collect()
    )
    assert got == [0, 2, 3, 4, 10, 11, 13, 14]
    # physical: raw directory reads (no shield) also lack the keys
    raw = spark.read.parquet(os.path.join(p, "batch=0"), os.path.join(p, "batch=1"))
    assert sorted(r.k for r in raw.collect()) == got
    assert os.path.isdir(os.path.join(p, "erased"))


def test_erasure_survives_checkpoint_replay(spark, tmp_path):
    """A replayed batch lawfully OVERWRITES its directory from source,
    physically resurrecting erased rows — the read-path denylist keeps
    them invisible, and a later re-erasure drops them physically again."""
    p = str(tmp_path / "s")
    _mk_store(spark, p)
    erase_keys(spark, KV, p, [11])
    # checkpoint replay: batch 1 rewritten from source, erased row back
    append_batch(
        spark.createDataFrame(
            [(10 + i, f"v{10 + i}") for i in range(5)], "k long, v string"
        ),
        p,
        1,
    )
    raw = spark.read.parquet(os.path.join(p, "batch=1"))
    assert 11 in {r.k for r in raw.collect()}  # physically back...
    got = {r.k for r in read_store(spark, KV, p).collect()}
    assert 11 not in got  # ...but never readable


def test_erasure_survives_compaction_and_later_replay(spark, tmp_path):
    """Compacted output is erasure-filtered, the denylist travels to
    the fresh path, and a post-compaction replay against the new path
    still cannot resurrect the keys."""
    p, out = str(tmp_path / "s"), str(tmp_path / "s2")
    _mk_store(spark, p)
    erase_keys(spark, KV, p, [3, 10])
    n = compact_store(spark, KV, p, out)
    assert n == 8
    comp = spark.read.parquet(os.path.join(out, "compacted"))
    assert {r.k for r in comp.collect()}.isdisjoint({3, 10})
    # continuing ingest at the new path replays old content at batch 0
    append_batch(
        spark.createDataFrame([(3, "v3"), (99, "v99")], "k long, v string"),
        out,
        0,
    )
    got = {r.k for r in read_store(spark, KV, out).collect()}
    assert 3 not in got and 99 in got


def test_erase_keys_accepts_dataframe_keyset(spark, tmp_path):
    """Derived content-key erase sets stay distributed: a 1-column
    DataFrame works as the key set."""
    p = str(tmp_path / "s")
    _mk_store(spark, p)
    kdf = spark.createDataFrame([(0,), (14,)], "k long")
    assert erase_keys(spark, KV, p, kdf) == 2
    got = {r.k for r in read_store(spark, KV, p).collect()}
    assert got.isdisjoint({0, 14})


def test_erase_signature_keys_screens_as_never_ingested(spark, tmp_path):
    """Sigstore end-to-end: ingest a corpus, erase one doc, then screen
    a delta equal to that doc — the near-dup screen reports nothing
    (the erased doc no longer exists as far as dedup is concerned),
    while an un-erased duplicate still pairs."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        doc_signature_store,
        minhash_pairs_from_store,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        SIGNATURE_BANDS,
        SIGNATURE_SHINGLES,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, text), (2, "completely different words about spark engines "
                        "running large analytics pipelines at scale")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "sig")
    bands, shingles = doc_signature_store(corpus)
    append_batch(bands, os.path.join(store, "bands"), 0)
    append_batch(shingles, os.path.join(store, "shingles"), 0)

    delta = spark.createDataFrame([(9, text)], "doc_id long, text string")

    def screen():
        sb = read_store(
            spark, SIGNATURE_BANDS, os.path.join(store, "bands")
        )
        ss = read_store(
            spark, SIGNATURE_SHINGLES, os.path.join(store, "shingles")
        )
        return minhash_pairs_from_store(sb, ss, delta, threshold=0.8)

    assert screen().count() == 1  # doc 1 pairs with its duplicate
    removed = erase_keys(
        spark, SIGNATURE_BANDS, os.path.join(store, "bands"), [1]
    ) + erase_keys(
        spark, SIGNATURE_SHINGLES, os.path.join(store, "shingles"), [1]
    )
    assert removed > 0
    assert screen().count() == 0  # as if never ingested


def test_erase_segments_of_docs_keeps_shared_content(spark, tmp_path):
    """Content-keyed erasure with the retained guard: segments unique
    to the erased doc disappear; a segment shared with a retained doc
    keeps screening duplicates of the LIVE text."""
    from etl_pipeline_challenge_aladia_spark.operators.text import (
        segment_fingerprint_store,
    )
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        SEGMENT_STORE,
        erase_segments_of_docs,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    unique = "one two three four five six seven eight"
    erased = spark.createDataFrame(
        [(1, f"{shared} {unique}")], "doc_id long, text string"
    )
    retained = spark.createDataFrame(
        [(2, f"{shared} other words fill this retained document text")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "seg")
    append_batch(
        segment_fingerprint_store(
            erased.unionByName(retained), segment_tokens=8
        ),
        store,
        0,
    )
    erase_segments_of_docs(spark, store, erased, retained_docs=retained)
    left = {
        r.seg
        for r in read_store(spark, SEGMENT_STORE, store).collect()
    }
    shared_seg = {
        r.seg
        for r in segment_fingerprint_store(
            retained, segment_tokens=8
        ).collect()
    }
    erased_only = {
        r.seg
        for r in segment_fingerprint_store(erased, segment_tokens=8).collect()
    } - shared_seg
    assert shared_seg <= left  # retained evidence intact
    assert left.isdisjoint(erased_only)  # unique content gone


def test_erase_index_keys_preserves_cell_layout(spark, tmp_path):
    """Embedding-index erasure: vectors vanish from the index reader, the
    cell-partitioned directory layout survives the rewrite (partition
    pruning still works), and untouched cells are intact."""
    from etl_pipeline_challenge_aladia_spark.streaming.embeddings import (
        EMBEDDING_INDEX,
    )

    idx = str(tmp_path / "idx")
    rows = [(v, [float(v), 1.0], 7 * v, v % 3) for v in range(12)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, dist_fx long, cell int"
    )
    df.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(idx, "batch=0")
    )
    assert erase_keys(spark, EMBEDDING_INDEX, idx, [4, 7]) == 2
    got = {r.vec_id for r in read_store(spark, EMBEDDING_INDEX, idx).collect()}
    assert got == set(range(12)) - {4, 7}
    cells = {
        e for e in os.listdir(os.path.join(idx, "batch=0"))
        if e.startswith("cell=")
    }
    assert cells == {"cell=0", "cell=1", "cell=2"}


def test_rebuild_countmin_store_is_the_sketch_erasure_path(spark, tmp_path):
    """Sketches don't subtract: rebuilding from the post-erasure corpus
    yields exactly the sketch of the retained documents."""
    from etl_pipeline_challenge_aladia_spark.streaming.docs import (
        COUNTMIN_STORE,
        _cm_cells,
        rebuild_countmin_store,
    )

    all_docs = spark.createDataFrame(
        [(1, "secret token apple apple"), (2, "public token banana")],
        "doc_id long, text string",
    )
    retained = all_docs.filter(F.col("doc_id") == 2)
    out = str(tmp_path / "cm2")
    n = rebuild_countmin_store(spark, retained, out)
    rebuilt = {
        (r.rw, r.bucket): r.n
        for r in read_store(spark, COUNTMIN_STORE, out).collect()
    }
    expect = {
        (r.rw, r.bucket): r.n
        for r in _cm_cells(retained, 4, 256).collect()
    }
    assert rebuilt == expect and n == len(expect)
    # a sketch declares no erase key, so erase_keys refuses it
    with pytest.raises(ValueError):
        erase_keys(spark, COUNTMIN_STORE, out, ["secret"])


def test_erase_crash_mid_rewrite_leaves_no_readable_trace(
    spark, tmp_path, monkeypatch
):
    """VERDICT r10 #2 (crash ordering): the denylist epoch is written
    BEFORE the physical rewrite loop, so a crash that scrubs some
    directories but not others still leaves the keys logically erased —
    invisible to readers AND to checkpoint replays — and a re-run of
    erase_keys finishes the reclamation."""
    from etl_pipeline_challenge_aladia_spark.streaming import store as st

    p = str(tmp_path / "s")
    _mk_store(spark, p)
    real_promote, calls = st._promote_dir, []

    def dying_promote(staged, d, old):
        calls.append(d)
        if len(calls) >= 2:
            raise OSError("simulated crash mid-erase")
        return real_promote(staged, d, old)

    monkeypatch.setattr(st, "_promote_dir", dying_promote)
    # keys live in BOTH batch dirs: dir 1 scrubs, dir 2 crashes
    try:
        erase_keys(spark, KV, p, [1, 12])
        raise AssertionError("crash did not propagate")
    except OSError:
        pass
    monkeypatch.setattr(st, "_promote_dir", real_promote)
    # partially scrubbed at rest: batch=1 still physically holds 12...
    raw1 = {r.k for r in spark.read.parquet(os.path.join(p, "batch=1")).collect()}
    assert 12 in raw1
    # ...but the denylist landed first, so no reader shows either key
    got = {r.k for r in read_store(spark, KV, p).collect()}
    assert got.isdisjoint({1, 12})
    # and a checkpoint replay of the unscrubbed batch changes nothing
    append_batch(
        spark.createDataFrame(
            [(10 + i, f"v{10 + i}") for i in range(5)], "k long, v string"
        ),
        p,
        1,
    )
    got = {r.k for r in read_store(spark, KV, p).collect()}
    assert got.isdisjoint({1, 12})
    # the rewrite loop is pure reclamation: a re-run finishes the job
    erase_keys(spark, KV, p, [1, 12])
    for b in ("batch=0", "batch=1"):
        raw = {r.k for r in spark.read.parquet(os.path.join(p, b)).collect()}
        assert raw.isdisjoint({1, 12})


def test_erase_swap_crash_loses_no_kept_row(spark, tmp_path, monkeypatch):
    """The physical rewrite swaps each layer through a staged copy with
    the old copy moved aside first: a crash after the old copy moved
    aside but before the rewritten one landed leaves the kept rows only
    in the moved-aside copy. The next erase_keys restores that copy
    before it lists the store, so every kept row reads back and the
    erased keys stay gone, logically and at rest."""
    p = str(tmp_path / "s")
    _mk_store(spark, p)
    real_rename, crashed = os.rename, []

    def dying_rename(src, dst):
        # the rename that installs the rewritten copy
        if src.endswith(".erasing") and not crashed:
            crashed.append(src)
            raise OSError("simulated crash mid-swap")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", dying_rename)
    try:
        erase_keys(spark, KV, p, [1])
        raise AssertionError("crash did not propagate")
    except OSError:
        pass
    monkeypatch.setattr(os, "rename", real_rename)
    erase_keys(spark, KV, p, [1])
    kept = [0, 2, 3, 4, 10, 11, 12, 13, 14]
    assert sorted(r.k for r in read_store(spark, KV, p).collect()) == kept
    raw = spark.read.parquet(os.path.join(p, "batch=0"), os.path.join(p, "batch=1"))
    assert sorted(r.k for r in raw.collect()) == kept
    assert sorted(os.listdir(p)) == ["batch=0", "batch=1", "erased"]
