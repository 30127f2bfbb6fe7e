"""Similarity/dedup operator tests: the LSH path must agree with the exact
brute-force baseline on the planted near-duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.operators.similarity import (
    brute_force_topk,
    minhash_near_dup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from etl_pipeline_challenge_aladia_spark.sources.files import load_table


def test_minhash_matches_brute_force(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    brute = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in minhash_near_dup_pairs(docs, threshold=0.8).collect()
    }
    assert len(brute) > 0, "corpus should contain planted near-duplicates"
    # exact-verify step makes LSH precision exact; banding should not lose
    # any pair at jaccard >= 0.8 on this corpus
    assert lsh == brute


def test_minhash_signatures_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    a = {r["id"]: r["signature"] for r in minhash_signatures(docs).collect()}
    b = {r["id"]: r["signature"] for r in minhash_signatures(docs).collect()}
    assert a == b
    assert all(len(s) == 64 for s in a.values())


def test_brute_force_topk_self_similarity(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # query against the full set including itself: rank 1 must be itself
    out = brute_force_topk(emb, queries, k=1)
    rows = {r["query_id"]: r for r in out.collect()}
    for qid, r in rows.items():
        assert r["neighbor_id"] == qid
        assert r["cos_sim"] == 1.0


def test_cosine_pairs_blocked_equals_fold_baseline(spark, sf_dir):
    """The blocked-GEMM all-pairs cosine must be result-identical to the
    fold-based baseline: same ids, same rounded similarity."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_blocked,
    )
    from etl_pipeline_challenge_aladia_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    fold = {
        (r["vec_id_a"], r["vec_id_b"]): r["cos_sim"]
        for r in cosine_pairs(emb, threshold=0.3).collect()
    }
    blocked = {
        (r["vec_id_a"], r["vec_id_b"]): r["cos_sim"]
        for r in cosine_pairs_blocked(emb, threshold=0.3, blocks=4).collect()
    }
    assert set(fold) == set(blocked)
    diffs = [k for k in fold if abs(fold[k] - blocked[k]) > 1e-12]
    assert not diffs, f"rounded similarity drift on {len(diffs)} pairs: {diffs[:5]}"


def test_pq_model_shapes_and_codes(spark, sf_dir):
    """PQ model sanity: every vector gets exactly one code per block, codes
    index into the blocks x k codebook, reconstruction errors are
    non-negative, and the codebook is broadcast-sized."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.similarity import pq_model
    from etl_pipeline_challenge_aladia_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    codes, books = pq_model(emb, blocks=4, k=4, iters=2)
    assert codes.count() == n * 4
    assert codes.groupBy("id").count().filter("count != 4").count() == 0
    assert codes.filter("code < 1 or code > 4").count() == 0
    assert codes.filter("dist_fx < 0").count() == 0
    b = books.collect()
    assert len(b) == 16  # 4 blocks x k=4
    assert all(len(r["centroid"]) == 16 for r in b)  # 64 dims / 4 blocks


def test_shared_span_pairs_order_sensitive(spark):
    """Spans are ORDER-sensitive: a doc sharing an 8-token run is paired;
    a doc with the same tokens shuffled (high Jaccard, no shared run) is
    not. The df-cap drops boilerplate spans."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        shared_span_pairs,
    )

    run = " ".join(f"t{i}" for i in range(10))  # 10-token run -> 3 spans of 8
    shuffled = " ".join(f"t{i}" for i in reversed(range(10)))
    docs = spark.createDataFrame(
        [
            (1, run + " tail1 a b"),
            (2, "head2 x " + run),
            (3, shuffled + " other c d"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["n_shared_spans"]
        for r in shared_span_pairs(docs, span_tokens=8).collect()
    }
    assert got == {(1, 2): 3}  # the run's 3 overlapping spans, nothing else

    # boilerplate: a span present in EVERY doc dies at the df cap
    many = [(i, "common " + run + f" uniq{i}") for i in range(10)]
    boiler = spark.createDataFrame(many, ["doc_id", "text"])
    assert shared_span_pairs(boiler, span_tokens=8, df_cap=5).count() == 0


def test_semantic_dedup_min_id_survivorship(spark):
    """Exact/near twins collapse to the lowest-id representative; distant
    vectors in the same cell survive."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        semantic_dedup,
    )

    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.001, 0.0, 0.0]
    far = [0.0, 1.0, 0.0, 0.0]
    rows = [(10, base), (11, near), (12, far), (13, base)]
    emb = spark.createDataFrame(rows, ["vec_id", "e"])
    got = {
        r["vec_id"]: (r["canonical_id"], r["max_cos"])
        for r in semantic_dedup(emb, k=2, threshold=0.95, vec_col="e").collect()
    }
    assert set(got) == {11, 13}  # dups of 10; 12 survives, 10 canonical
    assert got[13] == (10, 1.0)
    assert got[11][0] == 10 and got[11][1] >= 0.99


def test_hard_negative_topk_excludes_same_label(spark):
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        hard_negative_topk,
    )

    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [0.99, 0.14]),   # same label: must never appear
        (2, 1, [0.95, 0.31]),   # hardest negative
        (3, 1, [0.0, 1.0]),     # easy negative
        (4, 2, [0.9, 0.44]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    q = spark.createDataFrame([(0, 0, [1.0, 0.0])], ["query_id", "label", "embedding"])
    got = hard_negative_topk(emb, q, k=3).collect()
    assert [r["neighbor_id"] for r in got] == [2, 4, 3]  # by cos desc
    assert all(r["cand_label"] != 0 for r in got)
    assert got[0]["rnk"] == 1


def test_unrolled_vector_ops_bit_equal_fold(spark):
    """The dim-unrolled dot/norm/cosine variants must be bit-identical
    to the sequential folds (same summation order)."""
    import random

    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.functions.vectors import (
        cosine_similarity_col,
        dot_col,
        norm_col,
    )

    rng = random.Random(3)
    rows = [
        (
            [rng.uniform(-2, 2) for _ in range(16)],
            [rng.uniform(-2, 2) for _ in range(16)],
        )
        for _ in range(100)
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    a, b = F.col("a"), F.col("b")
    mism = df.select(
        (dot_col(a, b) != dot_col(a, b, 16)).alias("d"),
        (norm_col(a) != norm_col(a, 16)).alias("n"),
        (cosine_similarity_col(a, b) != cosine_similarity_col(a, b, 16)).alias("c"),
    ).filter("d or n or c")
    assert mism.count() == 0


def test_semantic_dedup_auto_k_scales_with_corpus(spark):
    """k=None (the default) derives k from the corpus: floor(sqrt(n/iters))
    floored at 32 — and the result is EXACTLY what the same explicit k
    yields, so auto-k changes performance, never semantics. The duplicate
    pair planted in a 3500-vector corpus is found under both."""
    import math

    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        auto_semantic_k,
        semantic_dedup,
    )

    n = 3500
    k_expected = max(32, auto_semantic_k(n))  # floor(sqrt(3500/3)) = 34
    assert k_expected == 34 > 32  # the auto path actually engages here
    # deterministic spread-out corpus + one planted near-twin of vec 7
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
    corpus = base.unionByName(twin)
    auto = {
        r["vec_id"]: (r["canonical_id"], r["max_cos"])
        for r in semantic_dedup(corpus, threshold=0.99, vec_col="e").collect()
    }
    explicit = {
        r["vec_id"]: (r["canonical_id"], r["max_cos"])
        for r in semantic_dedup(
            corpus, k=k_expected, threshold=0.99, vec_col="e"
        ).collect()
    }
    assert auto == explicit
    assert auto[99999][0] == 7  # the planted twin collapses to its source

    # the formula itself: argmin of iters*n*k + n^2/k, floored
    for nn, it in ((550, 3), (22000, 3), (1_000_000, 3)):
        assert auto_semantic_k(nn, it) == int(math.floor(math.sqrt(nn / it)))


def test_cell_drift_flags_shifted_population(spark):
    """assign_to_centroids routes vectors to the frozen quantizer exactly
    like training-time assignment, and cell_drift's occupancy comparison
    flags a delta population concentrated in one region: the favored
    cell's drift_permille is strongly positive, shares sum to ~0, and
    (n_train, n_delta) account for every vector exactly once."""
    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.sampling import (
        hash_bucket_col,
    )
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        assign_to_centroids,
        cell_drift,
        kmeans_with_centroids,
    )

    # two well-separated blobs around (0,0) and (10,10); ids 0..999
    base = spark.range(1000).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 2) * 10 + F.sin(F.col("id") * 0.7) * 0.1,
            (F.col("id") % 2) * 10 + F.cos(F.col("id") * 1.3) * 0.1,
        ).alias("e"),
    )
    # the id-hash delta slice (buckets >= 800) is forced into blob 1:
    # shift every delta row's vector to the (10,10) region
    b = hash_bucket_col(F.col("vec_id"), 1000)
    shifted = base.withColumn(
        "e",
        F.when(
            b >= 800,
            F.transform("e", lambda x: x % 10 + F.lit(10.0)),
        ).otherwise(F.col("e")),
    )
    out = {r["cluster"]: r for r in cell_drift(shifted, k=2, vec_col="e").collect()}
    n_train = sum(r["n_train"] for r in out.values())
    n_delta = sum(r["n_delta"] for r in out.values())
    assert n_train + n_delta == 1000 and n_delta > 0
    drifts = [r["drift_permille"] for r in out.values()]
    assert max(drifts) > 300  # the favored cell gained a large share
    assert abs(sum(drifts)) <= len(drifts)  # floors cancel to ~0

    # routing parity: assigning the TRAIN slice to its own frozen
    # centroids reproduces the training assignment bit-for-bit
    train = shifted.filter(hash_bucket_col(F.col("vec_id"), 1000) < 800)
    assigned, cents = kmeans_with_centroids(train, k=2, vec_col="e")
    rerouted = assign_to_centroids(train, cents, vec_col="e")
    a = {(r["id"], r["cluster"], r["dist_fx"]) for r in assigned.collect()}
    b2 = {(r["id"], r["cluster"], r["dist_fx"]) for r in rerouted.collect()}
    assert a == b2


def test_tune_nprobe_picks_smallest_sufficient_probe_count(spark):
    """Recall-driven nprobe selection: a query sitting between two cells
    needs nprobe=2 to recover its exact top-k (nprobe=1 misses the
    second cell's neighbors); tune_nprobe returns exactly that, with
    the achieved recall, and returns the cell count when the target is
    unreachable... which full probing makes impossible (recall@k is
    1000 at nprobe=n_cells by construction)."""
    import math

    from pyspark.sql import functions as F

    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        tune_nprobe,
    )

    def vec(ang):
        return [math.cos(ang), math.sin(ang)]

    # three cells around 0.07, 0.52 and 2.57 rad; the query at 0.3 rad
    # has its true top-4 split 2/2 across cells 0 and 1 (angular gaps
    # 0.15/0.16/0.17/0.18 alternate between the cells, no cosine ties)
    rows = []
    for i in range(8):
        rows.append((i, 0, vec(0.0 + i * 0.02)))
        rows.append((100 + i, 1, vec(0.45 + i * 0.02)))
        rows.append((200 + i, 2, vec(2.5 + i * 0.02)))
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    q = spark.createDataFrame(
        [(0, vec(0.3))], "query_id long, embedding array<double>"
    )

    # sanity: nprobe=1 really is insufficient for k=4
    exact = {
        r["neighbor_id"]
        for r in brute_force_topk(emb, q, k=4).collect()
    }
    one = {
        r["neighbor_id"]
        for r in ivf_topk(emb, q, dim=2, k=4, nprobe=1).collect()
    }
    assert exact != one and len(exact) == 4

    nprobe, recall = tune_nprobe(emb, q, dim=2, k=4,
                                 target_recall_permille=1000)
    assert nprobe == 2 and recall == 1000
    # a lax target is satisfied by the first probe level that meets it
    nprobe_lax, recall_lax = tune_nprobe(
        emb, q, dim=2, k=4, target_recall_permille=500
    )
    assert nprobe_lax == 1 and 500 <= recall_lax < 1000


def test_lsh_band_stats_mass_identities_and_hub_detection(spark):
    """Occupancy histogram invariants: every (doc, band) row lands in
    exactly one bucket (sum of size*count == n_docs * bands), and a
    family of identical documents forms hub buckets of exactly the
    family size in every band."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        lsh_band_stats,
    )

    dup = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, dup) for i in range(6)]
    rows += [(100 + i, f"unique text block number {i} with tokens t{i} u{i} v{i} w{i}")
             for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    stats = {r["bucket_size"]: r for r in lsh_band_stats(docs, bands=16).collect()}
    assert sum(s * r["n_buckets"] for s, r in stats.items()) == 10 * 16
    # the 6 identical docs share every band key: 16 hub buckets of size 6
    assert stats[6]["n_buckets"] == 16
    assert stats[6]["n_candidate_pairs"] == 16 * (6 * 5 // 2)


def test_lsh_band_validation_rejects_non_divisors(spark):
    """A band count that does not divide num_perm would silently drop
    the trailing permutations and audit/tune a weaker sketch than
    requested — both entry points must refuse it up front."""
    from etl_pipeline_challenge_aladia_spark.operators.similarity import (
        lsh_band_stats,
        tune_bands,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="divide num_perm"):
        lsh_band_stats(docs, bands=24, num_perm=64)
    with pytest.raises(ValueError, match="divide"):
        tune_bands(docs, candidate_bands=(8, 24), num_perm=64)
